package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text cleansing for training-data ingestion: canonicalization, PII
  * redaction, and corpus-wide line-level boilerplate removal — the steps a
  * pipeline runs BEFORE content-keyed operators (dedup, fingerprinting),
  * because un-normalized or boilerplate-wrapped text defeats content
  * hashing.
  *
  * Scale shapes: [[normalizeText]] and [[redactPii]] are pure per-row
  * column expressions (no shuffle, whole-stage codegen'd);
  * [[removeBoilerplateLines]] shuffles `(line, doc)` pairs twice on the
  * line key — both stages bounded by distinct-line cardinality, never
  * quadratic, and the hot boilerplate lines collapse map-side in partial
  * aggregation.
  */
object Cleanse {

  /** Canonical text normalization: Unicode NFC (composed forms — see
    * [[graft.functions.NfcNormalize]]), control characters and NBSP to
    * spaces, whitespace runs collapsed to one space, ends trimmed. After
    * this, byte-equality means text-equality for the usual crawl-noise
    * equivalence classes, so exact dedup and shingle hashing behave.
    *
    * Every step is engine-portable: DuckDB replays it as
    * `trim(regexp_replace(regexp_replace(nfc_normalize(t), ctrl, ' ', 'g'),
    * '\s+', ' ', 'g'))`. The control-class replacement runs FIRST so the
    * Java-vs-RE2 disagreement about `\s` (Java includes `\x0B`, RE2 does
    * not) is moot — `\x0B` is already a plain space by the collapse step. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.NfcNormalize(text),
        "[\\x00-\\x1F\\x7F\\u00A0]", " "),
      " +", " "))

  // PII patterns restricted to the regex subset Java and RE2 parse
  // identically (no backrefs, no lookaround, no \b-adjacent unicode):
  // local@domain.tld; dotted-quad with 1-3 digit octets; international
  // phone shapes (+country, separators) with >= 7 digits total.
  // THE one pattern set engine-wide: TextOps.piiReport censuses these
  // same constants, so the audit counts exactly what redactPii removes.
  private[ext] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ext] val Ipv4Re =
    "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  private[ext] val PhoneRe =
    "\\+[0-9][0-9 ()./-]{5,18}[0-9]"

  /** PII redaction: emails → `<EMAIL>`, IPv4 literals → `<IP>`,
    * international-format phone numbers → `<PHONE>` — the standard scrub a
    * training pipeline applies before text leaves the ingest boundary.
    * Order matters and is fixed: emails first (their local parts can
    * contain digit runs a phone pattern would eat), then IPs (dotted
    * quads), then phones (which by then can only match digit runs that
    * survived both). Pure column algebra, three codegen'd regex passes.
    *
    * Scope note: only unambiguous international (`+`-prefixed) phone
    * shapes are redacted — bare 7-digit runs are more often quantities,
    * ids, or timestamps than phone numbers, and a false redaction
    * destroys training signal silently. Widen per-deployment as policy
    * dictates. */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Re, "<IP>")
    regexp_replace(noIp, PhoneRe, "<PHONE>")
  }

  /** Payment-card candidate runs: 13-24 chars of digits with optional
    * single spaces/dashes, digit-anchored at both ends — the
    * RE2-common subset (no lookaround), the [[PhoneRe]] discipline.
    * A CANDIDATE is only PII once [[luhnValid]] confirms it; bare
    * digit runs (ids, timestamps) fail the checksum and stay. */
  private[ext] val CcCandRe = "[0-9][0-9 -]{11,22}[0-9]"

  /** ISO/IEC 7812 Luhn checksum over a DIGITS-ONLY string — the check
    * every real PII scrubber (e.g. presidio) runs before redacting a
    * card-shaped digit run: from the right, double every second
    * digit, subtract 9 when the double exceeds 9, and the total must
    * be ≡ 0 (mod 10). Pure integer column algebra (one `aggregate`
    * fold over digit positions) — engine-portable, the oracle replays
    * it digit for digit. */
  def luhnValid(num: Column): Column = {
    val n = length(num)
    val total = aggregate(sequence(lit(0), n - 1), lit(0), (acc, i) => {
      val d = num.substr(n - i, lit(1)).cast("int")
      val dd = when(i % 2 === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      acc + dd
    })
    total % 10 === 0
  }

  /** Credit-card census + redaction — the Luhn-validated PII tier the
    * x32/x161 pattern scrub cannot cover (a card number is only PII
    * when its CHECKSUM validates; redacting every 16-digit run would
    * eat order ids and timestamps). Per document: candidate runs
    * ([[CcCandRe]]), the Luhn-valid subset (13-19 digits after
    * separator strip — the ISO/IEC 7812 length range), and `redacted`
    * with every VALID candidate MATCH replaced by `<CC>`.
    *
    * Redaction is BY MATCH POSITION, not by substring value: the text
    * splits on the same candidate pattern (both passes use one regex
    * engine, so the match spans are identical), each candidate slots
    * back between its neighboring segments — `<CC>` when its checksum
    * validates, verbatim otherwise. A value-based global replace would
    * also rewrite a valid card string occurring INSIDE a longer
    * invalid digit run the checksum never blessed (e.g. a 21-digit id
    * containing 16 valid digits) — the positional rebuild cannot touch
    * text outside a validated span. Pure per-row column algebra: zero
    * shuffle at any corpus size, stream-valid. */
  def ccReport(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val cands = regexp_extract_all(col(textCol), lit(CcCandRe), lit(0))
    def digitsOf(c: Column) = regexp_replace(c, "[^0-9]", "")
    def isValid(c: Column): Column = {
      val num = digitsOf(c)
      length(num) >= 13 && length(num) <= 19 && luhnValid(num)
    }
    val valids = filter(cands, isValid(_))
    // segs(i) + cands(i) + segs(i+1) + … + segs(last) IS the text:
    // split(limit = -1) keeps leading/trailing empty segments, so the
    // interleave is exact by construction
    val segs = split(col(textCol), CcCandRe, -1)
    val redacted = concat(
      array_join(zip_with(slice(segs, lit(1), size(cands)), cands,
        (s, c) => concat(s,
          when(isValid(c), lit("<CC>")).otherwise(c))), ""),
      element_at(segs, -1))
    docs.select(col(idCol),
      size(cands).cast("long").as("n_candidates"),
      size(valids).cast("long").as("n_valid_cc"),
      redacted.as("redacted"))
  }

  /** THE line-hash primitive engine-wide: FNV-1a 64 over the line's
    * UTF-8 bytes (via `RollingFnvFingerprint` on a one-element array —
    * `rotl5(0) = 0`, so the rolling mix is the identity and the result
    * IS `fnv1a64(line)`). FNV is a published spec the DuckDB oracle
    * recomputes byte-for-byte (the x10 replay), unlike `xxhash64` —
    * one primitive for every line-keyed operator here and in
    * [[TextOps.lineBoilerplate]]/[[TextOps.repetitionSignals]], so two
    * operators can never disagree on what "the same line" means. */
  private[ext] def lineHash(line: Column): Column =
    graft.functions.HashExprs.rolling_fnv_fingerprint(array(line))

  /** Shared per-(doc, line) kernel for every line-keyed operator:
    * `(idCol, pos, line, h, len)` where `pos` is the line's 0-based
    * index in the ORIGINAL split (dropping empties does not renumber),
    * `h` = [[lineHash]], `len` = char length. `dropEmpty = true`
    * removes trim-empty lines (the census policy — an empty line
    * carries no content signal and is the one df/skew bomb);
    * `dropEmpty = false` keeps them (the rewrite policy —
    * [[removeBoilerplateLines]] must reassemble documents verbatim, and
    * the corpus-df gate itself drops ubiquitous empties anyway). Both
    * policies, one split/hash/position definition. */
  private[ext] def lineTable(docs: DataFrame, textCol: String,
                             idCol: String, sep: String,
                             dropEmpty: Boolean): DataFrame = {
    val base = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val kept =
      if (dropEmpty) base.filter(length(trim(col("line"))) > 0) else base
    kept.select(col(idCol), col("pos").cast("long").as("pos"), col("line"),
      lineHash(col("line")).as("h"),
      length(col("line")).cast("long").as("len"))
  }

  /** Corpus-wide line-level boilerplate removal (the CCNet/RefinedWeb
    * step): a line that occurs in `minDf` or more DISTINCT documents is
    * template chrome ("subscribe to our newsletter", cookie banners,
    * nav bars), not content — drop it from every document and reassemble
    * the survivors in original order.
    *
    * Output: `(doc_id, text, n_lines, n_kept)` — `text` is the cleaned
    * document (empty string when every line was boilerplate; the document
    * row itself is never dropped, so downstream joins see the full
    * corpus).
    *
    * 100 TB posture: document frequency is computed on the line's 64-bit
    * [[lineHash]], not the line string — the two aggregation shuffles carry
    * `(long, long)` pairs, and the df table is bounded by distinct-line
    * cardinality (map-side partial aggregation collapses each hot
    * boilerplate line to one row per task). The df side joins back to the
    * exploded lines on the hash — a plain shuffled equi-join; for corpora
    * where the boilerplate table is small (it usually is: df >= minDf is
    * a tiny survivor set), Spark's AQE converts it to a broadcast join at
    * runtime. Collision odds on 64-bit hashes are ~n²/2⁶⁵ across
    * distinct lines — at 10¹⁰ lines that is ~0.003, and a collision
    * costs one wrongly-dropped line, not a wrong corpus. */
  def removeBoilerplateLines(docs: DataFrame, minDf: Long,
                             textCol: String = "text",
                             sep: String = "\n"): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val lines = lineTable(docs, textCol, "doc_id", sep, dropEmpty = false)
    val boiler = boilerplateLineSet(docs, minDf, textCol, sep)
    val kept = lines.join(boiler, Seq("h"), "left_anti")
    val reassembled = kept.groupBy("doc_id")
      .agg(array_join(transform(
             sort_array(collect_list(struct(col("pos"), col("line")))),
             s => s.getField("line")), sep).as("clean_text"),
           count(lit(1)).as("n_kept"))
    docs
      .select(col("doc_id"),
        (size(split(col(textCol), java.util.regex.Pattern.quote(sep))))
          .cast("long").as("n_lines"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("text"),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** The boilerplate CENSUS half of [[removeBoilerplateLines]], as a
    * persistable per-snapshot artifact: the 64-bit line hashes
    * appearing in `minDf` or more DISTINCT documents (per-doc distinct
    * first so in-doc repeats count once). A streaming ingest gate
    * cannot see corpus-wide document frequency, so the batch job
    * persists THIS table on the corpus snapshot cadence and the
    * stream censors against it ([[censorLinesAgainst]]) — the stored-
    * index discipline of the minhash/DSIR gates applied to the line
    * tier. Bounded by distinct boilerplate lines (the df ≥ minDf
    * survivor set is tiny), so it broadcasts. */
  def boilerplateLineSet(docs: DataFrame, minDf: Long,
                         textCol: String = "text",
                         sep: String = "\n"): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    lineTable(docs, textCol, "doc_id", sep, dropEmpty = false)
      .select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("h")
  }

  /** The CENSOR half of [[removeBoilerplateLines]] against a GIVEN
    * boilerplate set — the streaming twin: per-row line explode, one
    * stateless (stream-static) left-anti join on the line hash, and
    * EXACTLY ONE stateful aggregation (the in-order reassembly).
    * `passthrough` columns (constant per document, e.g. `source`)
    * ride the explode and come back via `first()`.
    *
    * Contract difference from the batch operator, forced by the
    * stream shape: a document whose EVERY line is boilerplate emits
    * NOTHING (the batch form emits it with `n_kept = 0`) — the
    * corpus-build composition filters `n_kept > 0` immediately, so
    * the two prefixes agree on exactly the surviving rows
    * (StreamingSpec pins it). */
  def censorLinesAgainst(docs: DataFrame, boiler: DataFrame,
                         textCol: String = "text", sep: String = "\n",
                         passthrough: Seq[String] = Nil): DataFrame = {
    val qsep = java.util.regex.Pattern.quote(sep)
    val base = docs.select(
      col("doc_id") +: passthrough.map(col) :+
        size(split(col(textCol), qsep)).cast("long").as("n_lines") :+
        posexplode(split(col(textCol), qsep)).as(Seq("pos", "line")): _*)
    val kept = base.withColumn("h", lineHash(col("line")))
      .join(boiler.select("h"), Seq("h"), "left_anti")
    val aggs = passthrough.map(c => first(col(c)).as(c)) ++ Seq(
      first(col("n_lines")).as("n_lines"),
      array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("line")))),
        s => s.getField("line")), sep).as("text"),
      count(lit(1)).as("n_kept"))
    kept.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id") +: passthrough.map(col) :+ col("text") :+
        col("n_lines") :+ col("n_kept"): _*)
  }

  /** Rare-token scrub — closed-vocabulary UNK-ing doubling as rare-
    * identifier suppression: any token appearing in fewer than `minDf`
    * DISTINCT documents is replaced by `unk` (a token unique to a
    * handful of documents is both useless to a word-level model and a
    * re-identification handle — the df-threshold mirror of
    * [[removeBoilerplateLines]]' high-df cut). Per doc: token count,
    * scrub count, and the rebuilt text in original token order.
    *
    * The x33 census shape at 100 TB: exchanges carry (doc_id, pos,
    * term) triples; the df table is ONE term-keyed distinct-doc count
    * bounded by vocabulary size; reassembly is a doc-keyed sort of
    * in-doc positions. Docs with no tokens are dropped. */
  def rareTokenScrub(docs: DataFrame, minDf: Long,
                     textCol: String = "text",
                     unk: String = "<unk>"): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val toks = TextOps.words(col(textCol))
    val positioned = docs
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "term")))
    val dfq = positioned.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scrubbed = positioned.join(dfq, "term")
      .select(col("doc_id"), col("pos"),
        when(col("df") < minDf, lit(unk)).otherwise(col("term"))
          .as("term2"),
        when(col("df") < minDf, 1L).otherwise(0L).as("sc"))
    scrubbed.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum("sc").as("n_scrubbed"),
           array_join(transform(
             sort_array(collect_list(struct(col("pos"), col("term2")))),
             s => s.getField("term2")), " ").as("text"))
  }
}
