package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** ARPA n-gram language-model file — the Doug B. Paul interchange
  * format every n-gram toolchain reads and writes (SRILM's `ngram`,
  * KenLM's `lmplz`/`build_binary`, CMU-Cambridge SLM): a `\data\`
  * header with per-order counts, then `\N-grams:` sections of
  *
  *   `log10prob<TAB>w1 [w2 …][<TAB>log10backoff]`
  *
  * terminated by `\end\`. CCNet-style perplexity filtering ships its
  * KenLM models in exactly this format, so the KN tier's model half
  * (x144's chain) gets a real artifact boundary: train → write ARPA →
  * reload → score, the BM25/DSIR stored-lifecycle discipline. The
  * reader/writer is ORDER-N (KenLM's production default is 5); the
  * bigram model of earlier rounds is the n = 2 special case.
  *
  * QUANTIZATION CONTRACT: every log10 value is written HALF-UP at
  * 9 dp (`BigDecimal.setScale(9)` — the suite's libm rule, matching
  * Spark's and DuckDB's `round(x, 9)`), rendered as the exact 9-dp
  * decimal string. Parsing that string back yields the double nearest
  * the 9-dp decimal — the SAME double the writer's in-memory model
  * holds — so write → read is EXACT on the quantized values and the
  * artifact is byte-deterministic. N-grams missing a probability
  * (vocabulary/context entries) carry `-99` (the SRILM zeroprob
  * convention); the backoff field is OMITTED for grams that never
  * head a higher-order gram (log-backoff 0 = multiplier 1),
  * exercising the format's optional-field rule.
  *
  * ORDERING CONTRACT: sections sort by the gram's words under UTF-8
  * BYTE order — the collation Spark's string sort uses — so the
  * driver-side [[render]] and the distributed [[writeLevels]] emit
  * byte-identical files for the same model. */
object Arpa {

  /** Order-n model: `grams(k-1)` maps each k-gram (as a word vector)
    * to `(log10 prob, log10 backoff)`; backoff 0.0 means omitted (the
    * format's optional third field), and is structurally 0 at the top
    * level, which nothing backs off INTO. */
  case class Model(order: Int,
                   grams: Vector[Map[Vector[String], (Double, Double)]]) {
    require(order >= 1 && grams.length == order,
      s"order $order needs exactly $order gram levels, got ${grams.length}")

    /** Bigram-era accessors (the n = 2 views specs and the stored
      * scorer's documentation still speak in). */
    def unigrams: Map[String, (Double, Double)] =
      grams(0).map { case (g, v) => g.head -> v }
    def bigrams: Map[(String, String), Double] = {
      require(order >= 2, s"no bigram section in an order-$order model")
      grams(1).map { case (g, v) => (g(0), g(1)) -> v._1 }
    }
  }

  /** Convenience constructor for the historical bigram shape. */
  def bigramModel(unigrams: Map[String, (Double, Double)],
                  bigrams: Map[(String, String), Double]): Model =
    Model(2, Vector(
      unigrams.map { case (w, v) => Vector(w) -> v },
      bigrams.map { case ((a, b), lp) => Vector(a, b) -> ((lp, 0.0)) }))

  /** HALF-UP 9-dp quantization of a double — the value every log10
    * in the artifact carries. */
  def q9(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  private def fmt(x: Double): String =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).toPlainString

  /** UTF-8 byte-order string comparison — Spark's UTF8String
    * collation, so driver-side sorts agree with `orderBy`. */
  private[graft] def compareUtf8(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private def compareGrams(a: Vector[String], b: Vector[String]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = compareUtf8(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private val gramOrdering: Ordering[Vector[String]] =
    (a: Vector[String], b: Vector[String]) => compareGrams(a, b)

  private def rowString(gram: Seq[String], lp: Double, lbow: Double)
  : String = {
    gram.foreach(w => require(!w.exists(_.isWhitespace),
      s"token '$w' contains whitespace — unrepresentable in ARPA"))
    if (lbow == 0.0) s"${fmt(lp)}\t${gram.mkString(" ")}\n"
    else s"${fmt(lp)}\t${gram.mkString(" ")}\t${fmt(lbow)}\n"
  }

  def render(m: Model): String = {
    val sb = new StringBuilder
    sb.append("\\data\\\n")
    (1 to m.order).foreach(k =>
      sb.append(s"ngram $k=${m.grams(k - 1).size}\n"))
    sb.append("\n")
    (1 to m.order).foreach { k =>
      sb.append(s"\\$k-grams:\n")
      m.grams(k - 1).toSeq.sortBy(_._1)(gramOrdering)
        .foreach { case (g, (lp, lbow)) => sb.append(rowString(g, lp, lbow)) }
      sb.append("\n")
    }
    sb.append("\\end\\\n")
    sb.toString
  }

  def parse(text: String): Model = {
    val lines = text.split("\n", -1).iterator.map(_.stripLineEnd)
    val SectionRe = """\\(\d+)-grams:""".r
    val HeaderRe = """ngram (\d+)=(\d+)""".r
    var order = 0
    var section = 0 // 0 = header, k = inside \k-grams:, -1 = past \end\
    val levels = scala.collection.mutable.Map[
      Int, scala.collection.mutable.Map[Vector[String], (Double, Double)]]()
    lines.foreach { line =>
      val t = line.trim
      if (t == "\\end\\") section = -1
      else SectionRe.findFirstMatchIn(t) match {
        case Some(mm) =>
          section = mm.group(1).toInt
          levels.getOrElseUpdate(section,
            scala.collection.mutable.Map.empty)
        case None => HeaderRe.findFirstMatchIn(t) match {
          case Some(hm) if section == 0 =>
            order = math.max(order, hm.group(1).toInt)
            levels.getOrElseUpdate(hm.group(1).toInt,
              scala.collection.mutable.Map.empty)
          case _ =>
            if (t.nonEmpty && !t.startsWith("\\") && section > 0) {
              val f = t.split("\t")
              // a body line without a tab-separated gram field (stray
              // header text, a truncated row) is a corrupt file — name
              // it instead of throwing ArrayIndexOutOfBounds at f(1)
              require(f.length >= 2,
                s"malformed ARPA row '$t' in \\$section-grams:")
              val ws = f(1).split(" ").toVector
              require(ws.length == section,
                s"${ws.length}-word gram '${f(1)}' in \\$section-grams:")
              val lbow = if (f.length > 2) f(2).toDouble else 0.0
              levels(section) += ws -> ((f(0).toDouble, lbow))
            }
        }
      }
    }
    val n = math.max(order, if (levels.isEmpty) 0 else levels.keys.max)
    require(n >= 1, "no n-gram sections found")
    Model(n, (1 to n).map(k =>
      levels.getOrElse(k, scala.collection.mutable.Map.empty[
        Vector[String], (Double, Double)]).toMap).toVector)
  }

  def write(path: String, m: Model): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, render(m).getBytes(StandardCharsets.UTF_8))
  }

  /** Driver-heap ceiling for [[read]] — the KenLM-shaped contract:
    * a model you load whole is a CAPPED + PRUNED artifact (x220's
    * bounds), which at production vocabulary sizes stays in the tens
    * of MB. 256 MB of ARPA text is far past any sane bounded model
    * and well under driver heap, so the guard never bites a
    * legitimate artifact and turns the unbounded-model mistake from
    * a driver OOM into a one-line diagnosis. */
  val MaxReadBytes: Long = 256L << 20

  /** Whole-file reader for BOUNDED models (the broadcast-lookup
    * scoring route). Guarded mirroring the safetensors render limit
    * (`Safetensors.scala`): an artifact past [[MaxReadBytes]] is an
    * unpruned model nobody should hold in one heap — fail loud and
    * point at the distributed route ([[readLevels]] /
    * [[graft.ext.TextOps.knScoreStoredArpaLevels]]) instead of
    * OOMing the driver mid-broadcast.
    *
    * The PARSE is memoized ([[graft.ArtifactMemo]], keyed by the
    * file's path, size and mtime) — the KenLM posture: a scoring
    * service maps the model once and serves every request from it;
    * re-tokenizing megabytes of ARPA text per query is pure waste (the
    * parse, not the scoring, dominated x210's bench time). The key
    * invalidates when the artifact is retrained in place; one live
    * model bounds retained heap, and the cached [[Model]] is
    * immutable. */
  def read(path: String): Model =
    graft.ArtifactMemo("arpa_model", Seq(path)) {
      val p = Paths.get(path)
      val sz = Files.size(p)
      require(sz <= MaxReadBytes,
        s"ARPA artifact $path is $sz bytes — past the $MaxReadBytes-byte " +
          "driver-load ceiling for the broadcast scoring route. A model " +
          "this size should be trained with vocabSize + prune bounds " +
          "(knArpaLevels), or scored through the distributed level-table " +
          "route (Arpa.readLevels / knScoreStoredArpaLevels)")
      parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    }

  /** DISTRIBUTED reader — the big-model half of the stored-LM
    * lifecycle, closing the write/read asymmetry: [[writeLevels]]
    * streams a model OUT without ever holding it whole, and this
    * reads one back the same way. The ARPA text parses as a
    * DataFrame (`spark.read.text`; a body row is
    * `lp<TAB>w1 … wk[<TAB>bow]`, so the level is the gram field's
    * word count and no line needs section context — headers,
    * section markers and `\end\` carry no TAB and filter out), and
    * the parse lands ONCE in a parquet sidecar at `<path>.levels`
    * partitioned by level, so per-level consumers get pruned,
    * column-pruned, stats-bearing scans instead of 2n−1 rescans of
    * the text. Returns the sidecar frame:
    * `(key: string, lp: double, bow: double, k: int)` with `key`
    * the space-joined gram — the scorers' join key verbatim.
    *
    * The sidecar is derived state: byte-determined by the artifact
    * (same rows, 9-dp-quantized values), built under a JVM-wide
    * lock on first use, keyed complete by parquet's `_SUCCESS`
    * marker. Scoring through these frames instead of [[read]]'s
    * driver maps is [[graft.ext.TextOps.knScoreStoredArpaLevels]] —
    * the route whose model side Catalyst is free to broadcast when
    * small and sort-merge when not. */
  def readLevels(spark: org.apache.spark.sql.SparkSession,
                 path: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, get, lit, size,
      split}
    val sidecar = path + ".levels"
    Arpa.synchronized {
      // derived state must track its source: a sidecar older than the
      // artifact (the model was retrained in place) rebuilds instead
      // of silently scoring against the previous snapshot
      val marker = Paths.get(sidecar, "_SUCCESS")
      val stale = Files.exists(marker) &&
        Files.getLastModifiedTime(Paths.get(path))
          .compareTo(Files.getLastModifiedTime(marker)) > 0
      if (stale || !Files.exists(marker)) {
        graft.io.LocalFs.write(spark.read.text(path)
          .filter(col("value").contains("\t"))
          .select(split(col("value"), "\t").as("f"))
          .select(
            get(col("f"), lit(1)).as("key"),
            get(col("f"), lit(0)).cast("double").as("lp"),
            coalesce(get(col("f"), lit(2)).cast("double"), lit(0.0))
              .as("bow"),
            size(split(get(col("f"), lit(1)), " ")).as("k")))
          .mode("overwrite").partitionBy("k").parquet(sidecar)
      }
    }
    spark.read.parquet(sidecar)
  }

  /** DISTRIBUTED writer — the 100 TB path. `levels(k-1)` is the
    * level-(k) DataFrame with columns `gram: array<string>`,
    * `lp: double`, `lbow: double` (0.0 = omit). Each section streams
    * through `toLocalIterator` over the SORTED frame, so the driver
    * holds at most one partition of one level at a time — never the
    * whole model — and the per-order header counts are ordinary
    * distributed aggregates. Spark's array<string> sort is element-
    * wise UTF-8 byte order, the [[render]] collation, so the two
    * writers are byte-identical on the same model. */
  def writeLevels(path: String, levels: Seq[DataFrame]): Unit = {
    // each level is consumed TWICE (count() for the header, then the
    // sorted section scan) and its DAG above the checkpointed census is
    // a heavy multi-join plan — persist so the header count pays the
    // build once and the section write reads the cache, then release
    // each level as soon as its section is on disk
    val cached = levels.map(
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val counts = cached.map(_.count())
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try {
      w.write("\\data\\\n")
      counts.zipWithIndex.foreach { case (c, i) =>
        w.write(s"ngram ${i + 1}=$c\n") }
      w.write("\n")
      cached.zipWithIndex.foreach { case (df, i) =>
        w.write(s"\\${i + 1}-grams:\n")
        val it = df.select(col("gram"), col("lp"), col("lbow"))
          .orderBy(col("gram")).toLocalIterator()
        while (it.hasNext) {
          val r = it.next()
          w.write(rowString(r.getSeq[String](0), r.getDouble(1),
            r.getDouble(2)))
        }
        w.write("\n")
        df.unpersist(blocking = false)
      }
      w.write("\\end\\\n")
    } finally w.close()
  }
}
