package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.TempDirs.withTempDir

class ArpaSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def model = Arpa.bigramModel(
    unigrams = Map(
      "the" -> (-0.5, -0.3),
      "cat" -> (-1.25, 0.0),       // never a history -> backoff omitted
      "sat" -> (-99.0, -0.125)),   // no continuation stat -> zeroprob
    bigrams = Map(
      ("the", "cat") -> (-0.1),
      ("cat", "sat") -> (-0.75)))

  test("render: header counts, sections, 9-dp values, optional backoff") {
    val text = Arpa.render(model)
    assert(text.startsWith("\\data\\\nngram 1=3\nngram 2=2\n"))
    assert(text.contains("\\1-grams:\n"))
    assert(text.contains("-0.500000000\tthe\t-0.300000000\n"))
    assert(text.contains("-1.250000000\tcat\n"))          // no 3rd field
    assert(text.contains("-99.000000000\tsat\t-0.125000000\n"))
    assert(text.contains("\\2-grams:\n"))
    assert(text.contains("-0.100000000\tthe cat\n"))
    assert(text.endsWith("\\end\\\n"))
  }

  test("parse . render is the identity on quantized values") {
    assert(Arpa.parse(Arpa.render(model)) == model)
  }

  test("order-3 model: three sections, parse round trip, and a " +
    "wrong-arity gram row fails loud") {
    val tri = Arpa.Model(3, Vector(
      Map(Vector("a") -> ((-0.5, -0.2)), Vector("b") -> ((-0.7, 0.0))),
      Map(Vector("a", "b") -> ((-0.3, -0.1))),
      Map(Vector("a", "b", "a") -> ((-0.15, 0.0)))))
    val text = Arpa.render(tri)
    assert(text.contains("ngram 3=1\n"))
    assert(text.contains("\\3-grams:\n-0.150000000\ta b a\n"))
    assert(Arpa.parse(text) == tri)
    // a 2-word gram inside \3-grams: is a corrupt file, not data
    val bad = text.replace("-0.150000000\ta b a", "-0.150000000\ta b")
    val e = intercept[IllegalArgumentException] { Arpa.parse(bad) }
    assert(e.getMessage.contains("2-word gram"))
    // and whitespace-bearing tokens are unrepresentable, not silently
    // split on reload
    intercept[IllegalArgumentException] {
      Arpa.render(Arpa.bigramModel(Map("a b" -> ((-1.0, 0.0))), Map.empty))
    }
  }

  test("trained model round-trips through the file and the stored " +
    "score stays within the quantization of the inline score") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat the cat ran"),
      (2L, "a dog sat on a log"),
      (3L, "the cat sat on the log")).toDF("doc_id", "text")
    withTempDir("arpa_spec") { tmp =>
      val path = tmp.resolve("m.arpa").toString
      Arpa.writeLevels(path, graft.ext.TextOps.knArpaLevels(docs, order = 2))
      val m = Arpa.read(path)
      // the streamed write and the driver render agree byte for byte
      assert(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8) == Arpa.render(m))
      val stored = graft.ext.TextOps.knScoreStoredArpa(spark, docs, path)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val inline = graft.ext.TextOps.knScore(docs, 2)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      inline.foreach { case (id, v) =>
        assert(math.abs(stored(id) - v) / v < 1e-6,
          s"doc $id stored ${stored(id)} vs inline $v")
      }
    }
  }

  test("backoff route: an unseen bigram of seen words scores " +
    "bow(w1) * p_cont(w2), and unseen words hit the zeroprob floor") {
    import spark.implicits._
    val train = Seq(
      (1L, "the cat sat"), (2L, "the dog sat"), (3L, "a cat ran"))
      .toDF("doc_id", "text")
    withTempDir("arpa_spec2") { tmp =>
      val path = tmp.resolve("m.arpa").toString
      Arpa.writeLevels(path, graft.ext.TextOps.knArpaLevels(train, order = 2))
      val m = Arpa.read(path)
      // "dog ran": both words in vocab, bigram unseen -> backoff branch
      val held = Seq((9L, "dog ran"), (10L, "dog zzz"))
        .toDF("doc_id", "text")
      val got = graft.ext.TextOps.knScoreStoredArpa(spark, held, path)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val expected = 1.0 / Arpa.q9(
        math.pow(10.0, m.unigrams("dog")._2 + m.unigrams("ran")._1))
      assert(math.abs(got(9L) - expected) < 1e-9,
        s"backoff score ${got(9L)} vs $expected")
      // unseen w2 falls to the -99 zeroprob -> enormous inverse
      assert(got(10L) > 1e9)
    }
  }

  test("order-5 lifecycle: distributed write round-trips byte-" +
    "identically, every observed 5-gram is present, and the stored " +
    "score matches the inline knScore(5) under quantization") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat ran off the mat"),
      (2L, "a dog sat on a log and a dog ran off a log"),
      (3L, "the cat sat on the log and the dog sat on the mat"))
      .toDF("doc_id", "text")
    withTempDir("arpa_spec5") { dir =>
      val path = dir.resolve("m.arpa").toString
      Arpa.writeLevels(path, graft.ext.TextOps.knArpaLevels(docs, order = 5))
      val m = Arpa.read(path)
      assert(m.order == 5)
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path))
      assert(new String(bytes,
        java.nio.charset.StandardCharsets.UTF_8) == Arpa.render(m))
      // write the parsed model back through the driver path: identical
      val path2 = dir.resolve("m2.arpa").toString
      Arpa.write(path2, m)
      assert(java.util.Arrays.equals(bytes,
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path2))))
      // stored score vs the inline order-5 recursion: equal within the
      // 9-dp artifact quantization
      val stored = graft.ext.TextOps.knScoreStoredArpa(spark, docs, path)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val inline = graft.ext.TextOps.knScore(docs, order = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      inline.foreach { case (id, v) =>
        assert(math.abs(stored(id) - v) / v < 1e-6,
          s"doc $id stored ${stored(id)} vs inline $v")
      }
      // every level-5 entry covers an observed 5-gram (no zeroprob rows
      // at the top), and every context of a 5-gram has a level-4 entry
      // carrying its backoff weight
      assert(m.grams(4).values.forall(_._1 > -99.0))
      m.grams(4).keys.foreach { g =>
        assert(m.grams(3).contains(g.take(4)), s"missing context ${g.take(4)}")
      }
    }
  }

  test("context-only mid-level grams carry GENUINE backoff-" +
    "interpolated probabilities, and a held-out walk terminating on " +
    "one scores it, not a -99 placeholder") {
    import spark.implicits._
    // doc-head construction: the bigram (q, r) is the CONTEXT of the
    // trigram (q, r, s) but never a trigram suffix — the row class the
    // old builder wrote as lp = -99, which any conforming ARPA scorer
    // reads as TERMINAL. Docs 2/3 give both its words real statistics
    // ("r" a continuation word via (x, r), "q" a continuation-bigram
    // head via (q, p)) so the genuine value is nontrivial:
    // P(r|q) = (d·N1+(q·)/ctot(q)) · P1(r) > 1e-99
    val train = Seq(
      (1L, "q r s t u"), (2L, "z x r y w"), (3L, "m n q p o"))
      .toDF("doc_id", "text")
    withTempDir("arpa_ctx") { tmp =>
      val path = tmp.resolve("m.arpa").toString
      Arpa.writeLevels(path, graft.ext.TextOps.knArpaLevels(train, order = 3))
      val m = Arpa.read(path)
      val lpQR = m.grams(1)(Vector("q", "r"))._1
      assert(lpQR > -99.0 && lpQR < 0.0,
        s"context-only bigram (q,r) should carry a genuine lp, got $lpQR")
      // held-out "x q r": the trigram (x,q,r) is unseen, the context
      // (x,q) is unstored (bow 1), so the walk must terminate exactly at
      // the stored (q,r) entry -> score = 1 / 10^lp(q,r)
      val held = Seq((9L, "x q r")).toDF("doc_id", "text")
      val got = graft.ext.TextOps.knScoreStoredArpa(spark, held, path)
        .collect().head.getDouble(2)
      val expected = 1.0 / Arpa.q9(math.pow(10.0, lpQR))
      assert(math.abs(got - expected) / expected < 1e-9,
        s"held-out walk scored $got, expected $expected")
      assert(got < 1e9, "a -99 placeholder would blow the inverse up")
    }
  }

  test("count pruning: order-5 fixture round-trips, closure holds, " +
    "and backoff weights renormalize over the kept mass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat ran off the mat"),
      (2L, "a dog sat on a log and a dog ran off a log"),
      (3L, "the cat sat on the log and the dog sat on the mat"),
      (4L, "the cat sat on the mat and the dog sat on the log"))
      .toDF("doc_id", "text")
    val full = graft.ext.TextOps.knArpaLevels(docs, order = 5)
    val pruned = graft.ext.TextOps.knArpaLevels(docs, order = 5,
      prune = Seq(1, 1, 2, 2, 2))
    withTempDir("arpa_prune") { dir =>
      val path = dir.resolve("m.arpa").toString
      Arpa.writeLevels(path, pruned)
      val m = Arpa.read(path)
      assert(m.order == 5)
      // round trip: streamed write == driver render of the parsed model
      assert(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8) == Arpa.render(m))
      // pruning bit: the top level shrank (singleton 5-grams dropped)
      assert(m.grams(4).size < full(4).count(),
        "prune=2 at the top level should drop singleton 5-grams")
      assert(m.grams(4).nonEmpty, "repeated 5-grams must survive")
      // ARPA validity closure: every level-k entry's context and suffix
      // are stored one level down (context carries the bow, the walk
      // lands on the suffix)
      for (k <- 2 to 5; g <- m.grams(k - 1).keys) {
        assert(m.grams(k - 2).contains(g.init),
          s"missing context ${g.init} of level-$k $g")
        assert(m.grams(k - 2).contains(g.tail),
          s"missing suffix ${g.tail} of level-$k $g")
      }
      // renormalization: for every context of kept level-(k+1) grams,
      // bow == (1 - sum kept quantized p) / (1 - sum kept lower p),
      // both sums over exact decimals (the engine's decimal route)
      def q9(x: Double) = Arpa.q9(x)
      for (k <- 1 to 4) {
        val up = m.grams(k).toSeq
        val byCtx = up.groupBy(_._1.init)
        byCtx.foreach { case (ctx, entries) =>
          val shi = entries.map { case (_, (lp, _)) =>
            BigDecimal(q9(math.pow(10.0, lp))) }.sum
          val slo = entries.map { case (g, _) =>
            BigDecimal(q9(math.pow(10.0, m.grams(k - 1)(g.tail)._1))) }.sum
          val stored = m.grams(k - 1)(ctx)._2
          if (shi < 1 && slo < 1) {
            val want = q9(math.log10(
              ((BigDecimal(1) - shi) / (BigDecimal(1) - slo)).toDouble))
            assert(math.abs(stored - want) < 2e-9,
              s"level-$k ctx $ctx bow $stored, want $want")
          } else assert(stored == 0.0,
            s"degenerate ctx $ctx must clamp to bow 0")
        }
      }
      // the pruned model still scores its training corpus: backoff walks
      // through pruned grams land on genuine entries, never a blowup
      val got = graft.ext.TextOps.knScoreStoredArpa(spark, docs, path)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got.size == 4)
      got.values.foreach(v => assert(v > 0 && v < 1e9, s"score $v"))
    }
  }

  test("capped + pruned model: <unk> mapping at score time routes " +
    "OOV words through the present path") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta gamma alpha beta"),
      (2L, "beta gamma delta beta gamma delta beta gamma"),
      (3L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    withTempDir("arpa_capprune") { dir =>
      val path = dir.resolve("m.arpa").toString
      Arpa.writeLevels(path, graft.ext.TextOps.knArpaLevels(docs, order = 3,
        vocabSize = 4, prune = Seq(1, 1, 2)))
      val m = Arpa.read(path)
      assert(m.grams(0).contains(Vector("<unk>")))
      // every stored word is either kept vocabulary or <unk>
      assert(m.grams(2).keys.flatten.toSet.subsetOf(
        m.grams(0).keys.map(_.head).toSet))
      val got = graft.ext.TextOps.knScoreStoredArpa(spark, docs, path)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got.size == 3)
      // doc 3 is pure Zipf tail -> all <unk>; with mapping its grams hit
      // stored entries, so the inverse-probability mean stays bounded
      got.values.foreach(v => assert(v > 0 && v < 1e9, s"score $v"))
    }
  }

  test("log-domain stored scorer: h10 equals the hand-walked mean of " +
    "stored logs, and Moore-Lewis selects the in-domain doc") {
    import spark.implicits._
    val target = Seq(
      (1L, "alpha beta gamma alpha beta gamma alpha beta"),
      (2L, "beta gamma alpha beta gamma alpha beta gamma"))
      .toDF("doc_id", "text")
    val general = Seq(
      (1L, "alpha beta gamma alpha beta gamma alpha beta"),
      (2L, "beta gamma alpha beta gamma alpha beta gamma"),
      (3L, "one two three four five six seven eight nine"),
      (4L, "red green blue red green blue red green blue"))
      .toDF("doc_id", "text")
    withTempDir("arpa_ml") { dir =>
      val tPath = dir.resolve("t.arpa").toString
      val gPath = dir.resolve("g.arpa").toString
      Arpa.writeLevels(tPath,
        graft.ext.TextOps.knArpaLevels(target, order = 2, vocabSize = 8))
      Arpa.writeLevels(gPath,
        graft.ext.TextOps.knArpaLevels(general, order = 2, vocabSize = 8))
      val m = Arpa.read(tPath)
      // hand-walk doc 1 under the target model: per-bigram log is the
      // stored lp on a hit, bow(w1) + lp(w2) on a miss; OOV words map
      // to <unk> first — the scaled-integer mean must match exactly
      val got = graft.ext.TextOps.knCrossEntropyStoredArpa(
          spark, general, tPath)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      def vocabMap(w: String) =
        if (m.grams(0).contains(Vector(w))) w else "<unk>"
      def walk(text: String): Double = {
        val ws = text.split(" ").map(vocabMap).toVector
        val ts = ws.sliding(2).toSeq
        val s = ts.map { bg =>
          val lg = m.grams(1).get(bg) match {
            case Some((lp, _)) => lp
            case None =>
              m.grams(0).get(Vector(bg(0))).map(_._2).getOrElse(0.0) +
                m.grams(0).get(Vector(bg(1))).map(_._1).getOrElse(-99.0)
          }
          math.round(lg * 1e9)
        }.sum
        -s.toDouble / ts.size / 1e9
      }
      Seq(1L, 3L).foreach { id =>
        val text = general.filter(col("doc_id") === id)
          .head().getString(1)
        assert(got(id) == walk(text), s"doc $id: ${got(id)} vs hand walk")
      }
      // in-domain docs carry LOWER target cross-entropy
      assert(got(1L) < got(3L) && got(2L) < got(4L))
      val sel = graft.ext.TextOps.mooreLewisSelect(
          spark, general, tPath, gPath, selectK = 2)
        .collect().map(r => r.getLong(0) ->
          ((r.getDouble(4), r.getBoolean(5)))).toMap
      assert(sel(1L)._2 && sel(2L)._2, s"expected 1,2 selected: $sel")
      assert(!sel(3L)._2 && !sel(4L)._2)
      assert(sel(1L)._1 > sel(3L)._1)
    }
  }

  test("mixture scorer: self-mixture equals the single-model score, " +
    "and the blend obeys the convexity bound") {
    import spark.implicits._
    val target = Seq(
      (1L, "alpha beta gamma alpha beta gamma alpha beta"),
      (2L, "beta gamma alpha beta gamma alpha beta gamma"))
      .toDF("doc_id", "text")
    val general = Seq(
      (1L, "alpha beta gamma alpha beta gamma alpha beta"),
      (2L, "beta gamma alpha beta gamma alpha beta gamma"),
      (3L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    withTempDir("arpa_mix") { dir =>
      val tPath = dir.resolve("t.arpa").toString
      val gPath = dir.resolve("g.arpa").toString
      Arpa.writeLevels(tPath,
        graft.ext.TextOps.knArpaLevels(target, order = 2, vocabSize = 8))
      Arpa.writeLevels(gPath,
        graft.ext.TextOps.knArpaLevels(general, order = 2, vocabSize = 8))
      // λ·p + (1−λ)·p = p: the self-mixture reproduces the single-model
      // inverse-probability score (fold order differs, so 1e-9 rel)
      val self = graft.ext.TextOps.knMixtureScoreStoredArpa(
          spark, general, tPath, tPath, lambda = 0.5)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val single = graft.ext.TextOps.knScoreStoredArpa(
          spark, general, tPath)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      single.foreach { case (id, v) =>
        assert(math.abs(self(id) - v) / v < 1e-9,
          s"doc $id self-mix ${self(id)} vs single $v")
      }
      // convexity: 1/(λpA+(1−λ)pB) ≤ λ/pA + (1−λ)/pB per gram, so the
      // mixture score is bounded by the blend of component scores
      val mix = graft.ext.TextOps.knMixtureScoreStoredArpa(
          spark, general, tPath, gPath, lambda = 0.5)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val sg = graft.ext.TextOps.knScoreStoredArpa(spark, general, gPath)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      mix.foreach { case (id, v) =>
        assert(v <= 0.5 * single(id) + 0.5 * sg(id) + 1e-6,
          s"doc $id mixture $v above the convexity bound")
      }
      // the general-only doc 3 is rescued by the general component:
      // strictly better than under the target model alone
      assert(mix(3L) < single(3L))
    }
  }

  test("vocab cap: <unk> absorbs the Zipf tail ahead of the census " +
    "and bounds every level table") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat ran"),
      (2L, "a rare word appears once here only"),
      (3L, "the cat sat on the mat again and again"))
      .toDF("doc_id", "text")
    val full = graft.ext.TextOps.knArpaLevels(docs, order = 2)
    val capped = graft.ext.TextOps.knArpaLevels(docs, order = 2,
      vocabSize = 5)
    val fullVocab = full.head.count()
    val cappedVocab = capped.head.count()
    assert(cappedVocab <= 6L, // top-5 + <unk>
      s"capped vocab $cappedVocab")
    assert(cappedVocab < fullVocab)
    val words = capped.head.select("gram").collect()
      .map(_.getSeq[String](0).head).toSet
    assert(words.contains("<unk>"))
    // the capped model still scores (backoff-safe end to end)
    withTempDir("arpa_cap") { dir =>
      val path = dir.resolve("m.arpa").toString
      Arpa.writeLevels(path, capped)
      val got = graft.ext.TextOps.knScoreStoredArpa(spark, docs, path)
      assert(got.count() == 3)
    }
  }

  test("read size guard: an artifact past MaxReadBytes fails loud " +
    "and names the distributed route") {
    withTempDir("arpa_guard") { dir =>
      val path = dir.resolve("big.arpa")
      // a sparse file trips Files.size without writing 256 MB
      val ch = java.nio.channels.FileChannel.open(path,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        ch.position(Arpa.MaxReadBytes)
        ch.write(java.nio.ByteBuffer.wrap(Array[Byte]('x')))
      } finally ch.close()
      val e = intercept[IllegalArgumentException](Arpa.read(path.toString))
      assert(e.getMessage.contains("readLevels"),
        s"guard should point at the distributed route: ${e.getMessage}")
    }
  }

  test("readLevels: the parquet sidecar holds exactly the parsed " +
    "model's rows per level, and the distributed scorer matches the " +
    "broadcast scorer hash-for-hash") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat ran off the mat"),
      (2L, "a dog sat on a log and a dog ran off a log"),
      (3L, "the cat sat on the log and the dog sat on the mat"))
      .toDF("doc_id", "text")
    withTempDir("arpa_lvl") { dir =>
      val path = dir.resolve("m.arpa").toString
      Arpa.writeLevels(path,
        graft.ext.TextOps.knArpaLevels(docs, order = 3, vocabSize = 8))
      val m = Arpa.read(path)
      val lv = Arpa.readLevels(spark, path)
      // sidecar rows == model rows, level by level, value for value
      // (bow 0.0 = the format's omitted-field convention on both sides)
      (1 to 3).foreach { k =>
        val got = lv.filter(org.apache.spark.sql.functions.col("k") === k)
          .collect()
          .map(r => r.getAs[String]("key") ->
            ((r.getAs[Double]("lp"), r.getAs[Double]("bow")))).toMap
        val want = m.grams(k - 1).map { case (g, v) => g.mkString(" ") -> v }
        assert(got == want, s"level $k sidecar mismatch")
      }
      // sidecar is built once: a second call reads, never rewrites
      val marker = java.nio.file.Paths.get(path + ".levels", "_SUCCESS")
      val t0 = java.nio.file.Files.getLastModifiedTime(marker)
      Arpa.readLevels(spark, path).count()
      assert(java.nio.file.Files.getLastModifiedTime(marker) == t0)
      // ... but a RETRAINED artifact (newer mtime) invalidates it: the
      // sidecar is derived state and must track its source
      Arpa.writeLevels(path,
        graft.ext.TextOps.knArpaLevels(docs, order = 2, vocabSize = 4))
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(path),
        java.nio.file.attribute.FileTime.fromMillis(
          t0.toMillis + 5000))
      val m2 = Arpa.read(path)
      val lv2 = Arpa.readLevels(spark, path)
      assert(lv2.agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("k"))).head().getInt(0) == 2)
      val got2 = lv2.filter(org.apache.spark.sql.functions.col("k") === 1)
        .collect().map(r => r.getAs[String]("key") ->
          ((r.getAs[Double]("lp"), r.getAs[Double]("bow")))).toMap
      assert(got2 == m2.grams(0).map { case (g, v) => g.mkString(" ") -> v },
        "stale sidecar survived a retrain")
      // route equivalence on a capped model (exercises the <unk> joins)
      val a = graft.ext.TextOps.knScoreStoredArpa(spark, docs, path)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      val b = graft.ext.TextOps.knScoreStoredArpaLevels(spark, docs, path)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(a == b, s"broadcast route $a vs distributed route $b")
    }
  }
}
