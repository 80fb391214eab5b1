package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{ArtifactMemo, SharedSpark, TempDirs}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("sessionization: gap-delimited episodes with peak and count") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val events = Seq(
      StreamingOps.FireEvent(1L, ts(0), 5.0),
      StreamingOps.FireEvent(1L, ts(10), 9.0),
      StreamingOps.FireEvent(1L, ts(200), 3.0),   // > 60 min gap → new episode
      StreamingOps.FireEvent(2L, ts(5), 7.0)).toDS()
    val eps = StreamingOps.sessionizeBatch(events, gapMinutes = 60)
      .collect().sortBy(e => (e.cell, e.start.getTime))
    assert(eps.length == 3)
    assert(eps(0).cell == 1L && eps(0).n == 2 && eps(0).peak == 9.0 &&
           eps(0).end.getTime == ts(10).getTime)
    assert(eps(1).cell == 1L && eps(1).n == 1 && eps(1).peak == 3.0)
    assert(eps(2).cell == 2L && eps(2).n == 1)
  }

  test("sessionize closes idle episodes via event-time timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // keep event times well above epoch: the initial watermark is 0 and
    // stateful operators drop rows with event time <= watermark
    def ts(min: Long) = new java.sql.Timestamp((100000L + min) * 60000L)
    val input = MemoryStream[StreamingOps.FireEvent]
    val events = input.toDS().withWatermark("ts", "10 minutes")
    val eps = StreamingOps.sessionize(events, gapMinutes = 60)
    val q = eps.writeStream.outputMode("append").format("memory")
      .queryName("sessionize_timeout_test").start()
    try {
      input.addData(StreamingOps.FireEvent(1L, ts(0), 5.0),
                    StreamingOps.FireEvent(1L, ts(10), 9.0))
      q.processAllAvailable()
      // cell 1's episode is open; nothing may emit yet
      assert(spark.table("sessionize_timeout_test").count() == 0)
      // a much later event on ANOTHER cell advances the watermark past
      // cell 1's last+gap; the next batch fires cell 1's timeout
      input.addData(StreamingOps.FireEvent(2L, ts(500), 7.0))
      q.processAllAvailable()
      input.addData(StreamingOps.FireEvent(2L, ts(510), 8.0))
      q.processAllAvailable()
      val rows = spark.table("sessionize_timeout_test")
        .as[StreamingOps.Episode].collect()
      assert(rows.exists(e => e.cell == 1L && e.n == 2 && e.peak == 9.0 &&
        e.end.getTime == ts(10).getTime))
    } finally q.stop()
  }

  test("streaming dedup keeps first arrival of each content hash") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp((100000L + min) * 60000L)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDS().toDF("doc_id", "ts", "text")
    val q = StreamingOps.streamingDedup(docs, "ts", watermark = "30 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_dedup_test").start()
    try {
      input.addData((1L, ts(0), "alpha"), (2L, ts(1), "beta"))
      q.processAllAvailable()
      // duplicate of doc 1 in a later batch: dropped while state lives
      input.addData((3L, ts(2), "alpha"), (4L, ts(3), "gamma"))
      q.processAllAvailable()
      val ids = spark.table("stream_dedup_test")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 4L))
    } finally q.stop()
  }

  test("stateless PQ/int8 encoders and Gopher gate run unmodified in a stream") {
    // the compression/quality tier is pure per-row algebra, so the SAME
    // column expressions run in a readStream with no watermark or state —
    // the property that lets an ingest stream quantize and gate documents
    // before they ever land
    val dir = "/root/testdata/sf0.001"
    val embBatch = spark.read.parquet(s"$dir/embeddings.parquet")
    val books = graft.ext.Similarity.pqCodebooks(embBatch, m = 8, k = 16)
    val embStream = spark.readStream.schema(embBatch.schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
    val pqStreamed = graft.streaming.StreamingOps.runBounded(spark,
      graft.ext.Similarity.pqEncode(embStream, books),
      "pq_stream_test", OutputMode.Append())
    assert(pqStreamed.collect().map(_.toSeq).toSet ==
      graft.ext.Similarity.pqEncode(embBatch, books)
        .collect().map(_.toSeq).toSet)
    assert(pqStreamed.count() == embBatch.count())
    val sqStreamed = graft.streaming.StreamingOps.runBounded(spark,
      graft.ext.Similarity.int8QuantAudit(embStream),
      "int8_stream_test", OutputMode.Append())
    assert(sqStreamed.collect().map(_.toSeq).toSet ==
      graft.ext.Similarity.int8QuantAudit(embBatch)
        .collect().map(_.toSeq).toSet)

    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val docsStream = spark.readStream.schema(docsBatch.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val gateStream = graft.streaming.StreamingOps.runBounded(spark,
      graft.ext.TextOps.gopherRules(docsStream).filter(col("keep")),
      "gopher_stream_test", OutputMode.Append())
    val gateBatch = graft.ext.TextOps.gopherRules(docsBatch)
      .filter(col("keep"))
    assert(gateStream.select("doc_id").collect().map(_.getLong(0)).toSet ==
      gateBatch.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("BPE tokenization and URL canonicalization run unmodified in a " +
       "stream — exact token budgets and crawl keys at the ingest edge") {
    // both are pure per-row expressions (the merge table and suffix
    // rules ride as literals), so the SAME columns run in a readStream
    val dir = "/root/testdata/sf0.001"
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val docsStream = spark.readStream.schema(docsBatch.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    def pipe(df: org.apache.spark.sql.DataFrame) = {
      val url = concat(lit("HTTPS://Sub.Example.COM:443/p/"),
        col("doc_id").cast("string"))
      df.select(col("doc_id"),
        graft.ext.TextOps.bpeTokenCount(col("text")).as("n_bpe"),
        graft.ext.UrlOps.normalizeUrl(url).as("norm"),
        graft.ext.UrlOps.registeredDomain(
          graft.ext.UrlOps.hostOf(url)).as("domain"))
    }
    val streamed = graft.streaming.StreamingOps.runBounded(spark,
      pipe(docsStream), "bpe_url_stream_test", OutputMode.Append())
    assert(streamed.collect().map(_.toSeq).toSet ==
      pipe(docsBatch).collect().map(_.toSeq).toSet)
    assert(streamed.count() == docsBatch.count())
  }

  test("streaming robots gate equals the batch gate on the same rules") {
    val dir = "/root/testdata/sf0.001"
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val docsStream = spark.readStream.schema(docsBatch.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    // urls derived per row (stateless); rules are a static broadcast
    def urlsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        concat(lit("d"), (col("doc_id") % 3).cast("string"), lit(".com"))
          .as("domain"),
        concat(lit("/p"), (col("doc_id") % 7).cast("string"), lit("/x"))
          .as("path"))
    val robots = spark.createDataFrame(Seq(
      ("d0.com", "User-agent: *\nDisallow: /p1\nAllow: /p1/x\n" +
        "disallow: /p3 # note"),
      ("d1.com", "Allow:   /p2\nDisallow: /p2/x\nDisallow: /p5")))
      .toDF("domain", "robots_txt")
    val rules = graft.ext.UrlOps.parseRobots(robots)
    val streamed = graft.streaming.StreamingOps.runBounded(spark,
      graft.ext.UrlOps.robotsGateStateless(
        urlsOf(docsStream), rules),
      "robots_stream_test", OutputMode.Append())
    val batch = graft.ext.UrlOps.robotsGate(urlsOf(docsBatch), rules)
    assert(streamed.collect().map(_.toSeq).toSet ==
      batch.collect().map(_.toSeq).toSet)
    assert(streamed.count() == docsBatch.count())
  }

  test("robotsAllowedOnly gates a listed STREAM row-preservingly, " +
       "wildcard rules included") {
    val dir = "/root/testdata/sf0.001"
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val docsStream = spark.readStream.schema(docsBatch.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    def listedOf(df: org.apache.spark.sql.DataFrame) =
      df.select(
        concat(lit("d"), (col("doc_id") % 2).cast("string"), lit(".com"))
          .as("domain"),
        concat(lit("https://d"), (col("doc_id") % 2).cast("string"),
          lit(".com/p"), (col("doc_id") % 7).cast("string"),
          lit("/f"), (col("doc_id") % 3).cast("string")).as("u"),
        col("doc_id").as("payload"))          // a carried column
    val rules = graft.ext.UrlOps.parseRobots(spark.createDataFrame(Seq(
      ("d0.com", "User-agent: *\nDisallow: /p1*2$\nDisallow: /p4"),
      ("d1.com", "Disallow: *f1$\nAllow: /p3*f1$")))
      .toDF("domain", "robots_txt"))
    val streamed = graft.streaming.StreamingOps.runBounded(spark,
      graft.ext.UrlOps.robotsAllowedOnly(listedOf(docsStream), rules),
      "allowed_only_stream_test", OutputMode.Append())
    val batch = graft.ext.UrlOps.robotsAllowedOnly(listedOf(docsBatch),
      rules)
    assert(streamed.collect().map(_.toSeq).toSet ==
      batch.collect().map(_.toSeq).toSet)
    // the gate actually drops rows, and the wildcard rules are the
    // ones doing the dropping (anchored-star on both domains)
    assert(streamed.count() < docsBatch.count())
    assert(batch.columns.toSeq ==
      Seq("domain", "u", "payload")) // helpers cleaned up
  }

  test("streaming recrawl tick equals the batch schedule sans rank") {
    val dir = "/root/testdata/sf0.001"
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val docsStream = spark.readStream.schema(docsBatch.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    // listed entries derived per row (what parseUrlset emits); the
    // crawl state is the static stored side
    def listedOf(df: org.apache.spark.sql.DataFrame) =
      df.select(
        concat(lit("d"), (col("doc_id") % 3).cast("string"), lit(".com"))
          .as("domain"),
        concat(lit("https://d"), (col("doc_id") % 3).cast("string"),
          lit(".com/p"), col("doc_id").cast("string")).as("u"),
        date_add(to_date(lit("2026-01-01")),
          (col("doc_id") % 90).cast("int")).as("lastmod"))
    val crawled = listedOf(docsBatch.filter(col("doc_id") % 2 === 0))
      .drop("lastmod")
      .withColumn("crawled_at", date_add(to_date(lit("2026-01-15")),
        (length(col("u")) % 30).cast("int")))
    val streamed = graft.streaming.StreamingOps.runBounded(spark,
      graft.ext.UrlOps.recrawlTick(
        listedOf(docsStream), crawled),
      "recrawl_tick_test", OutputMode.Append())
    val batch = graft.ext.UrlOps
      .recrawlSchedule(listedOf(docsBatch), crawled).drop("rnk")
    assert(streamed.collect().map(_.toSeq).toSet ==
      batch.collect().map(_.toSeq).toSet)
    // the fixture exercises all three outcomes: new, stale, and
    // fresh-enough rows that drop
    val st = streamed.select("status").distinct()
      .collect().map(_.getString(0)).toSet
    assert(st == Set("new", "stale"))
    assert(streamed.count() < docsBatch.count())
  }

  test("streaming shard manifest equals the batch manifest") {
    val dir = "/root/testdata/sf0.001"
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val docsStream = spark.readStream.schema(docsBatch.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val streamed = graft.streaming.StreamingOps.runBounded(spark,
      graft.ext.Curation.shardManifest(docsStream),
      "manifest_test", OutputMode.Update())
    val batch = graft.ext.Curation.shardManifest(docsBatch)
    // update mode re-emits a shard's row per batch; the LAST emission
    // per shard is the final state — with one source file there is one
    // batch, so the sets must match outright
    assert(streamed.collect().map(_.toSeq).toSet ==
      batch.collect().map(_.toSeq).toSet)
    // and the digests are non-trivial (no shard XORs to zero here)
    assert(batch.collect().forall(_.getLong(3) != 0L))
  }

  test("WARC parse + HTML extraction run unmodified in an ingest stream") {
    // the whole crawl hop is stateless per-archive work, so the same
    // archive→records→text chain runs in a readStream with no watermark:
    // a live crawl can gate pages before anything lands on disk
    val dir = "/root/testdata/sf0.001"
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val docsStream = spark.readStream.schema(docsBatch.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    def pipe(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Html.extractFromRecords(
        graft.ext.Html.parseDocArchives(
          graft.ext.Html.warcFromDocs(df)))
    val streamed = graft.streaming.StreamingOps.runBounded(spark,
      pipe(docsStream), "warc_stream_test", OutputMode.Append())
    assert(streamed.count() == docsBatch.count())
    assert(streamed.collect().map(_.toSeq).toSet ==
      pipe(docsBatch).collect().map(_.toSeq).toSet)
  }

  test("§2.9 streaming daily max equals the batch composite") {

    // bounded file stream over the events table — same ts handling as
    // Tables.events: branch the stream schema on the physical parquet
    // type (long nanos in older testdata generations, TIMESTAMP_NTZ
    // micros in newer ones) so the spec survives regeneration.
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = graft.Tables(spark, dir, "events").schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val stream = tsType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }

    val agg = StreamingOps.dailyMaxStream(stream, "ts", Seq("event_type"), "value")
    val result = StreamingOps.runBounded(spark, agg, "daily_max_test")

    val batch = graft.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day").as("day"), col("event_type"))
      .agg(max("value").as("max_value"), count(lit(1)).as("n"))

    val s = result.select("day.start", "event_type", "max_value", "n")
      .collect().map(_.toSeq).toSet
    val b = batch.select("day.start", "event_type", "max_value", "n")
      .collect().map(_.toSeq).toSet
    assert(s == b && s.nonEmpty)
  }

  test("streaming PII gate equals the batch census+scrub — stateless " +
       "scrub-at-the-door, append mode, no watermark") {
    val dir = "/root/testdata/sf0.001"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // plant PII on every even doc so the gate has real work AND real
    // pass-throughs (non-vacuity both ways)
    def plant(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("text",
        when(col("doc_id") % 2 === 0,
          concat(col("text"),
            lit(" reach a@b.io at 10.0.0.1 or +1 (202) 555-0143")))
          .otherwise(col("text")))
    val docStream = plant(spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir))
    val docsBatch = plant(spark.read.parquet(s"$dir/documents.parquet"))

    val streamed = StreamingOps.runBounded(spark,
      graft.ext.TextOps.piiReport(docStream),
      "pii_gate_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = graft.ext.TextOps.piiReport(docsBatch)

    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b && s.nonEmpty)
    // the gate genuinely redacted: planted docs count 3 PII hits and
    // their redacted text carries the sentinels; odd docs are untouched
    val byId = streamed.collect()
      .map(r => r.getLong(0) -> (r.getLong(5), r.getString(4))).toMap
    assert(byId.filter(_._1 % 2 == 0).values.forall { case (n, t) =>
      n >= 3 && t.contains("<EMAIL>") && t.contains("<IP>") &&
        t.contains("<PHONE>") })
    assert(byId.filter(_._1 % 2 == 1).values.exists(_._1 == 0))
  }

  test("streaming DSIR gate equals the batch scorer on the same stored " +
       "model, which is bit-equal to the inline operator") {
    val dir = "/root/testdata/sf0.001"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val modelDir = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_dsir_stream_test_${ProcessHandle.current().pid()}").toString
    try {
      graft.ext.TextOps.dsirBuildModel(docsBatch,
        docsBatch.filter(col("source") === "src0"), modelDir, dim = 1024)
      val docStream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val streamed = StreamingOps.runBounded(spark,
        graft.ext.TextOps.dsirScoreStream(spark, docStream, modelDir,
          dim = 1024),
        "dsir_gate_test",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      // bit-exact twin: the SAME gate shape on the batch DataFrame
      val batch = graft.ext.TextOps.dsirScoreStream(spark, docsBatch,
        modelDir, dim = 1024)
      val s = streamed.collect().map(_.toSeq).toSet
      val b = batch.collect().map(_.toSeq).toSet
      assert(s == b && s.nonEmpty)
      // and the gate agrees with the stored batch scorer up to fp
      // association of repeated addends (the gate folds per-occurrence
      // terms; the scorer folds m-weighted per-bucket terms), while the
      // stored scorer is BIT-equal to the inline operator (the x96
      // proof shape)
      val stored = graft.ext.TextOps.dsirScoreStored(spark, docsBatch,
        modelDir, dim = 1024).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val gate = batch.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(gate.keySet == stored.keySet)
      for ((id, (n, l)) <- stored) {
        assert(gate(id)._1 == n, s"doc $id gram count")
        assert(math.abs(gate(id)._2 - l) < 1e-9, s"doc $id llr")
      }
      val inline = graft.ext.TextOps.dsirLlr(docsBatch,
        docsBatch.filter(col("source") === "src0"), dim = 1024)
        .collect().map(_.toSeq).toSet
      assert(graft.ext.TextOps.dsirScoreStored(spark, docsBatch,
        modelDir, dim = 1024).collect().map(_.toSeq).toSet == inline)
    } finally ArtifactMemo.delete(Paths.get(modelDir))
  }

  test("streaming contamination gate equals the batch audit") {
    val dir = "/root/testdata/sf0.001"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docStream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val bench = docsBatch.filter(col("source") === "src0")

    val streamed = StreamingOps.runBounded(spark,
      graft.ext.Curation.contamination(docStream, bench),
      "contamination_gate_test",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    val batch = graft.ext.Curation.contamination(docsBatch, bench)

    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b && s.nonEmpty)
  }

  test("streaming near-dup gate equals the batch incremental check " +
       "against the same stored index") {
    val dir = "/root/testdata/sf0.001"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val index = graft.ext.Dedup.minhashIndex(
      docsBatch.filter(col("doc_id") < 40))
    val docStream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("doc_id") >= 40)

    val streamed = StreamingOps.runBounded(spark,
      StreamingOps.streamingNearDupGate(docStream, index, minJaccard = 0.4),
      "neardup_gate_test",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    // batch reference: the incremental check, corpus-vs-new pairs only
    // (the gate's scope — increment-internal dups need cross-batch state)
    val batch = graft.ext.Dedup.incrementalVerifiedDups(index,
        docsBatch.filter(col("doc_id") >= 40), minJaccard = 0.4)
      .filter(col("doc_a") < 40)

    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b && s.nonEmpty, s"stream=$s\nbatch=$b")
  }

  test("streaming mojibake gate equals the batch repair — stateless, " +
       "and a clean stream passes through byte-identical") {
    val dir = "/root/testdata/sf0.001"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    def plant(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("text", concat(col("text"),
        when(pmod(col("doc_id"), lit(3L)) === 0, lit(" cafÃ© mÃ¼nchen"))
          .when(pmod(col("doc_id"), lit(3L)) === 1, lit(" itâ€™s fine"))
          .otherwise(lit(""))))
    val docsBatch = plant(spark.read.parquet(s"$dir/documents.parquet"))
    val docStream = plant(spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir))
    val streamed = StreamingOps.runBounded(spark,
      StreamingOps.streamingMojibakeGate(docStream),
      "mojibake_gate_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = StreamingOps.streamingMojibakeGate(docsBatch)
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b && s.nonEmpty)
    // clean (%3==2) docs pass byte-identical; planted docs repaired
    val byId = batch.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("repaired"))
      .toMap
    assert(byId.forall { case (id, rep) => rep == (id % 3 != 2) })
  }

  test("streaming curation gates (FIM / blocklist / entropy) equal " +
       "batch — all stateless, append mode") {
    val dir = "/root/testdata/sf0.001"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    def docStream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val terms = Seq("hash", "vector")
    val pairs = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("fim_gate_test", df => graft.ext.Curation.fimTransform(df)),
      ("blocklist_gate_test",
        df => graft.ext.Curation.blocklistGate(df, terms)),
      ("entropy_gate_test",
        df => graft.ext.Curation.entropyGate(df, 3.5, 5.0)),
      ("span_corrupt_test",
        df => graft.ext.Curation.spanCorrupt(df)),
      ("ul2_gate_test",
        df => graft.ext.Curation.ul2Denoisers(df)))
    pairs.foreach { case (name, gate) =>
      val streamed = StreamingOps.runBounded(spark, gate(docStream), name,
        org.apache.spark.sql.streaming.OutputMode.Append())
      val s = streamed.collect().map(_.toSeq).toSet
      val b = gate(docsBatch).collect().map(_.toSeq).toSet
      assert(s == b && s.nonEmpty, s"$name diverged from batch")
    }
  }

  test("composed streaming ingest gate (PII + DSIR + near-dup in ONE " +
       "stateful agg) equals batch, and each signal equals its " +
       "piecewise gate") {
    val dir = "/root/testdata/sf0.001"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    // the stored artifacts come from the CURATED (scrubbed, planted)
    // corpus slice < 400 — the x171 fixture, so PII plants exist and
    // the near-dup probe has real collisions to find
    def curated(d: org.apache.spark.sql.DataFrame) =
      graft.ext.TextOps.piiReport(graft.SparkEntry.x171Docs(d))
        .select(col("doc_id"), col("redacted").as("text"))
        .join(d.select("doc_id", "source"), "doc_id")
    val corpus = curated(raw.filter(col("doc_id") < 400))
    val index = graft.ext.Dedup.minhashIndex(corpus)
    val modelDir = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_ingest_gate_test_${ProcessHandle.current().pid()}").toString
    try {
      graft.ext.TextOps.dsirBuildModel(corpus,
        corpus.filter(col("source") === "src0"), modelDir, dim = 1024)
      // the increment arrives as a stream, RAW — the gate scrubs it
      val incBatch = graft.SparkEntry.x171Docs(raw)
        .filter(col("doc_id") >= 400)
      val incStream = graft.SparkEntry.x171Docs(
          spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(dir))
        .filter(col("doc_id") >= 400)

      val streamed = StreamingOps.runBounded(spark,
        graft.ext.TextOps.ingestGate(spark, incStream, modelDir, index,
          dim = 1024, minJaccard = 0.35),
        "ingest_gate_test",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      val batch = graft.ext.TextOps.ingestGate(spark, incBatch, modelDir,
        index, dim = 1024, minJaccard = 0.35)
      val s = streamed.collect().map(_.toSeq).toSet
      val b = batch.collect().map(_.toSeq).toSet
      assert(s == b && s.nonEmpty, "streaming != batch composition")

      val rows = batch.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(rows.size == 100)
      // (1) PII columns == the piecewise census (plants: every doc >0)
      val pii = graft.ext.TextOps.piiReport(incBatch).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_pii")).toMap
      rows.foreach { case (id, r) =>
        assert(r.getAs[Long]("n_pii") == pii(id) && pii(id) > 0) }
      // (2) DSIR == the piecewise streaming-shape scorer, BIT-exact
      // (same per-occurrence b-ordered fold over the redacted text)
      val redacted = graft.ext.TextOps.piiReport(incBatch)
        .select(col("doc_id"), col("redacted"))
      val dsir = graft.ext.TextOps.dsirScoreStream(spark, redacted,
          modelDir, dim = 1024, textCol = "redacted").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      rows.foreach { case (id, r) =>
        assert(r.getAs[Long]("n_grams") == dsir(id)._1, s"doc $id grams")
        assert(r.getAs[Double]("llr") == dsir(id)._2, s"doc $id llr bits") }
      // (3) near-dup == per-doc max of the piecewise pairwise gate
      val pairMax = StreamingOps.streamingNearDupGate(
          redacted.select(col("doc_id"), col("redacted").as("text")),
          index, minJaccard = 0.35).collect()
        .groupBy(_.getAs[Long]("doc_b"))
        .map { case (id, g) => id -> g.map(_.getAs[Double]("jaccard")).max }
      rows.foreach { case (id, r) =>
        pairMax.get(id) match {
          case Some(j) =>
            assert(r.getAs[Boolean]("dup_hit") &&
              r.getAs[Double]("max_jaccard") == j, s"doc $id jaccard")
          case None => assert(!r.getAs[Boolean]("dup_hit"), s"doc $id hit")
        }
      }
      // non-vacuity: the fixture produces BOTH verdicts
      assert(rows.values.exists(_.getAs[Boolean]("dup_hit")),
        "no near-dup fired — index fixture broken")
      assert(rows.values.exists(r => !r.getAs[Boolean]("dup_hit")))
    } finally ArtifactMemo.delete(Paths.get(modelDir))
  }

  test("streaming image-dup gate equals the batch banded search against " +
       "the same stored hash index") {
    val dir = "/root/testdata/sf0.001"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val index = graft.ext.Multimodal.imageHashes(
      graft.ext.Multimodal.mediaFromDocs(docsBatch.filter(col("doc_id") < 40)))
    val mediaStream = graft.ext.Multimodal.mediaFromDocs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .filter(col("doc_id") >= 40))

    val streamed = StreamingOps.runBounded(spark,
      StreamingOps.streamingImageDupGate(mediaStream, index, maxDist = 3),
      "imagedup_gate_test",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    // batch reference: banded pairs over the union, cut to index-vs-new
    // (all index ids < 40 ≤ new ids, so a<b ordering lines up)
    val batch = graft.ext.Multimodal.imageNearDups(
        graft.ext.Multimodal.imageHashes(
          graft.ext.Multimodal.mediaFromDocs(docsBatch)), maxDist = 3)
      .filter(col("media_a") < 40 && col("media_b") >= 40)
      .withColumn("dist", col("dist").cast("int"))

    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b && s.nonEmpty, s"stream=$s\nbatch=$b")
  }

  test("streaming edit gate: arrivals probe the stored blocked index, " +
       "stateless, stream equals batch") {
    val dir = "/root/testdata/sf0.001"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // arrivals: exact copies (dist 0) and one-char-appended copies
    // (dist 1) of the stored corpus, offset ids
    def arrivals(df: org.apache.spark.sql.DataFrame) = df
      .filter(pmod(col("doc_id"), lit(5L)) < 2)
      .withColumn("doc_id", col("doc_id") + 1000L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5L)) === 0, col("text"))
          .otherwise(concat(col("text"), lit("x"))))
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val index = graft.ext.Dedup.editIndex(docsBatch)
    val docStream = arrivals(spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir))
    val streamed = StreamingOps.runBounded(spark,
      StreamingOps.streamingEditGate(docStream, index, maxDist = 2),
      "edit_gate_test", OutputMode.Append())
    val batch = StreamingOps.streamingEditGate(
      arrivals(docsBatch), index, maxDist = 2)
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b && s.nonEmpty, s"stream=$s\nbatch=$b")
    // every exact copy is caught at distance 0 against its original
    val caught = batch.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("dist")))
    assert(caught.exists { case (a, bb, d) => d == 0L && bb == a + 1000L })
  }

  test("streaming quality gate: stored safetensors weights score a " +
       "stream, zero state, stream equals batch") {
    val dir = "/root/testdata/sf0.001"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    val w = graft.ext.TextOps.trainLogisticWeights(docsBatch)
    TempDirs.withTempDir("st_gate") { tmp =>
      val path = tmp.resolve("m.safetensors").toString
      graft.sources.Safetensors.write(path,
        Map("w" -> graft.sources.Safetensors.F64(Seq(3L), w)))
      val (ts, _) = graft.sources.Safetensors.read(path)
      val w2 = ts("w").asInstanceOf[graft.sources.Safetensors.F64].data
      val docStream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val streamed = StreamingOps.runBounded(spark,
        graft.ext.TextOps.scoreLogisticQuality(docStream, w2),
        "quality_gate_test", OutputMode.Append())
      val batch = graft.ext.TextOps.scoreLogisticQuality(docsBatch, w)
      val s = streamed.collect().map(_.toSeq).toSet
      val b = batch.collect().map(_.toSeq).toSet
      assert(s == b && s.size == 500)
    }
  }

  test("streaming cluster assignment: trained centroids as literals, " +
       "zero state, stream equals batch") {
    val dir = "/root/testdata/sf0.001"
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val vecsBatch = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = graft.ext.Similarity.trainIvfCentroids(vecsBatch, 8, 2)
    val vecStream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
    val streamed = StreamingOps.runBounded(spark,
      graft.ext.Similarity.kmeansAssign(vecStream, cents),
      "cluster_assign_test", OutputMode.Append())
    val batch = graft.ext.Similarity.kmeansAssign(vecsBatch, cents)
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b && s.size == 500, s"stream ${s.size} vs batch ${b.size}")
  }

  test("composed corpus gate: the streamed s1-s4 prefix (robots, " +
    "scrub, stored-set censor, gopher) equals the batch corpus " +
    "build's s4 on the same documents") {
    val dir = "/root/testdata/sf0.001"
    val docsBatch = graft.Tables.documents(spark, dir)
    // the fixture reline CorpusBuildSpec uses (two tokens per line)
    def reline(c: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val toks = filter(split(lower(c), "\\s+"), t => length(t) > 0)
      val nL = greatest(((size(toks) + lit(1)) / lit(2)).cast("int"),
        lit(1))
      array_join(transform(sequence(lit(0), nL - 1),
        i => array_join(slice(toks, i * 2 + 1, lit(2)), " ")), "\n")
    }
    val rules = graft.ext.UrlOps.parseRobots(
      graft.SparkEntry.x171Robots(docsBatch))
    // batch side — the oracle: the corpus build's s4 stage
    val stages = graft.ext.CorpusBuild.run(
      graft.SparkEntry.x171Docs(docsBatch),
      graft.SparkEntry.x171Urls(docsBatch), rules,
      isTarget = col("source") === "src0",
      minWords = 20L, minDfLine = 20L, minJaccard = 0.35,
      selectK = 180, packBudget = 256L, nShards = 4,
      reline = _ => reline(col("text")))
    val batchS4 = stages.s4Gopher
      .select("doc_id", "source", "text", "n_lines", "n_kept")
    // the stored boilerplate artifact: the batch census over the
    // scrubbed+relined corpus (what the batch censor derived)
    val boiler = graft.ext.Cleanse.boilerplateLineSet(
      stages.s2Scrubbed.withColumn("text", reline(col("text"))), 20L)
      .localCheckpoint(true)
    // stream side: same documents as a bounded stream, the x171
    // plants + url derivation applied as stateless projections (the
    // url expressions mirror x171Urls — drift would fail equivalence)
    val docsStream = spark.readStream.schema(docsBatch.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val withUrls = graft.SparkEntry.x171Docs(docsStream)
      .select(col("doc_id"), col("source"), col("text"),
        concat(lit("site"), pmod(col("doc_id"), lit(7L)).cast("string"),
          lit(".example")).as("domain"),
        concat(lit("/src"), pmod(col("doc_id"), lit(10L)).cast("string"),
          when(pmod(col("doc_id"), lit(2L)) === 0, lit("/Page/p"))
            .otherwise(lit("/p")),
          col("doc_id").cast("string")).as("path"))
    val streamed = StreamingOps.runBounded(spark,
      StreamingOps.streamingCorpusGate(withUrls, rules, boiler,
        minWords = 20L, reline = _ => reline(col("text"))),
      "corpus_gate_test", OutputMode.Complete())
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batchS4.collect().map(_.toSeq).toSet
    assert(s == b && s.nonEmpty,
      s"stream ${s.size} rows vs batch ${b.size}")
    // all four gates bit on this fixture: the prefix is smaller than
    // the corpus but non-trivial
    assert(s.size < 500)

    // the C4-folded gate (fifth stage, stateless after the one
    // aggregation) equals the batch s4 -> c4LineFilters composition
    val batchC4 = graft.ext.Curation.c4LineFilters(batchS4,
        minWordsPerLine = 2, passthrough = Seq("source"))
      .filter(col("keep"))
      .select(col("doc_id"), col("source"),
        col("clean_text").as("text"), col("n_lines"), col("n_kept"))
    val streamedC4 = StreamingOps.runBounded(spark,
      StreamingOps.streamingCorpusGate(withUrls, rules, boiler,
        minWords = 20L, reline = _ => reline(col("text")),
        c4MinWordsPerLine = 2),
      "corpus_gate_c4_test", OutputMode.Complete())
    val sc4 = streamedC4.collect().map(_.toSeq).toSet
    val bc4 = batchC4.collect().map(_.toSeq).toSet
    assert(sc4 == bc4, s"C4 stream ${sc4.size} vs batch ${bc4.size}")
    // the synthetic corpus carries no terminal punctuation, so the C4
    // sentence rule legitimately drops every page here — the folded
    // stage and the batch composition must agree on exactly that; the
    // keep/drop split is exercised on the punctuated fixture below
    assert(sc4.size < s.size)
  }

  test("C4-folded corpus gate: the fifth stage keeps punctuated pages " +
    "and drops C4 failures, stream equals the batch composition") {
    import spark.implicits._
    val good = "the quick brown fox jumps over to the lazy dog."
    val docs = Seq(
      (1L, "srcA", Seq(good, good, good, good).mkString("\n")),
      (2L, "srcA", // no terminal punctuation -> 0 kept lines
        Seq.fill(4)(good.stripSuffix(".")).mkString("\n")),
      (3L, "srcA", // page-level phrase tell
        Seq(good, good, good, "and lorem ipsum filler text here.")
          .mkString("\n")),
      (4L, "srcA", // code tell
        Seq(good, good, good, "the brace token { appears here.")
          .mkString("\n")),
      (5L, "srcA", // only 2 kept lines < minKeptLines
        Seq(good, good).mkString("\n")))
      .toDF("doc_id", "source", "text")
      .withColumn("domain", lit("d.com"))
      .withColumn("path", concat(lit("/p"), col("doc_id")))
    val rules = graft.ext.UrlOps.parseRobots(
      Seq(("d.com", "User-agent: *\nAllow: /")).toDF("domain", "robots_txt"))
      .localCheckpoint(true)
    val boiler = Seq.empty[Long].toDF("h") // nothing is boilerplate
    // batch twin: the s1-s4 stages (same DataFrame program on a batch
    // frame) composed with the batch c4LineFilters
    val batchS4 = StreamingOps.streamingCorpusGate(docs, rules, boiler,
      minWords = 5L)
    val batchC4 = graft.ext.Curation.c4LineFilters(batchS4,
        minWordsPerLine = 2, passthrough = Seq("source"))
      .filter(col("keep"))
      .select(col("doc_id"), col("source"),
        col("clean_text").as("text"), col("n_lines"), col("n_kept"))
    TempDirs.withTempDir("c4gate") { dir =>
      docs.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val docsStream = spark.readStream.schema(docs.schema)
        .parquet(s"$dir/documents.parquet")
      val streamed = StreamingOps.runBounded(spark,
        StreamingOps.streamingCorpusGate(docsStream, rules, boiler,
          minWords = 5L, c4MinWordsPerLine = 2),
        "c4_fold_test", OutputMode.Complete())
      val s = streamed.collect().map(_.toSeq).toSet
      val b = batchC4.collect().map(_.toSeq).toSet
      assert(s == b, s"stream $s vs batch $b")
      // exactly doc 1 survives: 2 fails the sentence rule, 3/4 the page
      // tells, 5 the minKeptLines floor
      assert(s.map(_.head) == Set(1L), s"survivors $s")
    }
  }

  test("streaming C4 gate equals the batch c4LineFilters — stateless, " +
    "append mode") {
    import spark.implicits._
    val good = "the quick brown fox jumps over to the lazy dog."
    val docs = Seq(
      (1L, Seq(good, good, good, "a short line").mkString("\n")),
      (2L, Seq.fill(4)(good.stripSuffix(".")).mkString("\n")),
      (3L, Seq(good, good, good, "enable javascript to view it.")
        .mkString("\n")),
      (4L, Seq(good, good, good, "and lorem ipsum filler text here.")
        .mkString("\n")),
      (5L, Seq(good, good, good, "the brace token { appears here.")
        .mkString("\n")))
      .toDF("doc_id", "text")
    TempDirs.withTempDir("c4stream") { dir =>
      docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
      val stream = spark.readStream.schema(docs.schema)
        .parquet(s"$dir/documents.parquet")
      val s = StreamingOps.runBounded(spark,
          graft.ext.Curation.c4LineFilters(stream), "c4_gate_test",
          OutputMode.Append())
        .collect().map(_.toSeq).toSet
      val b = graft.ext.Curation.c4LineFilters(docs)
        .collect().map(_.toSeq).toSet
      assert(s == b, s"stream $s vs batch $b")
      // docs 1 and 3 keep their three sentences; 2 has no terminal
      // punctuation, 4 and 5 fail the page tells
      assert(s.collect { case r if r(4) == true => r.head } == Set(1L, 3L))
    }
  }

  test("streaming perplexity gate: the uncollapsed stored-ARPA walk " +
    "equals the batch log-domain scorer bit for bit") {
    val dir = "/root/testdata/sf0.001"
    val docsBatch = graft.Tables.documents(spark, dir)
    TempDirs.withTempDir("st_ppl") { tmp =>
      val path = tmp.resolve("m.arpa").toString
      graft.sources.Arpa.writeLevels(path,
        graft.ext.TextOps.knArpaLevels(docsBatch, order = 2,
          vocabSize = 256))
      val scoredBatch = graft.ext.TextOps.knCrossEntropyStoredArpa(
        spark, docsBatch, path)
      // gate at the corpus median so the threshold demonstrably splits
      val thr = scoredBatch.select("h10").collect().map(_.getDouble(0))
        .sorted.apply(250)
      val batch = scoredBatch.withColumn("pass", col("h10") <= thr)
      val docsStream = spark.readStream.schema(docsBatch.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val streamed = StreamingOps.runBounded(spark,
        StreamingOps.streamingPerplexityGate(spark, docsStream, path,
          maxH10 = thr),
        "ppl_gate_test", OutputMode.Complete())
      val s = streamed.collect().map(_.toSeq).toSet
      val b = batch.collect().map(_.toSeq).toSet
      assert(s == b && s.size == 500, s"stream ${s.size} vs batch ${b.size}")
      // the threshold splits the corpus (gate is non-trivial)
      val nPass = streamed.filter(col("pass")).count()
      assert(nPass > 0 && nPass < 500, s"pass count $nPass")
    }
  }

  test("streaming domain gate: the one-aggregation dual-model walk " +
    "equals the two-scorer Moore-Lewis composition bit for bit") {
    val dir = "/root/testdata/sf0.001"
    val docsBatch = graft.Tables.documents(spark, dir)
    TempDirs.withTempDir("st_ml") { tmp =>
      val tPath = tmp.resolve("t.arpa").toString
      val gPath = tmp.resolve("g.arpa").toString
      graft.sources.Arpa.writeLevels(tPath,
        graft.ext.TextOps.knArpaLevels(
          docsBatch.filter(col("source") === "src0"), order = 2,
          vocabSize = 128))
      graft.sources.Arpa.writeLevels(gPath,
        graft.ext.TextOps.knArpaLevels(docsBatch, order = 2,
          vocabSize = 128))
      // batch twin: the TWO-scorer composition (collapsed occurrences,
      // separate walks) — the integer sums make the one-pass dual walk
      // provably equal
      val ht = graft.ext.TextOps.knCrossEntropyStoredArpa(
        spark, docsBatch, tPath).toDF("doc_id", "n_bigrams", "h_target")
      val hg = graft.ext.TextOps.knCrossEntropyStoredArpa(
        spark, docsBatch, gPath).toDF("doc_id", "ng", "h_general")
      val batch = ht.join(hg.select(col("doc_id"), col("h_general")),
          Seq("doc_id"))
        .withColumn("ml_score", col("h_general") - col("h_target"))
        .withColumn("pass", col("ml_score") >= 0.0)
      val docsStream = spark.readStream.schema(docsBatch.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val streamed = StreamingOps.runBounded(spark,
        graft.ext.TextOps.mooreLewisGate(spark, docsStream, tPath, gPath,
          minMl = 0.0),
        "domain_gate_test", OutputMode.Complete())
      val s = streamed.collect().map(_.toSeq).toSet
      val b = batch.collect().map(_.toSeq).toSet
      assert(s == b && s.size == 500, s"stream ${s.size} vs batch ${b.size}")
      val nPass = streamed.filter(col("pass")).count()
      assert(nPass > 0 && nPass < 500, s"pass count $nPass")
      // src0 (the in-domain slice the target model trained on) passes at
      // a higher rate than the rest
      val src0Ids = docsBatch.filter(col("source") === "src0")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val passIds = streamed.filter(col("pass"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val r0 = src0Ids.count(passIds).toDouble / src0Ids.size
      val rRest = (passIds.size - src0Ids.count(passIds)).toDouble /
        (500 - src0Ids.size)
      assert(r0 > rRest, s"src0 pass rate $r0 vs rest $rRest")
    }
  }

  test("streaming ccnet bucket gate: arrivals verdict against the " +
    "STORED per-language thresholds, equal to the batch threshold " +
    "application") {
    val dir = "/root/testdata/sf0.001"
    val docsBatch = graft.Tables.documents(spark, dir)
    TempDirs.withTempDir("st_ccnet") { tmp =>
      val path = tmp.resolve("m.arpa").toString
      graft.sources.Arpa.writeLevels(path,
        graft.ext.TextOps.knArpaLevels(docsBatch, order = 2,
          vocabSize = 256))
      // the batch job's stored artifact: per-language h10 terciles
      val scoredBatch = graft.ext.TextOps.knCrossEntropyStoredArpa(
        spark, docsBatch, path, passthrough = Seq("lang"))
      val thr = graft.ext.Curation.ccnetThresholds(scoredBatch,
        scoreCol = "h10").localCheckpoint(true)
      val batch = graft.ext.Curation.ccnetApplyThresholds(scoredBatch,
        thr, scoreCol = "h10")
      val docsStream = spark.readStream.schema(docsBatch.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val streamed = StreamingOps.runBounded(spark,
        StreamingOps.streamingCcnetBucketGate(spark, docsStream, path,
          thr),
        "ccnet_bucket_gate_test", OutputMode.Complete())
      val s = streamed.collect().map(_.toSeq).toSet
      val b = batch.collect().map(_.toSeq).toSet
      assert(s == b && s.size == 500, s"stream ${s.size} vs batch ${b.size}")
      // the verdict is non-trivial: all three buckets occur
      val buckets = streamed.select("bucket").distinct()
        .collect().map(_.getString(0)).toSet
      assert(buckets == Set("head", "middle", "tail"), s"got $buckets")
    }
  }

  test("composed corpus+LM gate: ONE aggregation carries the censor " +
    "reassembly AND both model walks; stream equals the piecewise " +
    "batch composition bit for bit") {
    import spark.implicits._
    val fox = "the quick brown fox jumps over to the lazy dog."
    val greek = "alpha beta gamma delta epsilon zeta eta theta iota."
    val docs = Seq(
      (1L, "srcA", Seq.fill(4)(fox).mkString("\n")),
      (2L, "srcA", Seq.fill(4)(greek).mkString("\n")),
      (3L, "srcA", Seq(fox, greek, fox, greek).mkString("\n")),
      (4L, "srcA", Seq(fox, fox, greek, fox).mkString("\n")),
      (5L, "srcA", "too short."), // fails the gopher word floor
      (6L, "srcA", Seq.fill(3)(greek + " " + greek).mkString("\n")))
      .toDF("doc_id", "source", "text")
      .withColumn("domain", lit("d.com"))
      .withColumn("path", concat(lit("/p"), col("doc_id")))
    val rules = graft.ext.UrlOps.parseRobots(
      Seq(("d.com", "User-agent: *\nAllow: /"))
        .toDF("domain", "robots_txt")).localCheckpoint(true)
    val boiler = Seq.empty[Long].toDF("h")
    TempDirs.withTempDir("st_clm") { tmp =>
      val tPath = tmp.resolve("t.arpa").toString
      val gPath = tmp.resolve("g.arpa").toString
      // target model: the fox dialect; general: everything
      graft.sources.Arpa.writeLevels(tPath,
        graft.ext.TextOps.knArpaLevels(
          docs.filter(col("doc_id").isin(1L, 4L)), order = 2,
          vocabSize = 64))
      graft.sources.Arpa.writeLevels(gPath,
        graft.ext.TextOps.knArpaLevels(docs, order = 2, vocabSize = 64))
      // piecewise batch twin: the s1-s4 corpus prefix joined with the
      // dual-model scorer over the SAME scrubbed pre-censor text, both
      // verdicts applied — what the fused one-agg form must reproduce
      val s4 = StreamingOps.streamingCorpusGate(docs, rules, boiler,
        minWords = 10L)
      val s2batch = graft.ext.UrlOps.robotsAllowedOnlyByPath(docs, rules)
        .select(col("doc_id"), col("source"),
          graft.ext.Cleanse.redactPii(col("text")).as("text"))
      val ml = graft.ext.TextOps.mooreLewisGate(spark, s2batch, tPath,
        gPath, minMl = 0.0)
      val maxH10 = 10.0
      val batch = s4.join(ml.select("doc_id", "n_bigrams", "h_target",
          "h_general", "ml_score"), Seq("doc_id"))
        .filter(col("h_general") <= maxH10 && col("ml_score") >= 0.0)
        .select("doc_id", "source", "text", "n_lines", "n_kept",
          "n_bigrams", "h_target", "h_general", "ml_score")
      val fdir = tmp.resolve("docs")
      docs.coalesce(1).write.mode("overwrite")
        .parquet(s"$fdir/documents.parquet")
      val docsStream = spark.readStream.schema(docs.schema)
        .parquet(s"$fdir/documents.parquet")
      val streamed = StreamingOps.runBounded(spark,
        graft.ext.TextOps.corpusLmGate(spark, docsStream, rules,
          boiler, tPath, gPath, maxH10 = maxH10, minMl = 0.0,
          minWords = 10L),
        "corpus_lm_gate_test", OutputMode.Complete())
      val s = streamed.collect().map(_.toSeq).toSet
      val b = batch.collect().map(_.toSeq).toSet
      assert(s == b, s"stream ${s.size} rows vs batch ${b.size}")
      // both gate families bite: doc 5 falls to gopher, the greek docs
      // to the domain gate; at least one fox doc survives everything
      val ids = streamed.select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(ids.nonEmpty && ids.subsetOf(Set(1L, 3L, 4L)), s"got $ids")
      assert(!ids.contains(2L) && !ids.contains(5L) && !ids.contains(6L))
    }
  }

  test("streaming bloom gate: arrivals probe the stored word table " +
    "in ONE aggregation; stream equals the batch probe rollup; " +
    "benchmark docs are always fully claimed (no false negatives)") {
    val dir = "/root/testdata/sf0.001"
    val docsBatch = graft.Tables.documents(spark, dir)
    val keyOf = graft.functions.ShingleHashesAll(col("text"), 3)
    val benchKeys = docsBatch
      .filter(pmod(col("doc_id"), lit(13L)) === 0L)
      .select(explode(keyOf).as("key")).distinct()
    val m = 1 << 15
    val words = graft.ext.Sketch.bloomBuild(benchKeys, "key", m, 3)
      .localCheckpoint(true)
    val probesB = docsBatch.select(col("doc_id"),
      explode_outer(array_distinct(keyOf)).as("key"))
    val batch = graft.ext.Sketch
      .bloomProbe(probesB, words, "key", m, 3, keep = Seq("doc_id"))
      .groupBy("doc_id")
      .agg(count(col("key")).as("n_windows"),
        sum(when(col("maybe"), 1L).otherwise(0L)).as("n_maybe_hits"))
    val docsStream = spark.readStream.schema(docsBatch.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val streamed = StreamingOps.runBounded(spark,
      StreamingOps.streamingBloomGate(docsStream, words, m, 3),
      "bloom_gate_test", OutputMode.Complete())
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b && s.size == 500, s"stream ${s.size} vs batch ${b.size}")
    // the one-sided guarantee at the door: every benchmark doc's
    // windows are all claimed
    val fn = streamed
      .filter(pmod(col("doc_id"), lit(13L)) === 0L &&
        col("n_maybe_hits") < col("n_windows")).count()
    assert(fn == 0, s"$fn benchmark docs read partially absent")
  }

  test("streaming span decontamination: the window-free island fold " +
    "equals the batch x218 strip on every document") {
    val dir = "/root/testdata/sf0.001"
    val docsBatch = graft.Tables.documents(spark, dir)
    val bench = docsBatch.filter(col("source") === "src0")
    val batch = graft.ext.Curation.decontaminateSpans(
      docsBatch.filter(col("source") =!= "src0"), bench, shingleK = 3)
    val docsStream = spark.readStream.schema(docsBatch.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val streamed = StreamingOps.runBounded(spark,
      StreamingOps.streamingDecontamGate(
        docsStream.filter(col("source") =!= "src0"),
        bench.localCheckpoint(true), shingleK = 3),
      "decontam_gate_test", OutputMode.Complete())
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b && s.nonEmpty, s"stream ${s.size} vs batch ${b.size}")
    // the gate bites: some docs lose spans, all docs survive
    assert(streamed.filter(col("n_removed") > 0).count() > 0)
    assert(streamed.count() ==
      docsBatch.filter(col("source") =!= "src0").count())
  }
}
