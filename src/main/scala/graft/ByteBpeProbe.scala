package graft

import org.apache.spark.sql.functions._

/** Dev measurement main for the byte-BPE rules-vs-throughput question
  * (SURVEY §9): train a real merge table in-engine past fixture size,
  * then time [[graft.ext.TextOps.byteBpeReport]] under growing prefixes
  * of it over the corpus at SPARK_GRAFT_SF_DIR. The tokenizer kernel
  * compiles the table once per (table, thread) and caches encoded
  * pre-tokens, so the cost question is "does a 10× rule table slow the
  * scan?" — this prints the answer instead of guessing it.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          sbt -batch "runMain graft.ByteBpeProbe [nMerges]"
  */
object ByteBpeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nMerges = args.headOption.map(_.toInt).getOrElse(200)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the raw synthetic corpus exhausts its pair pool at ~126 merges;
    // the ByteBpeSpec augmentation (messy x115 text + rotating phonetic
    // words) widens the vocabulary so deeper tables can train
    val phon = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra",
      "tango", "uniform", "victor", "whiskey", "xray", "yankee", "zulu")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), concat(col("text"), lit(" "),
        element_at(typedLit(Seq("it's  two  spaces ", "дd 😀! don't stop",
          "水水水 water 99'", "x=42; a[i]*99 !!'s 'quote")),
          (col("doc_id") % 4).cast("int") + 1),
        lit(" "), element_at(typedLit(phon),
          (col("doc_id") % 26).cast("int") + 1),
        lit(" "), element_at(typedLit(phon),
          ((col("doc_id") * 7 + 3) % 26).cast("int") + 1)).as("text"))
      .localCheckpoint()
    val t0 = System.nanoTime()
    val learned = ext.TextOps.trainByteBpeMergesFast(docs, nMerges)
    val trainSec = (System.nanoTime() - t0) / 1e9
    println(f"[probe] trained ${learned.length} merges in $trainSec%.2f s")
    val table = learned.map(m => (m._1, m._2))
    for (k <- Seq(20, 50, 100, learned.length); rep <- 1 to 3) {
      val t1 = System.nanoTime()
      val n = docs.select(sum(col("doc_id") * 0 +
          graft.functions.ByteBpeStats(col("text"), table.take(k))
            .getField("n_byte_tokens")))
        .head().getLong(0)
      val dt = (System.nanoTime() - t1) / 1e9
      println(f"[probe] rules=$k%4d rep=$rep tokens=$n time=$dt%.3f s")
    }
    // PRODUCTION-size half: the trained table padded to 1k/5k/50k with
    // inert rules (invalid-UTF-8 chains — fire on nothing, so the scan
    // measures pure per-rule kernel cost). Past BpeKernel's threshold
    // the encoder switches to the min-rank hash loop, whose cost is
    // rule-count-INDEPENDENT — this prints the proof. Compile cost is
    // timed separately (once per table per executor in production).
    for (k <- Seq(1000, 5000, 50000)) {
      val big = graft.functions.ByteBpe.padWithInertRules(table, k)
      val tc = System.nanoTime()
      graft.functions.BpeKernel.compile(big)
      val compileSec = (System.nanoTime() - tc) / 1e9
      for (rep <- 1 to 3) {
        val t1 = System.nanoTime()
        val n = docs.select(sum(col("doc_id") * 0 +
            graft.functions.ByteBpeStats(col("text"), big)
              .getField("n_byte_tokens")))
          .head().getLong(0)
        val dt = (System.nanoTime() - t1) / 1e9
        println(f"[probe] rules=$k%5d rep=$rep tokens=$n " +
          f"time=$dt%.3f s (compile=$compileSec%.3f s)")
      }
    }
    spark.stop()
  }
}
