package graft

import graft.queries.Pipeline
import org.apache.spark.sql.Row

import java.io.File
import java.nio.file.Files

/** The chunk-salted self-joins of d4 (and d140, through the same
  * scan), d20, d39 and the LSH engine (d13/d54) size their salt from
  * the table's footer row count: a key never holds more rows than its
  * table, so at n ≤ saltCap every key is one chunk and no per-key size
  * aggregate is built. Past the cap, or when the footers cannot answer,
  * the aggregate path runs and the rows stay the same. d23 reads its
  * small-path decision from the same count. sfTiny has 500 documents
  * and 500 embeddings, under both saltCap defaults (2000). */
class SaltWidthSpec extends SparkSpecBase {

  private def endEntry(): Unit = {
    spark.catalog.clearCache()
    Pipeline.resetScalarCaches()
  }

  private def rows(name: String, dir: String): Seq[Row] = {
    val out = Pipeline.queries(name)(spark, dir).collect().toSeq
    endEntry()
    out
  }

  private def executedPlan(name: String, dir: String): String = {
    val df = Pipeline.queries(name)(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    endEntry()
    p
  }

  private def withSaltCap[T](cap: Int)(body: => T): T = {
    spark.conf.set("graft.lsh.saltCap", cap.toString)
    try body finally spark.conf.unset("graft.lsh.saltCap")
  }

  /** sfTiny's documents and embeddings, each as a directory whose
    * `_common_metadata` summary file makes the footer row count None. */
  private lazy val noFooterCountDir: String = {
    val dir = scratch("salt_no_footer_count")
    Seq("documents", "embeddings").foreach { t =>
      val tdir = new File(s"$dir/$t.parquet")
      tdir.mkdirs()
      val src = new File(s"$sfTiny/$t.parquet").toPath
      Files.copy(src, new File(tdir, "part-00000.parquet").toPath)
      Files.copy(src, new File(tdir, "_common_metadata").toPath)
    }
    dir
  }

  test("at n <= saltCap, building d4, d20 and d54 starts no Spark job") {
    assert(Tables.rowCount(spark, sfTiny, "documents").exists(_ <= 2000))
    assert(Tables.rowCount(spark, sfTiny, "embeddings").exists(_ <= 2000))
    for (name <- Seq("d4_ngram_jaccard", "d20_dedup_clusters", "d54_knn_graph")) {
      assert(jobsStarted(Pipeline.queries(name)(spark, sfTiny)) == 0, name)
      endEntry()
    }
  }

  test("at n <= saltCap, the executed plans hold no block-size or bucket-size aggregate") {
    for (name <- Seq("d4_ngram_jaccard", "d20_dedup_clusters", "d140_dedup_waterfall",
        "d39_containment", "d13_embed_neardup", "d54_knn_graph")) {
      val p = executedPlan(name, sfTiny)
      assert(!p.contains("block_n") && !p.contains("bkt_n"), s"$name:\n$p")
      // with literal salt columns both sides of d4's pair join read one
      // repartition exchange
      if (name == "d4_ngram_jaccard")
        assert(p.contains("ReusedExchange"), s"$name: the pair join sides do not share an exchange:\n$p")
    }
  }

  test("d23 at documents <= graft.d23.sigBroadcastCap: building it starts no Spark job") {
    // reps ≤ documents, so the footer row count picks the broadcast path
    // and the membership gate without counting reps or documents
    assert(jobsStarted(Pipeline.queries("d23_minhash_estimate")(spark, sfTiny)) == 0)
    endEntry()
  }

  test("graft.lsh.saltCap below n: the salted LSH plan returns the same rows") {
    for (name <- Seq("d13_embed_neardup", "d54_knn_graph")) {
      val plain = rows(name, sfTiny)
      val (p, salted) = withSaltCap(50)((executedPlan(name, sfTiny), rows(name, sfTiny)))
      assert(p.contains("bkt_n"), s"$name: no bucket-size aggregate under saltCap 50:\n$p")
      assert(plain.nonEmpty && salted == plain, s"$name: ${salted.size} vs ${plain.size} rows")
    }
  }

  test("tables the footers cannot count take the salted path with the same rows") {
    assert(Tables.rowCount(spark, noFooterCountDir, "documents").isEmpty)
    assert(Tables.rowCount(spark, noFooterCountDir, "embeddings").isEmpty)
    for (name <- Seq("d4_ngram_jaccard", "d20_dedup_clusters")) {
      val p = executedPlan(name, noFooterCountDir)
      assert(p.contains("block_n"), s"$name: no block-size aggregate:\n$p")
      assert(rows(name, noFooterCountDir) == rows(name, sfTiny), name)
    }
    // the LSH engine falls back to a count() job for its exact n
    assert(jobsStarted(Pipeline.queries("d54_knn_graph")(spark, noFooterCountDir)) > 0)
    endEntry()
    assert(rows("d54_knn_graph", noFooterCountDir) == rows("d54_knn_graph", sfTiny))
  }
}
