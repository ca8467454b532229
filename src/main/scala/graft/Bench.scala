package graft

/** Benchmark main: runs every SparkEntry.queries entry against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line on stdout.
  *
  * Hang-proofing (hardened after three rounds of lost perf signal):
  *  - each query runs through `GraftSession.runEntry`, which cancels
  *    it at its timeout and waits for it to stop before cleaning up;
  *  - a global wall budget *well below* the driver's outer timeout —
  *    round 3 proved the driver host can run 3-10x slower than this box
  *    (rc=124 outer kill with the internal 450 s guard never firing), so
  *    the internal budget now defaults to 300 s and queries run in
  *    priority order (work-dominated operators first, fixed-overhead
  *    streaming last) so budget exhaustion sheds the least-informative
  *    entries;
  *  - target/bench.json is rewritten after EVERY query, so even an
  *    outer kill mid-run leaves parseable partial results on disk;
  *  - the final act is: write file, stop the session (capped at
  *    15 s), print the bare JSON line, flush, exit through `MainExit`
  *    (shutdown hooks log to stderr only, and a watchdog halts the JVM
  *    if they hang).
  * Per-query progress goes to stderr; stdout carries only the JSON line.
  */
object Bench {

  // 40 s: every healthy query runs in <=7 s at sf0.1 locally; a 4x-slow
  // host stays under 30 s, and a single DNF burns at most ~13% of the
  // internal budget.
  val PerQueryTimeoutSec: Long =
    sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "40").toLong
  // Must be comfortably below the driver's outer wall budget (~450 s),
  // which also has to cover sbt launch + session startup + warmup on a
  // host observed to run up to ~4x slower than local runs. 320 (round
  // 12, shed=0 task): r11's driver run hit the 300 s guard with 299.2 s
  // of measured work and shed its last 3 entries (~6 s); +20 s of
  // headroom covers exactly that tail while still leaving ≥130 s of
  // outer margin for launch + startup + the capped 15 s quiesce.
  val GlobalBudgetSec: Long =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "320").toLong

  /** Queries in the order they should spend budget: the operators whose
    * runtime actually measures work (dedup/similarity/pipeline kernels,
    * then the relational core), and only then the entries dominated by
    * fixed scheduling/micro-batch overhead (a-block roundtrips,
    * streaming). Within a rank, alphabetical for stability.
    */
  private val priorityRank: String => Int = { name =>
    val headliners = Set(
      "d4_ngram_jaccard", "d15_jaccard_lsh", "d2_minhash_lsh", "d3_simhash",
      "d13_embed_neardup", "d20_dedup_clusters", "d23_minhash_estimate",
      "d5_knn_cosine", "d6_lsh_ann", "d16_tfidf", "d22_unigram_logprob",
      "d30_corpus_curation",
      // round-4 work-dominated additions — must survive slow-host shedding
      "d35_ccnet_buckets", "d38_bigram_surprisal", "d39_containment",
      "d40_kmeans_fit", "d41_ann_pipeline",
      // round-5: DSIR importance weights (token-stream work-dominated)
      "d43_dsir_weights",
      // round-5: trained NB classifier + PQ ADC search (both
      // work-dominated: full tokenize pass / full encode+score pass)
      "d44_nb_classifier", "d45_pq_adc",
      // round-5: Kneser-Ney bigram scoring (full bigram dictionary pass)
      "d49_kneser_ney",
      // round-5: banded edit-distance screen (6x DuckDB's full matrix)
      "d52_edit_distance",
      // round-6: overlapping-8-gram substring dedup (full gram pass)
      // and the corpus-wide kNN graph (LSH self-join + kernel)
      "d53_substring_dedup", "d54_knn_graph",
      // round-6: star-contraction components (the second closure
      // headline next to d20) and simhash cluster canonicalization
      "d55_semdedup_components", "d57_cluster_rep",
      // round-8: winnowing (full gram-hash + window-minima pass) and
      // line-level dedup (full line hash pass + keeper argmin)
      "d61_winnowing", "d63_line_dedup")
    name match {
      case n if headliners(n) => 0
      case n if n.startsWith("d") => 1
      case n if n.startsWith("a") => 3
      case n if n.startsWith("s") => 4 // streaming: micro-batch machinery floor
      case _ => 2 // relational / events / extension entries
    }
  }

  /** Within the streaming rank, run CHEAPEST-FIRST (round 12, shed=0
    * task): budget exhaustion sheds from the END of the run order, and
    * r11's driver run shed s7/s8/s9 (sub-2 s each, alphabetically last)
    * after s17 had already spent 22 s — exactly the wrong entries to
    * lose. Order is the measured r10/r11 driver walls ascending; a
    * name not in the table (a future entry) sorts last in the block —
    * unproven cost is what shedding should hit first.
    */
  private val streamOrder: Map[String, Int] = Seq(
    "s15_stream_manifest", "s10_stream_incremental_dedup",
    "s7_stream_foreach_batch", "s8_stream_enrich",
    "s9_stream_session_window", "s12_stream_checkpoint_recovery",
    "s11_stream_available_now", "s14_stream_timeout_session",
    "s2_stream_dedup", "s3_stream_session", "s4_stream_window_append",
    "s16_stream_heavy_hitters", "s1_stream_window",
    "s6_stream_dedup_watermark", "s13_stream_outer_join",
    "s5_stream_join", "s17_stream_decontam").zipWithIndex.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Untimed warm-up: the JVM, codegen and parquet paths, then the
    // first-use compilation of the shuffle/aggregate/join/window
    // machinery on synthetic rows (no benched table is touched), so the
    // first measured query does not pay ~5 s the others never pay. It
    // runs as an entry, so the entry cleanup leaves nothing of it behind.
    GraftSession.runEntry(spark, "warmup", PerQueryTimeoutSec) {
      import org.apache.spark.sql.functions._
      spark.range(1_000_000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
      val w = spark.range(2000).selectExpr("id",
        "concat('w', cast(id % 97 as string), ' x y z') as text")
      val toks = w.selectExpr("id", "explode(split(text, ' ')) tok")
        .groupBy("tok").agg(count(lit(1)).as("n"))
      toks.join(broadcast(toks.limit(50)), Seq("tok"), "left_semi")
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("tok")).orderBy(col("n"))))
        .filter(col("r") === 1).count()
    }

    val start = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - start) / 1e9

    // Locale.ROOT: the stdout contract is JSON — a comma-decimal default
    // locale must not corrupt the numbers.
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def renderJson(results: Seq[(String, Double)]): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("{", ",", "}")
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    }
    // The driver captures only the last ~2000 chars of the run's output
    // and parses the JSON line from that window (r4 post-mortem: bare
    // complete line, rc=0, parsed:null because the 130-entry queries map
    // pushed the line start out of the window). The stdout line therefore
    // carries the headline metric plus as many per-query timings as fit a
    // hard budget — real DNFs (timeout/error, -1) first, then the most
    // expensive measured queries, i.e. exactly the entries a perf reader
    // needs — with an "omitted" count. Budget-SHED entries (never
    // attempted on a slow host — benign by design, the priority order
    // sheds fixed-overhead entries) are NOT spelled out as -1 noise:
    // they are counted in "shed" and appear in target/bench.json with a
    // distinct -2 sentinel (real DNFs stay -1), so neither the stdout
    // line nor a cross-round bench.json diff mistakes benign shedding
    // for DNF regressions.
    def renderCompactJson(results: Seq[(String, Double)], shed: Set[String],
        maxChars: Int = 1500): String = {
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      val ordered = results
        .filterNot { case (k, _) => shed(k) }
        .sortBy { case (_, v) => if (v < 0) Double.MinValue else -v }
      val head = s"""{"metric":"total","value":${num(total)},"unit":"sec","sf":"$sfDir","n":${results.size},"shed":${shed.size},"queries":{"""
      val tailReserve = s"""},"omitted":${results.size}}""".length
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      var len = head.length + tailReserve
      var omitted = 0
      ordered.foreach { case (k, v) =>
        val e = "\"" + k + "\":" + num(v)
        if (len + e.length + 1 <= maxChars) { entries += e; len += e.length + 1 }
        else omitted += 1
      }
      head + entries.mkString(",") + s"""},"omitted":$omitted}"""
    }
    def writeFallback(json: String): Unit =
      try {
        val out = java.nio.file.Paths.get("target", "bench.json")
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
      } catch { case e: Throwable => System.err.println(s"[bench] bench.json write failed: $e") }

    // optional args = query-name filter, for timing single queries while
    // iterating (the driver invokes with no args → full suite)
    val wanted = SparkEntry.queries.toSeq
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
      .sortBy { case (n, _) => (priorityRank(n), streamOrder.getOrElse(n, 99), n) }
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val shed = scala.collection.mutable.Set.empty[String]
    wanted.foreach { case (name, fn) =>
      val remaining = GlobalBudgetSec - elapsedSec
      if (remaining < 2) {
        System.err.println(s"[bench] $name SKIPPED (global budget exhausted)")
        results += name -> -2.0 // shed sentinel: never attempted (-1 = real DNF)
        shed += name
      } else {
        val budget = math.min(PerQueryTimeoutSec, remaining.toLong + 1)
        val outcome = GraftSession.runEntry(spark, name, budget)(fn(spark, sfDir).count())
        val sec = outcome match {
          case GraftSession.Outcome.Done(sec) =>
            System.err.println(f"[bench] $name%-24s $sec%8.2fs")
            sec
          case _ =>
            System.err.println(s"[bench] $name ${outcome.describe}")
            -1.0
        }
        results += name -> sec
        writeFallback(renderJson(results.toSeq)) // partial results survive an outer kill
      }
    }

    val json = renderJson(results.toSeq)
    writeFallback(json)
    // Quiesce BEFORE printing (round-2 failure mode: shutdown noise
    // interleaving with the JSON line), but with a hard cap (round-3
    // failure mode: an unbounded quiesce hanging past the outer wall
    // budget): stop() normally silences executor logging and cleans the
    // shuffle temp dirs in ~1 s; if a stuck task blocks it, the daemon
    // thread is abandoned after 15 s and we print anyway.
    MainExit.stop(spark)
    println(renderCompactJson(results.toSeq, shed.toSet))
    System.out.flush()
    MainExit.exit(0)
  }
}
