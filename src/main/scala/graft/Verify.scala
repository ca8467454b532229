package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hang-proofing (a single runaway query must never zero the round):
  *  - oracle_sql.json is written BEFORE the query loop, so already-dumped
  *    results stay scoreable even if the process is killed mid-loop;
  *  - every query runs in its own thread under a Spark job group with a
  *    hard timeout — on expiry the job group is cancelled and the loop
  *    moves on;
  *  - repartition(1) (a shuffle into one output file), NOT coalesce(1)
  *    (which would collapse the whole upstream computation to one task).
  */
object Verify {

  // 60 s: the slowest query at sf0.01 runs in ~5 s locally, so even a
  // 4x-slow driver host (observed round 3) clears it with 3x margin —
  // while a single pathological query can no longer eat 120 s of the
  // driver's outer wall budget.
  val PerQueryTimeoutSec: Long =
    sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "60").toLong

  /** Stress-sweep contract mode (SPARK_GRAFT_STRESS_CONTRACT=clusters):
    * d15/d23's outputs are linear in the PAIR set — at sf1 ~90% of
    * their wall time is Verify serializing 300-470 M pair rows, the
    * dump contract rather than the plan (BENCH_NOTES r6). In clusters
    * mode BOTH sides (the Spark dump and the dumped oracle SQL) are
    * wrapped in the same per-doc aggregate — pair count, partner-id
    * sum, and a sim×partner checksum — so the certified object is an
    * order-free fingerprint of the full pair set at O(docs) rows.
    * The official gate never sets the env, so the contract there stays
    * the raw pair dump. */
  private[graft] val pairContractSim: Map[String, String] = Map(
    "d15_jaccard_lsh" -> "jaccard",
    "d23_minhash_estimate" -> "est_jaccard")

  private def contractMode: String =
    sys.env.getOrElse("SPARK_GRAFT_STRESS_CONTRACT", "")

  private[graft] def pairClusterContract(df: DataFrame, simCol: String): DataFrame = {
    // ONE streaming pass over the pair set (round 13). History: a bare
    // unionAll re-ran the whole upstream pair query twice (Spark does
    // not CSE across union — r12's event log caught d23's salted band
    // join running twice); r12's fix pinned the pair frame, which
    // stopped the recompute but at sf10 wrote ~5·10^8 rows through the
    // block store and then read them back twice — the r13 d15 event
    // log showed the pin's read-back as an 83 s stage with 0.7 CPU-s
    // (pure cache-IO wait) plus a doubled aggregation. explode mirrors
    // each pair into both endpoints inside the SAME projection, so the
    // symmetrized stream feeds the aggregate directly: no persist, no
    // double read, and the aggregate's algebraic partials collapse the
    // 10^8-row stream map-side before its only shuffle.
    val u = df.select(explode(array(
        struct(col("doc_a").as("doc"), col("doc_b").as("other"), col(simCol).as("s")),
        struct(col("doc_b").as("doc"), col("doc_a").as("other"), col(simCol).as("s"))))
        .as("p"))
      .select(col("p.doc").as("doc"), col("p.other").as("other"), col("p.s").as("s"))
    // DECIMAL(38,0) sums, dumped as strings: BIGINT sums wrap silently
    // in Spark but raise in DuckDB's HUGEINT→BIGINT cast, so at the
    // 10⁸-pair scales this mode exists for an overflow would fail
    // ASYMMETRICALLY instead of comparing (ADVICE r7). The per-row
    // product stays BIGINT (bounded ≤ 97·10⁶); only accumulation
    // widens — the d55 edge-signature idiom.
    u.groupBy("doc").agg(
      count(lit(1)).as("n_pairs"),
      sum(col("other").cast("decimal(38,0)")).cast("string").as("partner_sum"),
      sum(expr("cast(round(s * 10000) as bigint) * ((other % 97) + 1)")
        .cast("decimal(38,0)")).cast("string").as("sim_check"))
      .orderBy("doc")
  }

  private def pairClusterContractSql(sql: String, simCol: String): String =
    s"""WITH graft_pairs AS ($sql),
       |graft_u AS (
       |  SELECT doc_a AS doc, doc_b AS other, $simCol AS s FROM graft_pairs
       |  UNION ALL
       |  SELECT doc_b AS doc, doc_a AS other, $simCol AS s FROM graft_pairs)
       |SELECT doc, CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(CAST(other AS DECIMAL(38,0))) AS VARCHAR) AS partner_sum,
       |       CAST(sum(CAST(CAST(round(s * 10000) AS BIGINT) * ((other % 97) + 1) AS DECIMAL(38,0))) AS VARCHAR) AS sim_check
       |FROM graft_u GROUP BY doc ORDER BY doc""".stripMargin

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Round 16: InferFiltersFromGenerate (SPARK-32295) copies the
      // generator's WHOLE input expression into an inferred
      // size(e)>0 filter, which predicate pushdown then moves below
      // exchanges — the engine's expensive generators (shingle, gram,
      // band, lane-unpack arrays) were being computed twice per row,
      // once serially below the repartition. Every generated array
      // here is non-empty by construction, so the inferred filter
      // never prunes a row: excluding the rule is result-identical
      // and deletes the duplicated kernel pass (plan evidence in
      // OPTIMIZATION_r16.md).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Scan-split floor (round 12): the default 4 MB openCostInBytes
      // caps a dense single-file corpus at bytes/4MB input tasks — the
      // sf10 probe's 55 MB documents file fed d112's gram-explode map
      // stage only 14 of 32 cores (215 s of its 318 s wall; event-log
      // evidence, BENCH_NOTES r12). Compute-dense text scans want the
      // split floor well below the byte heuristic; 256 KB still packs
      // small files sanely. At 100 TB corpora arrive as many files and
      // this knob is moot — it exists for the single-file probe shape.
      .config("spark.sql.files.openCostInBytes", (256L * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Oracle-gated marker (advisor r13): if the LSH capacity pre-gate
    // ever escalates signature width under this session (budget knob
    // lowered, or a corpus past the 2e9 default), the engine throws a
    // diagnosed error instead of dumping results the count(*)-derived
    // replay oracle cannot match.
    spark.conf.set("graft.lsh.oracleGated", "true")
    // Probe passthrough (r15): -Dgraft.* JVM flags land in the session
    // conf so paired probes can flip query-shape toggles
    // (e.g. graft.zipf.sliced) from jrun without code
    // edits. The driver passes no such flags, so the official gate is
    // unaffected; a probe that overrides oracleGated does so knowingly.
    sys.props.toSeq.filter(_._1.startsWith("graft."))
      .foreach { case (k, v) => spark.conf.set(k, v) }
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles =
      if (contractMode == "clusters")
        SparkEntry.oracleSql.map { case (k, v) =>
          k -> pairContractSim.get(k).map(pairClusterContractSql(v, _)).getOrElse(v)
        }
      else SparkEntry.oracleSql
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Stress-sweep acceleration (check.py GRAFT_CTE_CACHE=1): one-shot
    // materialization statements for the shared recursive prefixes +
    // the cached re-spelling of every oracle that embeds one. The
    // driver reads only oracle_sql.json; these two files are advisory.
    Files.writeString(Paths.get(s"$outDir/oracle_prep.json"),
      queries.Pipeline.oraclePrep
        .map { case (t, sql) => s"${q(t)}: ${q(sql)}" }.mkString("{", ",", "}"))
    val cached = oracles.flatMap { case (k, sql) =>
      val swapped = queries.Pipeline.oracleCachedSwaps.foldLeft(sql) {
        case (acc, (frag, repl)) => acc.replace(frag, repl)
      }
      if (swapped != sql) Some(k -> swapped) else None
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql_cached.json"),
      cached.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

    val pool = Executors.newCachedThreadPool()
    // Dev-only filter: SPARK_GRAFT_ONLY=d30,q1 runs just those entries.
    // The driver never sets it, so the official gate is unaffected.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only.contains(n) }
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val fut = pool.submit(new Runnable {
        override def run(): Unit = {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try {
            val raw = fn(spark, sfDir)
            val out =
              if (contractMode == "clusters" && pairContractSim.contains(name))
                pairClusterContract(raw, pairContractSim(name))
              else raw
            out.repartition(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          } finally spark.sparkContext.clearJobGroup()
        }
      })
      try {
        fut.get(PerQueryTimeoutSec, TimeUnit.SECONDS)
        System.err.println(f"[verify] $name done in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch {
        case _: TimeoutException =>
          System.err.println(s"[verify] $name TIMED OUT after ${PerQueryTimeoutSec}s — cancelling")
          spark.sparkContext.cancelJobGroup(name)
          fut.cancel(true)
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${Option(e.getCause).getOrElse(e).getMessage}")
      }
      spark.catalog.clearCache() // release any per-query persist()s
      // A timed-out query may have died inside a set/restore of a session
      // conf (s5/d20 lower shuffle partitions around tiny stateful
      // stages) — re-pin so later queries never plan with a leaked value.
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
    }
    pool.shutdownNow()
    // Every result is already on disk (one parquet dir per query,
    // oracle_sql.json first) — nothing left to lose. Cap the quiesce the
    // way Bench does: a stuck task can block spark.stop() indefinitely,
    // and an rc=124 outer kill here would waste an otherwise-complete
    // round of correctness output.
    val stopper = new Thread(new Runnable {
      override def run(): Unit = try spark.stop() catch { case _: Throwable => }
    })
    stopper.setDaemon(true)
    stopper.start()
    stopper.join(15000)
    Runtime.getRuntime.halt(0)
  }
}
