package graft

import org.apache.spark.metrics.source.CodegenMetrics

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hang-proofing (a single runaway query must never zero the round):
  *  - oracle_sql.json is written BEFORE the query loop, so already-dumped
  *    results stay scoreable even if the process is killed mid-loop;
  *  - every query runs through `GraftSession.runEntry` with a hard
  *    timeout — on expiry it is cancelled and the loop moves on;
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

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Oracle-gated marker (advisor r13): if the LSH capacity pre-gate
    // ever escalates signature width under this session (budget knob
    // lowered, or a corpus past the 2e9 default), the engine throws a
    // diagnosed error instead of dumping results the count(*)-derived
    // replay oracle cannot match.
    spark.conf.set("graft.lsh.oracleGated", "true")
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Dev-only filter: SPARK_GRAFT_ONLY=d30,q1 runs just those entries.
    // The driver never sets it, so the official gate is unaffected.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only.contains(n) }
    // Generated classes an entry compiled: code-generation cache misses,
    // one compile each, counted JVM-wide (entries run one at a time).
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    selected.foreach { case (name, fn) =>
      val compiled = compiles
      val outcome = GraftSession.runEntry(spark, name, PerQueryTimeoutSec) {
        fn(spark, sfDir).repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      System.err.println(
        s"[verify] $name ${outcome.describe}, ${compiles - compiled} classes compiled")
    }
    // Every result is already on disk (one parquet dir per query,
    // oracle_sql.json first) — nothing left to lose. Cap the quiesce the
    // way Bench does: a stuck task can block spark.stop() indefinitely,
    // and an rc=124 outer kill here would waste an otherwise-complete
    // round of correctness output.
    MainExit.stop(spark)
    MainExit.exit(0)
  }
}
