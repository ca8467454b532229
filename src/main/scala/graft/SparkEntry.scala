package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Events, Pipeline, Relational, Sources}
import graft.streaming.StreamingOps

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_star_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. An entry
    * installs the graft extensions on the session it is given
    * ([[GraftExtensions.install]]) before it builds its frame, so the
    * bodies can rely on the graft functions and optimizer rules. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Relational.queries ++ Events.queries ++ Pipeline.queries ++
      Sources.queries ++ StreamingOps.queries).map { case (name, q) =>
      name -> { (s: SparkSession, dir: String) => GraftExtensions.install(s); q(s, dir) }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. The hash-dependent entries (d2, d3, d6,
    * d11, d13, d15, d23, d29) are checked via FULL replay oracles —
    * DuckDB re-derives the signatures/buckets/byte-folds bit-for-bit
    * (ReplaySql, HyperplaneBuckets.planeBitString). q26/q45 hash-check
    * a banded contract instead: the query emits exact anchors plus
    * in-band booleans, the oracle answers TRUE. Every entry is
    * oracle-checked — none are rows-only.
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Events.oracles ++ Pipeline.oracles ++
      Sources.oracles ++ StreamingOps.oracles
}
