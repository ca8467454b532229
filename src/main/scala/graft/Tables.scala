package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * On a real cluster the same code reads `hdfs://nn/path/table.parquet` —
  * Spark routes any Hadoop-FileSystem scheme transparently (the capability
  * the reference extension adds to DuckDB; see /root/reference/src/include/
  * hadoopfs.hpp:143 `HadoopFileSystem : FileSystem`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeTs(graft.sources.GraftReader.parquet(spark, s"$sfDir/$name.parquet"))

  /** Rows of table `name` from its parquet footers, with no Spark job:
    * exact up to `upTo`, above `upTo` otherwise, None where the footers
    * cannot answer ([[graft.sources.GraftReader.rowCount]]). */
  def rowCount(spark: SparkSession, sfDir: String, name: String,
      upTo: Long = Long.MaxValue): Option[Long] =
    graft.sources.GraftReader.rowCount(spark, s"$sfDir/$name.parquet", upTo)

  /** events.ts arrives in whatever physical form the driver's generator
    * used this round; normalize every variant to session-tz TimestampType
    * so downstream epoch arithmetic and streaming event-time both work:
    *  - TIMESTAMP(NANOS): Spark only reads it as a raw long
    *    (spark.sql.legacy.parquet.nanosAsLong=true, set in Verify/Bench/
    *    test sessions) → convert losslessly, `div` keeps it integral;
    *  - timestamp[us] with isAdjustedToUTC=false: Spark 4 infers
    *    TIMESTAMP_NTZ → cast to TimestampType. Under the UTC session tz
    *    this reinterprets the same wall-clock to the same epoch micros
    *    DuckDB reads, and watermarks/typed encoders require LTZ.
    * Works on batch and streaming DataFrames alike (schema-only dispatch);
    * shared by the batch loader and every streaming staging/consumer so
    * the conversion rule cannot diverge between them.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Register every table as a temp view (for spark.sql-based queries). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
