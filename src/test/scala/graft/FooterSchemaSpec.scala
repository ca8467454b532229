package graft

import graft.sources.GraftReader
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.file.Files

/** `GraftReader.parquet` resolves a parquet schema from one footer read
  * on the driver. It must give exactly Spark's schema, or fall back to
  * Spark wherever the two could differ, and start no Spark job.
  * `GraftReader.rowCount` sums the footers' row-group counts: exact
  * wherever it answers, None wherever the footers cannot answer. */
class FooterSchemaSpec extends SparkSpecBase {

  private type Outcome = Either[String, StructType]

  private def outcome(read: => StructType): Outcome =
    try Right(read) catch { case e: Exception => Left(e.getClass.getName) }

  private def sparkOutcome(url: String, opts: Map[String, String] = Map.empty): Outcome =
    outcome(spark.read.options(opts).parquet(url).schema)

  private def graftOutcome(url: String, opts: Map[String, String] = Map.empty): Outcome =
    outcome(GraftReader.parquet(spark, url, opts).schema)

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def partFile(dir: String): File =
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).minBy(_.getName)

  /** Five rows whose `ts` is INT64 TIMESTAMP(NANOS), which Spark itself
    * cannot write. */
  private def nanosFile(): String = {
    val file = s"${scratch("footer_nanos")}/nanos.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      w.write(rows.newGroup().append("id", i.toLong).append("ts", 1700000000000000000L + i))
    } finally w.close()
    file
  }

  test("the footer schema equals Spark's inferred schema on testdata, partitioned, Spark-written and nanos files") {
    val testdata = Seq(sfTiny, sfSmall).flatMap { d =>
      new File(d).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted
    }
    val hive = scratch("footer_hive")
    spark.range(40).selectExpr("id", "cast(id % 3 as int) as k", "cast(id as string) as s")
      .write.mode("overwrite").partitionBy("k").parquet(hive)
    val written = scratch("footer_written")
    Tables.load(spark, sfTiny, "orders").repartition(3)
      .write.mode("overwrite").parquet(written)
    val urls = testdata ++ Seq(hive, written, nanosFile())
    assert(testdata.size >= 20)
    for (nanosAsLong <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong) {
        urls.foreach { url =>
          val expected = sparkOutcome(url)
          assert(graftOutcome(url) == expected, s"$url (nanosAsLong=$nanosAsLong)")
          // wherever Spark can infer the schema, the footer path resolved it
          if (expected.isRight)
            assert(GraftReader.footerSchema(spark, url, Map.empty).isDefined,
              s"$url fell back (nanosAsLong=$nanosAsLong)")
        }
      }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assert(sparkOutcome(hive).exists(_.fieldNames.last == "k"))
      assert(sparkOutcome(urls.last).exists(_.fieldNames.sameElements(Array("id", "ts"))))
    }
  }

  test("Tables.load and GraftReader.read of a parquet path start zero Spark jobs") {
    assert(jobsStarted(spark.read.parquet(s"$sfTiny/events.parquet").schema) == 1,
      "the listener sees Spark's inference job")
    assert(jobsStarted {
      Tables.load(spark, sfTiny, "events").schema
      GraftReader.read(spark, s"$sfTiny/nation.parquet").schema
    } == 0)
  }

  test("globs, schema merging, summary files, partition-key columns, empty and missing paths fall back to Spark") {
    val base = scratch("footer_fallback")
    // two partitions with different columns: only merging sees `b`
    spark.range(6).selectExpr("id", "id * 2 as a").write.parquet(s"$base/merge/g=1")
    spark.range(6).selectExpr("id", "id * 2 as a", "id * 3 as b").write.parquet(s"$base/merge/g=2")
    // a _common_metadata whose schema is wider than the data files'
    spark.range(6).selectExpr("id", "id * 2 as a").write.parquet(s"$base/summary")
    spark.range(6).selectExpr("id", "id * 2 as a", "id * 3 as b").write.parquet(s"$base/wide")
    Files.copy(partFile(s"$base/wide").toPath, new File(s"$base/summary/_common_metadata").toPath)
    // a data column that is also a partition directory key
    spark.range(6).selectExpr("id", "cast(7 as int) as k").write.parquet(s"$base/overlap/k=1")
    new File(s"$base/empty").mkdirs()

    val mergeOpt = Map("mergeSchema" -> "true")
    val cases = Seq(
      (s"$sfTiny/nat*.parquet", Map.empty[String, String]),
      (s"$base/merge", mergeOpt),
      (s"$base/summary", Map.empty[String, String]),
      (s"$base/overlap", Map.empty[String, String]),
      (s"$base/empty", Map.empty[String, String]),
      (s"$base/missing", Map.empty[String, String]))
    cases.foreach { case (url, opts) =>
      assert(GraftReader.footerSchema(spark, url, opts).isEmpty, url)
      assert(graftOutcome(url, opts) == sparkOutcome(url, opts), url)
    }
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(GraftReader.footerSchema(spark, s"$base/merge", Map.empty).isEmpty)
      assert(graftOutcome(s"$base/merge") == sparkOutcome(s"$base/merge"))
      assert(graftOutcome(s"$base/merge").exists(_.fieldNames.contains("b")))
    }
    assert(graftOutcome(s"$base/merge", mergeOpt).exists(_.fieldNames.contains("b")))
    assert(graftOutcome(s"$base/summary").exists(_.fieldNames.contains("b")))
    assert(graftOutcome(s"$base/empty").isLeft)
    assert(graftOutcome(s"$base/missing").isLeft)
  }

  /** One file of `n` int64 rows split into several row groups. */
  private def multiRowGroupFile(n: Int): String = {
    val file = s"${scratch("footer_rowgroups")}/groups.parquet"
    val schema = MessageTypeParser.parseMessageType("message m { required int64 id; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(schema).withConf(conf).withRowGroupSize(4096L).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until n).foreach(i => w.write(rows.newGroup().append("id", i.toLong)))
    finally w.close()
    file
  }

  test("the footer row count equals count() on testdata, multi-file, partitioned and multi-row-group tables") {
    val testdata = Seq(sfTiny, sfSmall).flatMap { d =>
      new File(d).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted
    }
    assert(testdata.size >= 20)
    testdata.foreach { url =>
      assert(GraftReader.rowCount(spark, url) == Some(spark.read.parquet(url).count()), url)
    }
    assert(jobsStarted(assert(Tables.rowCount(spark, sfTiny, "events").isDefined)) == 0)
    val hive = scratch("rowcount_hive")
    spark.range(40).selectExpr("id", "cast(id % 3 as int) as k")
      .write.mode("overwrite").partitionBy("k").parquet(hive)
    val multi = scratch("rowcount_multi")
    Tables.load(spark, sfTiny, "orders").repartition(3)
      .write.mode("overwrite").parquet(multi)
    val groups = multiRowGroupFile(20000)
    val nGroups = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(new Path(groups),
      spark.sparkContext.hadoopConfiguration), NO_FILTER).getBlocks.size
    assert(nGroups > 1, s"$nGroups row group(s)")
    assert(new File(multi).listFiles().count(_.getName.startsWith("part-")) == 3)
    Seq(hive -> 40L, multi -> spark.read.parquet(multi).count(), groups -> 20000L).foreach {
      case (url, n) => assert(GraftReader.rowCount(spark, url) == Some(n), url)
    }
    // a bound: exact at or under it, some count above it past it
    val n = spark.read.parquet(multi).count()
    assert(GraftReader.rowCount(spark, multi, upTo = n) == Some(n))
    assert(GraftReader.rowCount(spark, multi, upTo = 1).exists(_ > 1))
    assert(GraftReader.rowCount(spark, multi, upTo = n - 1).exists(_ > n - 1))
    // more files than the footer bound: no exact count, but a bound
    // the first footers already pass still answers
    val wide = scratch("rowcount_wide")
    val files = GraftReader.MaxCountFooters + 1
    spark.range(0, files, 1, files).write.mode("overwrite").parquet(wide)
    assert(new File(wide).listFiles().count(_.getName.startsWith("part-")) == files)
    assert(GraftReader.rowCount(spark, wide).isEmpty)
    assert(GraftReader.rowCount(spark, wide, upTo = 10).exists(_ > 10))
  }

  test("globs, summary files, empty and missing paths have no footer row count") {
    val base = scratch("rowcount_fallback")
    spark.range(6).write.parquet(s"$base/summary")
    Files.copy(partFile(s"$base/summary").toPath, new File(s"$base/summary/_metadata").toPath)
    new File(s"$base/empty").mkdirs()
    Seq(s"$sfTiny/nat*.parquet", s"$base/summary", s"$base/summary/_metadata",
        s"$base/empty", s"$base/missing").foreach { url =>
      assert(GraftReader.rowCount(spark, url).isEmpty, url)
      assert(GraftReader.rowCount(spark, url, upTo = 0).isEmpty, url)
    }
  }
}
