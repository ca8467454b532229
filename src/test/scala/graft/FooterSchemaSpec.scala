package graft

import graft.sources.GraftReader
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** `GraftReader.parquet` resolves a parquet schema from one footer read
  * on the driver. It must give exactly Spark's schema, or fall back to
  * Spark wherever the two could differ, and start no Spark job. */
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
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("footer-spark", "Spark's own inference")
      spark.read.parquet(s"$sfTiny/events.parquet").schema
      sc.setJobGroup("footer-graft", "footer-resolved reads")
      Tables.load(spark, sfTiny, "events").schema
      GraftReader.read(spark, s"$sfTiny/nation.parquet").schema
      sc.setJobGroup("footer-end", "sentinel")
      spark.range(1).count()
      // the listener bus delivers in order: once the sentinel job is
      // seen, every earlier job start has been delivered too
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("footer-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val seen = groups.asScala.toSeq
      assert(seen.contains("footer-end"))
      assert(seen.count(_ == "footer-spark") == 1, "the listener sees Spark's inference job")
      assert(seen.count(_ == "footer-graft") == 0)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
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
}
