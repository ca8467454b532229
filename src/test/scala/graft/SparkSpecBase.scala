package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One shared local session for the whole suite (Test / fork := true →
  * single JVM), built by the same factory as every graft main. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      // static conf — must be set when the SparkContext is created; this
      // is the `--conf spark.sql.extensions=...` cluster path under test
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = TestSpark.spark

  /** Every test ends the way `GraftSession.runEntry` ends an entry, so
    * no test sees persisted frames, helper frames or memoized counts an
    * earlier test left behind. */
  override def afterEach(): Unit =
    try {
      spark.catalog.clearCache()
      graft.queries.Pipeline.resetScalarCaches()
    } finally super.afterEach()
  /** Spark jobs that `body` starts on this thread, counted by job group
    * with an `onJobStart` listener. */
  def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val end = s"$group-end"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(end, "sentinel")
      spark.range(1).count()
      // the listener bus delivers in order: once the sentinel job is
      // seen, every earlier job start has been delivered too
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains(end) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(groups.contains(end), "the sentinel job was never delivered")
      groups.asScala.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Smallest driver-generated scale factor — specs stay sub-second. */
  val sfTiny = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"

  def scratch(name: String): String = {
    val d = new java.io.File(s"target/test-scratch/$name").getAbsoluteFile
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    d.toString
  }
}
