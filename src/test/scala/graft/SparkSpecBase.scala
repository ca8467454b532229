package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

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
