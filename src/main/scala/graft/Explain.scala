package graft

/** Plan-audit tool: `runMain graft.Explain <sfDir> <queryName>...` prints
  * each query's formatted physical plan plus the files an actual scan
  * touches — used to audit pushdown / pruning / broadcast / codegen
  * decisions (SURVEY §4) without modifying queries.
  *
  * Each entry is planned through `GraftSession.runEntry`, as Verify runs
  * it, so every plan starts from a cleared cache, an empty helper
  * registry and cleared scalar memos, and does not depend on which
  * entries were planned before it.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val outcome = GraftSession.runEntry(spark, name, Verify.PerQueryTimeoutSec) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        println(s"\n========== $name ==========")
        df.explain("formatted")
        val files = df.inputFiles
        println(s"-- inputFiles (${files.length}):")
        files.sorted.take(20).foreach(f => println(s"   $f"))
      }
      outcome match {
        case GraftSession.Outcome.Done(_) =>
        case o => System.err.println(s"[explain] $name ${o.describe}")
      }
    }
    spark.stop()
  }
}
