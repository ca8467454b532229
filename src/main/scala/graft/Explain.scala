package graft

/** Plan-audit tool: `runMain graft.Explain <sfDir> <queryName>...` prints
  * each query's formatted physical plan plus the files an actual scan
  * touches — used to audit pushdown / pruning / broadcast / codegen
  * decisions (SURVEY §4) without modifying queries.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val raw = SparkEntry.queries(name)(spark, sfDir)
      // honor the stress-contract env the way Verify does, so contract-
      // mode probe plans can be audited without a full probe run
      val df =
        if (sys.env.getOrElse("SPARK_GRAFT_STRESS_CONTRACT", "") == "clusters"
            && Verify.pairContractSim.contains(name))
          Verify.pairClusterContract(raw, Verify.pairContractSim(name))
        else raw
      println(s"\n========== $name ==========")
      df.explain("formatted")
      val files = df.inputFiles
      println(s"-- inputFiles (${files.length}):")
      files.sorted.take(20).foreach(f => println(s"   $f"))
    }
    spark.stop()
  }
}
