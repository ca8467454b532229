package graft

/** Every SparkEntry entry in a seeded random order inside ONE session,
  * each through `GraftSession.runEntry` as Verify runs it, so a hidden
  * order dependence between entries — catalog/table clobbering, leaked
  * session conf — fails the sweep instead of shipping: the per-entry
  * dev loop runs entries alone in fresh JVMs, and Verify and Bench
  * always run them in one fixed order. The runner empties the helper
  * registry with the cache after every entry, so no entry plans against
  * frames an earlier one built.
  *
  * SPARK_GRAFT_SWEEP_THREADS=N runs N entries AT ONCE on the one shared
  * session — the environment the sequential gates never exercise. It
  * checks that the session-conf windows left on the shared session (the
  * streaming entries' shuffle-partition pins, documented
  * result-neutral), the helper registry and the catalog stay CORRECT
  * under interleaved planning and execution. Each entry's cleanup runs
  * while other entries run: a clearCache or registry reset that drops a
  * frame another entry is mid-way through reading must only cost
  * recompute, never correctness.
  *
  * Usage: graft.Sweep <sfDir> [seed]. Prints one JSON line
  * {"seed":…,"n":…,"threads":…,"failed":…} on stdout; per-query
  * progress on stderr; exit 1 iff any entry failed.
  */
object Sweep {

  val PerQueryTimeoutSec: Long =
    sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "120").toLong

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val seed = if (args.length > 1) args(1).toLong else 13L
    val threads = sys.env.getOrElse("SPARK_GRAFT_SWEEP_THREADS", "1").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val order = new scala.util.Random(seed)
      .shuffle(SparkEntry.queries.keys.toSeq.sorted)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val doneCount = new java.util.concurrent.atomic.AtomicInteger()

    // Every attempt gets its own job group from the runner, so two
    // concurrent entries never share a cancellation scope; a timed-out
    // entry is waited for before the next one starts on this thread.
    // The runner's cleanup (released caches, emptied helper registry and
    // scalar memos, re-pinned shuffle width) is part of the environment the order-independence
    // claim is made under; in concurrent mode it runs concurrently too
    // (see the scaladoc).
    def runOne(name: String): Unit = {
      var rows = 0L
      GraftSession.runEntry(spark, name, PerQueryTimeoutSec) {
        rows = SparkEntry.queries(name)(spark, sfDir).count()
      } match {
        case GraftSession.Outcome.Done(sec) => System.err.println(
          f"[sweep] ${doneCount.incrementAndGet()}%3d/${order.size} $name rows=$rows in $sec%.1fs")
        case outcome =>
          failed.add((name, outcome.describe))
          System.err.println(s"[sweep] $name FAILED: ${outcome.describe}")
      }
    }

    if (threads <= 1) {
      order.foreach(runOne)
    } else {
      val next = new java.util.concurrent.atomic.AtomicInteger()
      val workers = (0 until threads).map { _ =>
        val t = new Thread(new Runnable {
          override def run(): Unit = {
            var i = next.getAndIncrement()
            while (i < order.size) {
              runOne(order(i))
              i = next.getAndIncrement()
            }
          }
        })
        t.setDaemon(true)
        t.start()
        t
      }
      workers.foreach(_.join())
    }
    import scala.jdk.CollectionConverters._
    failed.asScala.foreach { case (n, m) => System.err.println(s"[sweep] FAILED $n: $m") }
    MainExit.stop(spark)
    println(s"""{"seed":$seed,"n":${order.size},"threads":$threads,"failed":${failed.size}}""")
    System.out.flush()
    MainExit.exit(if (failed.isEmpty) 0 else 1)
  }
}
