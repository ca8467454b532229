package graft

/** Randomized-order full-suite sweep in ONE JVM (round 13, verdict
  * task 5): the r12 "Recursive update" registry crash was
  * ORDER-DEPENDENT — it only fired when d97/d99 ran before any other
  * lshScoredPairs consumer had seeded the inner registry entry — and
  * stayed masked for a full round because the per-query dev loop runs
  * entries SOLO in fresh JVMs and Verify/Bench always run the map in
  * its fixed iteration order. This main runs every SparkEntry entry in
  * a seeded random order inside one session (shared registries, shared
  * catalog, per-query clearCache like Verify), so any hidden
  * inter-query order dependence — registry seeding, catalog/table
  * clobbering, leaked session conf — fails the sweep instead of
  * shipping.
  *
  * CONCURRENT mode (round 14, verdict task 5):
  * SPARK_GRAFT_SWEEP_THREADS=N runs N entries AT ONCE on the one
  * shared session — the environment the sequential gates never
  * exercise. What it proves: the session-conf windows that remain on
  * the shared session (the streaming entries' shuffle-partition pins,
  * documented result-neutral), the helper
  * registries, and the catalog all stay CORRECT under interleaved
  * planning/execution; d55/d147's windows moved to child sessions
  * this round so their flags cannot be observed at all. Per-entry
  * cache hygiene is deliberately kept in this mode — a concurrent
  * clearCache yanking a frame another entry is mid-way through
  * reading must only cost recompute, never correctness.
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
    // The runner's cleanup (released caches, reset scalars, re-pinned
    // shuffle width) is part of the environment the order-independence
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
