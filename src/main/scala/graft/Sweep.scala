package graft

import org.apache.spark.sql.SparkSession

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

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
  * the shared session (the streaming entries' shuffle-partition and
  * state-provider pins — both documented result-neutral), the helper
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.openCostInBytes", (256L * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val order = new scala.util.Random(seed)
      .shuffle(SparkEntry.queries.keys.toSeq.sorted)
    val pool = Executors.newCachedThreadPool()
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val doneCount = new java.util.concurrent.atomic.AtomicInteger()

    // One entry under a job group with a hard timeout; jg must be
    // unique per attempt (two concurrent entries must never share a
    // cancellation scope).
    def runOne(name: String, i: Int): Unit = {
      val t0 = System.nanoTime()
      val jg = s"$name#$i"
      // done latch, not fut.get-after-cancel: cancel(true) makes get()
      // throw CancellationException immediately without waiting for the
      // runnable, and job-group cancellation is async — without an
      // explicit completion wait a timed-out entry can still be RUNNING
      // (mutating session conf / the catalog) under the next entry,
      // and the sweep then reports order-dependence failures caused by
      // its own overlap (advisor r13).
      val done = new java.util.concurrent.CountDownLatch(1)
      val fut = pool.submit(new Runnable {
        override def run(): Unit = {
          spark.sparkContext.setJobGroup(jg, name, interruptOnCancel = true)
          try {
            val n = SparkEntry.queries(name)(spark, sfDir).count()
            System.err.println(
              f"[sweep] ${doneCount.incrementAndGet()}%3d/${order.size} $name rows=$n in ${(System.nanoTime() - t0) / 1e9}%.1fs")
          } finally {
            spark.sparkContext.clearJobGroup()
            done.countDown()
          }
        }
      })
      try fut.get(PerQueryTimeoutSec, TimeUnit.SECONDS)
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(jg)
          fut.cancel(true)
          failed.add((name, s"timeout after ${PerQueryTimeoutSec}s"))
          System.err.println(s"[sweep] $name TIMED OUT")
          // bounded grace for the cancelled entry to actually die; an
          // entry that refuses is flagged loudly — every subsequent
          // result in this sweep may be polluted by the overlap
          if (!done.await(30, TimeUnit.SECONDS)) {
            failed.add((name, "did not terminate 30s after cancel — " +
              "subsequent entries may overlap with it"))
            System.err.println(s"[sweep] $name REFUSED TO DIE — " +
              "subsequent results may be polluted by overlap")
          }
        case e: Throwable =>
          val cause = Option(e.getCause).getOrElse(e)
          failed.add((name, Option(cause.getMessage).getOrElse(cause.getClass.getName)))
          System.err.println(s"[sweep] $name FAILED: ${cause.getMessage}")
      }
      // the Verify loop's hygiene, deliberately mirrored: released
      // caches and a re-pinned shuffle-partition conf are part of the
      // environment the order-dependence claim is made under (in
      // concurrent mode this hygiene itself runs concurrently — see
      // the scaladoc)
      spark.catalog.clearCache()
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
    }

    if (threads <= 1) {
      order.zipWithIndex.foreach { case (name, i) => runOne(name, i) }
    } else {
      val next = new java.util.concurrent.atomic.AtomicInteger()
      val workers = (0 until threads).map { _ =>
        val t = new Thread(new Runnable {
          override def run(): Unit = {
            var i = next.getAndIncrement()
            while (i < order.size) {
              runOne(order(i), i)
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
    pool.shutdownNow()
    import scala.jdk.CollectionConverters._
    failed.asScala.foreach { case (n, m) => System.err.println(s"[sweep] FAILED $n: $m") }
    MainExit.stop(spark)
    println(s"""{"seed":$seed,"n":${order.size},"threads":$threads,"failed":${failed.size}}""")
    System.out.flush()
    MainExit.exit(if (failed.isEmpty) 0 else 1)
  }
}
