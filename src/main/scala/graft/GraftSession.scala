package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** The one session configuration every graft main and the test suite
  * run under, and the one way to run a single entry inside it, so Bench,
  * Verify, Sweep and Explain all see the same plans.
  */
object GraftSession {

  /** A local session on `cpus` cores with graft's conf set. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      // One shuffle partition per core: every stage of a local run
      // fills the cores once, with no tail of tiny tasks.
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // No web UI: nothing reads it, and it costs a port and a thread.
      .config("spark.ui.enabled", "false")
      // Timestamps render in UTC, as the DuckDB oracle renders them.
      .config("spark.sql.session.timeZone", "UTC")
      // INT64 TIMESTAMP(NANOS) columns read as the longs the oracle sees.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate copies a generator's whole input
      // expression into an inferred `size(e) > 0` filter that pushdown
      // moves below the exchange, so the shingle, gram, band and lane
      // arrays would be computed twice per row. Every generated array is
      // non-empty by construction, so the inferred filter never prunes a
      // row: excluding the rule changes no result.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // 256 KB scan-split floor: the 4 MB default packs a dense
      // single-file corpus into fewer splits than cores, which starves
      // the compute-heavy text scans; small files still pack together.
      .config("spark.sql.files.openCostInBytes", (256L * 1024).toString)
      // Generated-code cache, JVM-wide: one sf0.01 Verify run compiles
      // 3877 distinct classes, so the 100-entry default evicts each
      // class before its next use and every stage recompiles its code.
      // 4096 entries keep every class of one run.
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** How one [[runEntry]] call ended. */
  sealed trait Outcome {
    /** The outcome as a progress-log phrase. */
    def describe: String = this match {
      case Outcome.Done(sec) => f"done in $sec%.2fs"
      case Outcome.Failed(msg) => s"failed: $msg"
      case Outcome.TimedOut(after) => s"TIMED OUT after ${after}s"
      case Outcome.DidNotStop(after) =>
        s"TIMED OUT after ${after}s and still running ${GraceSec}s after the cancel; later entries may overlap it"
    }
  }
  object Outcome {
    final case class Done(seconds: Double) extends Outcome
    final case class Failed(message: String) extends Outcome
    /** Cancelled at the timeout; the body stopped within the grace. */
    final case class TimedOut(afterSec: Long) extends Outcome
    /** Cancelled at the timeout but still running after the grace. */
    final case class DidNotStop(afterSec: Long) extends Outcome
  }

  private val GraceSec = 30L
  private val attempts = new AtomicLong()
  private val cancelledGroups = ConcurrentHashMap.newKeySet[String]()
  private var listenedTo: SparkContext = _

  /** Whether a job started with these local properties belongs to a
    * cancelled group. A job started outside any group carries no group
    * id, and no properties at all when none were ever set. */
  private[graft] def inCancelledGroup(props: java.util.Properties): Boolean =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .exists(cancelledGroups.contains)

  /** Cancels every job that starts in a cancelled group. AQE submits
    * shuffle map stages from its own threads, so a timed-out entry can
    * start one after its body has stopped, and a cancelled group
    * rejects only later result jobs, not map stages. */
  private def cancelLateJobs(sc: SparkContext): Unit = synchronized {
    if (listenedTo ne sc) {
      sc.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (inCancelledGroup(e.properties)) sc.cancelJob(e.jobId)
      })
      listenedTo = sc
    }
  }

  /** Runs `body` on its own thread under a unique job group, cancelling
    * it after `timeoutSec`. A cancelled body gets up to 30 s to stop
    * before the cleanup runs: `clearCache` takes the cache manager's
    * lock and then each cached frame's, while a body building a cached
    * frame holds that frame's lock and waits for the manager's, so
    * running both at once deadlocks. The cleanup is the same for every
    * outcome: release the entry's persisted frames (`clearCache`), so
    * the next entry builds and pins its helpers as if it ran alone, and
    * re-pin the one-partition-per-core shuffle width (a local session's
    * default parallelism is its core count) that an entry may have
    * changed and not restored.
    */
  def runEntry(spark: SparkSession, name: String, timeoutSec: Long)(body: => Unit): Outcome = {
    val sc = spark.sparkContext
    cancelLateJobs(sc)
    val group = s"$name#${attempts.incrementAndGet()}"
    val done = new CountDownLatch(1)
    @volatile var error: Throwable = null
    val t0 = System.nanoTime()
    val worker = new Thread(() => {
      sc.setJobGroup(group, name, interruptOnCancel = true)
      try body
      catch { case e: Throwable => error = e }
      finally {
        sc.clearJobGroup()
        done.countDown()
      }
    }, s"graft-entry-$group")
    worker.setDaemon(true)
    worker.start()
    val outcome =
      if (done.await(timeoutSec, TimeUnit.SECONDS)) {
        if (error == null) Outcome.Done((System.nanoTime() - t0) / 1e9)
        else Outcome.Failed(Option(error.getMessage).getOrElse(error.getClass.getName))
      } else {
        cancelledGroups.add(group)
        sc.cancelJobGroup(group)
        worker.interrupt()
        if (done.await(GraceSec, TimeUnit.SECONDS)) Outcome.TimedOut(timeoutSec)
        else Outcome.DidNotStop(timeoutSec)
      }
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.shuffle.partitions", sc.defaultParallelism.toString)
    outcome
  }
}
