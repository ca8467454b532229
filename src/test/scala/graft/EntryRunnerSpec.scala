package graft

import graft.GraftSession.Outcome
import graft.queries.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** `GraftSession.runEntry`: the one per-entry runner Bench, Verify and
  * Sweep share. A timed-out entry is stopped before the cleanup runs,
  * a failure carries its message, and the cleanup leaves the session
  * as the factory built it. */
class EntryRunnerSpec extends SparkSpecBase {

  private val shufflePartitions = "spark.sql.shuffle.partitions"

  test("a timed-out entry building a persisted frame is stopped, and the next entry runs") {
    // The sleep sits below the exchange, so it runs while the cached
    // frame is being built, under that frame's lock: the state in which
    // a cleanup that does not wait for the cancelled body deadlocks. The
    // same shape runs once first, so planning a cold query does not use
    // up the timeout before the sleeping tasks start.
    def cachedShape(f: Long => Long): Long = {
      val df = spark.range(8).select(udf(f).apply(col("id")).as("id")).repartition(4).persist()
      try df.count() finally df.unpersist()
    }
    cachedShape(identity)
    val t0 = System.nanoTime()
    val runner = Future {
      GraftSession.runEntry(spark, "slow_persist", 2) {
        cachedShape { x => EntryRunnerSpec.sleeping.incrementAndGet(); Thread.sleep(60000); x }
      }
    }(ExecutionContext.global)
    val outcome = Await.result(runner, 60.seconds)
    val waitedSec = (System.nanoTime() - t0) / 1e9
    assert(outcome == Outcome.TimedOut(2))
    assert(EntryRunnerSpec.sleeping.get > 0, "the timeout fired before the cached frame's build began")
    // the cancel interrupts the sleeping tasks, so the grace is not used up
    assert(waitedSec < 20, s"runner waited ${waitedSec}s for a cancelled entry")
    GraftSession.runEntry(spark, "trivial", 30)(assert(spark.range(10).count() == 10)) match {
      case Outcome.Done(sec) => assert(sec < 30)
      case other => fail(s"trivial entry after a timeout ended as $other")
    }
  }

  test("a cancelled body is waited for, and a job it starts after the cancel is cancelled") {
    // The body outlives its timeout by a second without looking at the
    // interrupt. Then it starts a query from a thread of its own, as AQE
    // submits shuffle map stages, and leaves a narrowed shuffle width
    // behind, as an entry cancelled between a conf set and its restore
    // would.
    @volatile var stopped = false
    @volatile var late: Thread = null
    val outcome = GraftSession.runEntry(spark, "late_starter", 1) {
      val until = System.nanoTime() + 2000000000L
      while (System.nanoTime() < until) {}
      late = new Thread(() =>
        try spark.range(8).select(udf { (x: Long) => Thread.sleep(60000); x }
          .apply(col("id")).as("id")).repartition(4).selectExpr("sum(id)").collect()
        catch { case _: Exception => })
      late.setDaemon(true)
      late.start()
      spark.conf.set(shufflePartitions, "1")
      stopped = true
    }
    assert(outcome == Outcome.TimedOut(1))
    assert(stopped, "the runner returned before the cancelled body had stopped")
    assert(spark.conf.get(shufflePartitions) == "4",
      "the cleanup ran before the cancelled body had stopped")
    late.join(15000)
    assert(!late.isAlive, "a job the cancelled entry started late is still running")
  }

  test("a throwing entry is reported as failed with its message") {
    val outcome = GraftSession.runEntry(spark, "thrower", 30) {
      throw new IllegalStateException("entry body gave up")
    }
    assert(outcome == Outcome.Failed("entry body gave up"))
  }

  test("the cleanup re-pins the shuffle width and drops persisted frames and memoized counts") {
    val dir = "entry-runner-spec"
    var computed = 0
    def memoCount(): Long = Pipeline.cachedCount(spark, dir, "n") { computed += 1; 7L }
    val df = spark.range(100).selectExpr("id % 7 as k")
    var helpers = Seq.empty[DataFrame]
    val outcome = GraftSession.runEntry(spark, "conf_leak", 30) {
      spark.conf.set(shufflePartitions, "1")
      df.persist().count()
      memoCount()
      helpers = Seq.fill(2)(Pipeline.d20Components(spark, sfTiny))
    }
    assert(outcome.isInstanceOf[Outcome.Done])
    assert(spark.conf.get(shufflePartitions) == "4")
    assert(df.storageLevel == StorageLevel.NONE)
    memoCount()
    assert(computed == 2, "a count memoized inside the entry survived its cleanup")
    assert(helpers(0) eq helpers(1), "one entry built the d20 labeling twice")
    assert(!(Pipeline.d20Components(spark, sfTiny) eq helpers(0)),
      "a helper frame built inside the entry survived its cleanup")
  }

  test("the late-job listener skips jobs started outside any job group") {
    // Jobs started outside a group carry no group id, or no local
    // properties at all; neither may reach the cancelled-group set,
    // whose lookup throws on a null key.
    assert(!GraftSession.inCancelledGroup(null))
    assert(!GraftSession.inCancelledGroup(new java.util.Properties()))
    val grouped = new java.util.Properties()
    grouped.setProperty("spark.jobGroup.id", "never-cancelled#0")
    assert(!GraftSession.inCancelledGroup(grouped))
  }
}

object EntryRunnerSpec {
  /** Tasks that entered the sleeping UDF (local mode: same JVM). */
  val sleeping = new java.util.concurrent.atomic.AtomicInteger()
}
