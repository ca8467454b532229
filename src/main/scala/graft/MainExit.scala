package graft

import org.apache.spark.sql.SparkSession

/** How Bench, Verify and Sweep end: a bounded `spark.stop()`, then
  * `System.exit`, so the JVM shutdown hooks run — Spark deletes its
  * temp directories (`artifacts-<uuid>`, `spark-<uuid>` under
  * `java.io.tmpdir`) from them, and `Runtime.halt` would skip them.
  */
object MainExit {

  private val CapMs = 15000L

  private def daemon(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.setDaemon(true)
    t.start()
    t
  }

  /** Cancels whatever still runs and stops the session, giving up after
    * 15 s: a stuck task can block `spark.stop()` indefinitely, and every
    * result is already out. */
  def stop(spark: SparkSession): Unit =
    daemon {
      try {
        spark.sparkContext.cancelAllJobs()
        spark.stop()
      } catch { case _: Throwable => }
    }.join(CapMs)

  /** Exits with `code`; a daemon watchdog halts the JVM if the shutdown
    * hooks have not finished within 15 s. */
  def exit(code: Int): Nothing = {
    daemon { Thread.sleep(CapMs); Runtime.getRuntime.halt(code) }
    sys.exit(code)
  }
}
