package graftbench

import java.io.{File, FileOutputStream, OutputStreamWriter, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SparkEntry, Tables}
import graft.sources.{GraftReader, GraftWriter}

/** One benchmark run of one workload: a single client in a closed loop
  * (the next op starts only after the previous one completed) against a
  * local[cores] session. An op is one call into the program — a
  * `SparkEntry.queries` entry, or a `graft.sources` call of the ingest
  * cycle — run to full materialisation of every column of its result.
  *
  * Phases: warm-up (untimed, one pass; each entry's result is written
  * for the oracle check), measurement (a fixed number of whole passes,
  * each in seeded order), and for the ingest workload a final check run
  * of the consumers.
  * With trace=1 every measured entry runs twice, untraced and traced, in
  * alternating order; only the traced member records layer numbers. The
  * `graft.sources` ops of the ingest cycle run untraced, so the untraced
  * records alone form the same closed loop as an untraced run.
  *
  * Usage: Harness key=value ... (see perfbench/run.py, which builds the
  * arguments and reads the records this writes into `out`).
  */
object Harness {

  final case class Op(name: String, kind: String, tables: Seq[String], dir: String)

  private val conf = mutable.Map.empty[String, String]
  private def arg(k: String): String = conf.getOrElse(k, sys.error(s"missing argument $k"))
  private def argOr(k: String, d: String): String = conf.getOrElse(k, d)

  // op records and spans stay in memory until the run ends
  private val records = mutable.ArrayBuffer.empty[String]
  private val spans = mutable.ArrayBuffer.empty[String]
  private var seq = 0

  private def writeLines(f: File, lines: Seq[String]): Unit = {
    val w = new PrintWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
    try lines.foreach(w.println) finally w.close()
  }

  def main(args: Array[String]): Unit = {
    args.foreach { a => val i = a.indexOf('='); conf(a.take(i)) = a.drop(i + 1) }
    val out = new File(arg("out"))
    out.mkdirs()
    val status =
      try { run(out); 0 }
      catch { case e: Throwable => e.printStackTrace(); 3 }
      finally {
        writeLines(new File(out, "ops.jsonl"), records.toSeq)
        writeLines(new File(out, "spans.jsonl"), spans.toSeq)
      }
    // halt: nothing (shutdown hooks, lingering stream threads) may delay
    // the exit once every record is on disk
    Runtime.getRuntime.halt(status)
  }

  private def run(out: File): Unit = {
    val cores = arg("cores").toInt
    val seed = arg("seed").toLong
    val traced = arg("trace") == "1"
    val timeoutSec = arg("timeout").toLong
    val workload = arg("workload")
    val dataDir = arg("data")
    val resultsDir = arg("results")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.files.openCostInBytes", (256L * 1024).toString)
      .config("spark.local.dir", arg("local"))
      .config("spark.sql.warehouse.dir", arg("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(spark)
    spark.conf.set("graft.lsh.oracleGated", "true")
    val sessionReadyMs = System.currentTimeMillis()

    val oracles = SparkEntry.oracleSql
    val entries = SparkEntry.queries
    def tablesOf(name: String): Seq[String] = oracles.get(name).toSeq.flatMap { sql =>
      Tables.names.filter(t => s"(?i)\\b$t\\b".r.findFirstIn(sql).isDefined)
    }

    val pool = Executors.newCachedThreadPool()
    // Hadoop keeps one statistics object per (scheme, FileSystem class);
    // local writes are counted on the raw and the checksummed file system
    import scala.jdk.CollectionConverters._
    def fsTotals: (Long, Long) = {
      val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
    }
    val tracer = if (traced) Some(new Tracer(spark, argOr("scratch", "/nonexistent"))) else None
    val memory = ManagementFactory.getMemoryMXBean
    /** Heap still in use after full collections. Each later collection
      * frees what Spark's ContextCleaner released after the one before. */
    def liveHeapMb(): Double = {
      System.gc()
      (1 to 2).foreach { _ => Thread.sleep(100); System.gc() }
      memory.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }

    // ---- ingest-cycle state (lake_ingest only) ----
    val lake = argOr("lake", "")
    val window = argOr("window", "0").toInt
    val nSlices = argOr("slices", "0").toInt
    val filesPerSlice = argOr("files", "1").toInt
    val poolDir = argOr("pool", "")
    var nextSlice = window // slices [0, window) are landed by the input generator
    var lastReadMs = 0.0

    // the events table is hive-partitioned by slice, so expiring a slice
    // is one removeDirectory and readers see one directory-form table
    def sliceDir(i: Int) = s"$lake/events.parquet/slice=$i"

    def dirBytes(p: String): Long = {
      val path = new Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) 0L else fs.getContentSummary(path).getLength
    }

    /** Runs the op's call; returns (rows landed or listed, build window). */
    def call(op: Op, sink: Option[String]): (Long, Long, Long) = op.kind match {
      case "entry" =>
        val b0 = System.currentTimeMillis()
        val df = entries(op.name)(spark, op.dir)
        val b1 = System.currentTimeMillis()
        sink match {
          case Some(path) => df.repartition(1).write.mode("overwrite").parquet(path)
          case None => df.write.format("noop").mode("overwrite").save()
        }
        (0L, b0, b1)
      case "land" =>
        val i = nextSlice % nSlices
        val r0 = System.nanoTime()
        val src = GraftReader.read(spark, s"$poolDir/slice_${"%05d".format(i)}.parquet")
        lastReadMs = (System.nanoTime() - r0) / 1e6
        GraftWriter.write(src.withColumn("slice", org.apache.spark.sql.functions.lit(nextSlice))
          .repartition(filesPerSlice), s"$lake/events.parquet", mode = "append",
          partitionBy = Seq("slice"))
        val landedBytes = dirBytes(sliceDir(nextSlice))
        nextSlice += 1
        (landedBytes, 0L, 0L)
      case "expire" =>
        require(GraftWriter.removeDirectory(spark, sliceDir(nextSlice - 1 - window)),
          "expire failed")
        (0L, 0L, 0L)
      case "list" =>
        val files = GraftReader.listFiles(spark, s"$lake/events.parquet/*")
        val n = files.collect().count(r => r.getString(0).endsWith(".parquet"))
        require(n == window * filesPerSlice,
          s"listed $n parquet files, expected ${window * filesPerSlice}")
        (n.toLong, 0L, 0L)
    }

    def resetBetweenOps(): Unit = {
      spark.catalog.clearCache()
      graft.queries.Pipeline.resetScalarCaches()
      spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => })
    }

    /** One op under its own job group and timeout. */
    def runOp(op: Op, phase: String, pass: Int, sink: Option[String],
        trace: Option[Tracer]): Map[String, Any] = {
      seq += 1
      val group = s"graftbench-$seq-${op.name}"
      val fs0 = fsTotals
      trace.foreach(_.attach())
      var built = (0L, 0L, 0L)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val fut = pool.submit(new Runnable {
        override def run(): Unit = {
          spark.sparkContext.setJobGroup(group, op.name, interruptOnCancel = true)
          try built = call(op, sink)
          finally spark.sparkContext.clearJobGroup()
        }
      })
      val (status, error) =
        try { fut.get(timeoutSec, TimeUnit.SECONDS); ("ok", "") }
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelJobGroup(group)
            spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => })
            fut.cancel(true)
            ("timeout", s"exceeded ${timeoutSec}s")
          case e: java.util.concurrent.ExecutionException =>
            val c = Option(e.getCause).getOrElse(e)
            ("error", s"${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).take(300)}")
        }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val fs1 = fsTotals
      val layers = trace.map { tr =>
        tr.drain()
        val (base, execSpans) = tr.take(cores, wallMs, built._2, built._3)
        val endMs = startMs + wallMs.toLong
        val opSpans = Seq(
          Map[String, Any]("name" -> "op", "id" -> "op", "parent" -> "", "start_ms" -> startMs,
            "end_ms" -> endMs, "entry" -> op.name),
          Map[String, Any]("name" -> "queries.build", "id" -> "build", "parent" -> "op",
            "start_ms" -> built._2, "end_ms" -> built._3),
          Map[String, Any]("name" -> "action", "id" -> "action", "parent" -> "op",
            "start_ms" -> built._3, "end_ms" -> endMs))
        (opSpans.filter(_("start_ms") != 0L) ++ execSpans)
          .foreach(sp => spans += Json.value(sp + ("op_seq" -> seq)))
        val mb = 1024.0 * 1024.0
        val storage = spark.sparkContext.getRDDStorageInfo
        tr.detach()
        System.gc()
        // the op's tables loaded once more, after the op and outside its
        // wall time: the entry's own loads are part of queries.build
        val l0 = System.nanoTime()
        op.tables.foreach(t => Tables.load(spark, op.dir, t))
        val loadMs = (System.nanoTime() - l0) / 1e6
        base ++ Map(
          "tables.load_ms" -> loadMs,
          "queries.live_heap_mb" -> memory.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0),
          "queries.cached_mb" -> storage.map(r => r.memSize + r.diskSize).sum / mb,
          "queries.persisted_frames" -> spark.sparkContext.getPersistentRDDs.size.toDouble)
      }
      resetBetweenOps()
      val rec = Map[String, Any](
        "seq" -> seq, "name" -> op.name, "kind" -> op.kind, "phase" -> phase,
        "pass" -> pass, "traced" -> trace.isDefined, "start_ms" -> startMs,
        "wall_ms" -> wallMs, "status" -> status, "error" -> error,
        "tables" -> op.tables, "amount" -> built._1,
        "fs_read_b" -> (fs1._1 - fs0._1), "fs_write_b" -> (fs1._2 - fs0._2)) ++
        (if (op.kind == "land") Map("read_ms" -> lastReadMs) else Map.empty) ++
        layers.map(l => Map("layers" -> l)).getOrElse(Map.empty)
      records += Json.value(rec)
      if (status != "ok") System.err.println(s"[graftbench] ${op.name} $status: $error")
      rec
    }

    // ---- the workload's op list ----
    val opNames = arg("ops").split(",").filter(_.nonEmpty).toSeq
    val missing = opNames.filterNot(entries.contains)
    require(missing.isEmpty, s"unknown entries: ${missing.mkString(",")}")
    val entryOps = opNames.map(n => Op(n, "entry", tablesOf(n), dataDir))
    val isLake = lake.nonEmpty
    val rng = new Random(seed)
    def passOps(seeded: Boolean = true): Seq[Op] = {
      val order = if (seeded) rng.shuffle(entryOps) else entryOps
      if (!isLake) order
      else {
        // the first declared consumer always runs right after the list:
        // freshness is measured on it
        val (consumers, roundtrips) = order.partition(_.name.startsWith("s"))
        val probe = entryOps.filter(_.name.startsWith("s")).take(1)
        Seq(Op("land", "land", Seq("events"), lake), Op("expire", "expire", Nil, lake),
          Op("list", "list", Nil, lake)) ++ probe ++ consumers.filterNot(probe.contains) ++
          roundtrips
      }
    }

    val oracleJson = opNames.map(n => n -> oracles.getOrElse(n, "")).toMap
    val ow = new PrintWriter(new File(out, "oracle_sql.json"), "UTF-8")
    try ow.print(Json.value(oracleJson)) finally ow.close()

    // ---- warm-up: one untimed pass; entry results are kept for the check
    val warm0 = System.currentTimeMillis()
    // declared order, so the cold-JVM cost lands on the same op every run
    val warmOrder = passOps(seeded = false)
    val snapshot = argOr("snapshot", "")
    warmOrder.foreach { op =>
      val sink = if (op.kind == "entry") Some(s"$resultsDir/warmup/${op.name}") else None
      runOp(op, "warmup", 0, sink, None)
    }
    val warmEndMs = System.currentTimeMillis()
    if (isLake && snapshot.nonEmpty) {
      // the check reads the table as the warm-up's consumers saw it
      val src = new Path(s"$lake/events.parquet")
      val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, new Path(s"$snapshot/events.parquet"),
        false, spark.sparkContext.hadoopConfiguration)
    }

    // ---- measurement: a fixed number of whole passes, so every run
    // measures the same multiset of ops (run.py derives it from --seconds)
    var pass = 0
    val passSeconds = mutable.ArrayBuffer.empty[Double]
    val passes = arg("passes").toInt
    while (pass < passes) {
      pass += 1
      val p0 = System.nanoTime()
      var landStartMs = -1L
      var entryIdx = 0
      passOps().foreach { op =>
        val recs = tracer match {
          case None => Seq(runOp(op, "measure", pass, None, None))
          case Some(tr) if op.kind == "entry" =>
            // paired: same op untraced and traced; the order alternates
            // between neighbouring entries and, at a fixed place in the
            // pass, between passes
            entryIdx += 1
            if ((pass + entryIdx) % 2 == 0)
              Seq(runOp(op, "measure", pass, None, None), runOp(op, "measure", pass, None, Some(tr)))
            else
              Seq(runOp(op, "measure", pass, None, Some(tr)), runOp(op, "measure", pass, None, None))
          case Some(_) => Seq(runOp(op, "measure", pass, None, None))
        }
        if (op.kind == "land") landStartMs = recs.head("start_ms").asInstanceOf[Long]
        if (op.kind == "entry" && op.name.startsWith("s") && landStartMs > 0) {
          // the first consumer after the land includes the landed rows:
          // time up to the pair's start, plus the untraced member's wall
          val plain = recs.find(_("traced") == false).get
          val ms = recs.head("start_ms").asInstanceOf[Long] - landStartMs +
            plain("wall_ms").asInstanceOf[Double]
          records += Json.value(Map("freshness_ms" -> ms, "pass" -> pass))
          landStartMs = -1L
        }
      }
      passSeconds += (System.nanoTime() - p0) / 1e9
    }
    // what the session retains once every measured pass has run; it only
    // grows from pass to pass, so this is the run's peak
    val liveHeapEndMb = liveHeapMb()

    // ---- ingest: the consumers run once more, untimed, and their results
    // are checked against the table as every measured cycle left it
    if (isLake) passOps().filter(op => op.kind == "entry" && op.name.startsWith("s"))
      .foreach(op => runOp(op, "final", pass + 1, Some(s"$resultsDir/final/${op.name}"), None))

    // ---- expression kernels over a fixed generated input (traced only)
    val kernels = if (traced) Kernels.measure(spark) else Map.empty[String, Double]

    val summary = Map[String, Any](
      "session_ready_ms" -> sessionReadyMs,
      "warmup_start_ms" -> warm0, "warmup_end_ms" -> warmEndMs,
      "pass_s" -> passSeconds, "live_heap_mb" -> liveHeapEndMb, "kernels" -> kernels)
    val sw = new PrintWriter(new File(out, "summary.json"), "UTF-8")
    try sw.print(Json.value(summary)) finally sw.close()
    pool.shutdownNow()
  }
}
