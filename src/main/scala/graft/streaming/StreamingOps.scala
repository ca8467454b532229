package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

/** Structured Streaming block (SURVEY.md §2 C, streaming half).
  *
  * The official query entries (s1-s3) replay the events table through the
  * FILE streaming source (readStream over the same parquet the batch
  * queries scan) into a memory sink — a real incremental execution with
  * real state stores, checked against the same DuckDB oracles as the
  * batch twins (q31/q30). On a cluster the identical plan runs unbounded
  * from a directory being appended to (or Kafka), with watermarks
  * bounding state; MemoryStream-driven multi-batch/watermark behavior is
  * spec-verified (StreamingSpec).
  */
object StreamingOps {

  /** Staged-landing parquet write with 2 MB row groups (round 13, sf10
    * probe): the default 128 MB parquet block puts a staged file's
    * whole contents in ONE row group, and Spark assigns a row group to
    * the single split holding its midpoint — so every micro-batch scan
    * of a staged file ran as ONE task at sf10 no matter the split
    * config (s17 measured 332 s with its per-batch shingle pass
    * single-threaded; the identical gotcha ScaleData fixed for probe
    * data in r12, recreated by the streaming entries' own staging).
    * Every staged LANDING write goes through here; per-batch result
    * sinks (read back once for a final metadata-sized aggregate) keep
    * plain writes. */
  private def stageLanding(df: org.apache.spark.sql.DataFrame, nFiles: Int,
      path: String): Unit =
    df.repartition(nFiles).write.option("parquet.block.size", 2L * 1024 * 1024)
      .mode("overwrite").parquet(path)

  /** Fingerprint of a source table's physical files — (path, length,
    * mtime) over the sorted file list, no data read. The staging
    * witness (below): a staged landing zone is a pure function of the
    * source files, so it is valid exactly while this stamp matches.
    * Strictly stronger than the count witness it replaces (round 16):
    * the spec suite rewrites the same scratch path with different
    * corpora, and an equal ROW COUNT would have served the stale
    * staging; an in-place rewrite always moves length or mtime.
    */
  private def sourceStamp(s: SparkSession, dir: String, table: String): String = {
    import org.apache.hadoop.fs.Path
    val conf = s.sparkContext.hadoopConfiguration
    val parts = graft.Tables.load(s, dir, table).inputFiles.sorted.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f:${st.getLen}:${st.getModificationTime}"
    }
    java.util.UUID.nameUUIDFromBytes(parts.mkString("|").getBytes("UTF-8")).toString
  }

  private def readStamp(s: SparkSession, path: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) None
      else {
        val buf = new Array[Byte](fs.getFileStatus(path).getLen.toInt)
        val is = fs.open(path)
        try { is.readFully(0, buf); Some(new String(buf, "UTF-8")) }
        finally is.close()
      }
    } catch { case _: Throwable => None }

  private def writeStamp(s: SparkSession, path: org.apache.hadoop.fs.Path,
      stamp: String): Unit = {
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val os = fs.create(path, true)
    try os.write(stamp.getBytes("UTF-8")) finally os.close()
  }

  /** Witness-gated staged landing zone (round 16, bench §6 staging
    * I/O): s10/s15/s16/s17 re-wrote the WHOLE corpus into their landing
    * dirs on every invocation — a full read+write that is pure setup,
    * not the streaming work the entries measure. The staged layout is a
    * deterministic function of (source table, nFiles), so stage once
    * and reuse while the source-file fingerprint matches — the recipe
    * streamEvents has always used, hardened with the stamp witness.
    * Per-run OUTPUT/state dirs (gates, admitted sets, manifests) stay
    * cleared by their entries — only the immutable input staging is
    * shared.
    */
  private def stagedTableDir(s: SparkSession, dir: String, table: String,
      nFiles: Int, tag: String): String = {
    import org.apache.hadoop.fs.Path
    val base = s"${graft.queries.Sources.scratchDir}/${tag}_${Integer.toHexString(dir.hashCode)}"
    val in = s"$base/in"
    val stampFile = new Path(s"$base/_source_stamp")
    val stamp = s"${sourceStamp(s, dir, table)}:$nFiles"
    val stagedOk = readStamp(s, stampFile).contains(stamp) &&
      (try s.read.parquet(in).inputFiles.length == nFiles
       catch { case _: Throwable => false })
    if (!stagedOk) {
      stageLanding(graft.Tables.load(s, dir, table), nFiles, in)
      writeStamp(s, stampFile, stamp)
    }
    in
  }

  /** Streaming twin of Tables.load(_, _, "events"): file-source stream
    * with the same nanos→timestamp normalization. The file streaming
    * source requires a DIRECTORY (it tails it for new files), so the
    * single events.parquet is staged into a scratch dir once — on a real
    * deployment the directory is the landing zone being appended to.
    */
  def streamEvents(s: SparkSession, dir: String): DataFrame = {
    // Stage once, re-staging if the source changed (file-fingerprint
    // witness — round 16: replaces the row-count witness, dropping the
    // two count() scans every invocation paid, and an in-place rewrite
    // with the same row count can no longer serve stale staging).
    // Staging goes through a read+write rather than a raw file copy so
    // the source table's physical layout doesn't matter — a single
    // parquet file (driver testdata) and a multi-part directory (any
    // Spark-written table, e.g. the sf1 stress set) stage identically;
    // the r5 single-file FileUtil.copy broke on directory layouts.
    val stageDir = stagedTableDir(s, dir, "events", 1, "stream_events")
    val schema = s.read.parquet(stageDir).schema
    val raw = s.readStream.schema(schema).parquet(stageDir)
    graft.Tables.normalizeTs(raw)
  }

  /** Run a (bounded) streaming DataFrame to completion into a memory
    * sink and return the sink table. */
  def runToTable(s: SparkSession, df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
  }

  /** Run `body` with the session's streaming state store pinned to
    * RocksDB, restoring the previous provider after (VERDICT r9 #5).
    * Every STATEFUL entry (s3/s5/s13/s14/s16 — join buffers, GroupState
    * maps) runs under this: the default HDFSBackedStateStoreProvider
    * holds all state as JVM-heap HashMaps, which is fine on a bounded
    * replay but the wrong default at 100 TB where join/session state
    * must be disk-resident per executor with bounded memory. The swap
    * is pure configuration — the state encoding contract is
    * provider-independent, so results are byte-equal (StreamingSpec
    * pins provider parity on the join and GroupState shapes).
    */
  def withRocksDb[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.get(key,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally s.conf.set(key, prev)
  }

  /** State-store chooser for the stateful entries (round 15): the
    * ProbeS13 long-lived-replay matrix (BENCH_NOTES r15 — partitions x
    * {HDFSBacked, RocksDB} at sf1 and sf10, 26 micro-batches) REFUTED
    * the r9 assumption that RocksDB is the right default here: with
    * watermark-BOUNDED state (every stateful entry in this block
    * guarantees eviction structurally) the per-batch per-store fixed
    * cost dominates and RocksDB is strictly slower at every probed
    * scale (s13 family sf10: 63.3 s vs 36.6 s; official-entry family
    * at sf0.1: RocksDB {36.5, 47.3} vs heap {28.9, 25.3} s). The
    * results are provider-independent byte-for-byte (StreamingSpec
    * pins parity on the join and GroupState shapes), so the provider
    * is pure configuration: default = the session's provider (heap-
    * backed HDFSBackedStateStoreProvider), and `graft.stream.rocksdb
    * = true` pins RocksDB for deployments whose per-partition state
    * approaches executor heap — the regime (state >> 1 GB/partition)
    * where disk-resident stores earn their fixed cost, which bounded
    * interval joins and session windows structurally never reach.
    */
  def withBoundedStateStore[T](s: SparkSession)(body: => T): T =
    if (s.conf.get("graft.stream.rocksdb",
        sys.env.getOrElse("GRAFT_STREAM_ROCKSDB", "false")).toBoolean)
      withRocksDb(s)(body)
    else body

  /** Shared by s13/s14: the events table staged as a SENTINEL-CLOSED
    * landing zone — the data file plus two far-future sentinel files
    * (user_id −1, one row per event type so every side's watermark
    * advances; consumers filter user_id ≥ 0). With maxFilesPerTrigger=1
    * the first sentinel batch advances the watermark past the whole
    * data horizon and the second supplies the batch in which
    * watermark-driven eviction (outer-join flush, state timeout)
    * actually runs — the bounded-replay twin of "the stream keeps
    * going", which is what lets those entries carry EXACT full-corpus
    * oracles instead of closure-rule remainders. File order is pinned
    * by explicit mtimes (a sentinel processed before the data would put
    * the whole corpus behind the watermark and drop it).
    */
  def sentinelClosedEventsDir(s: SparkSession, dir: String): String = {
    import org.apache.hadoop.fs.Path
    val base = s"${graft.queries.Sources.scratchDir}/sclose_${Integer.toHexString(dir.hashCode)}"
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new Path(base).getFileSystem(conf)
    val inDir = s"$base/in"
    // TWO staged files, not three (round 16, bench batch-count cut):
    // the close sentinels ride IN the data file. Watermarks only
    // advance at batch END, so data rows processed alongside the close
    // rows still join/sessionize under the previous watermark (zero at
    // batch 1) — nothing is dropped or evicted early — and after batch
    // 1 the watermark already sits past the whole data horizon. The
    // flush file then supplies the one further batch in which eviction
    // (outer-join flush, state timeout) runs for EVERY key at once.
    // Same emitted rows as the old data/close/flush triple by
    // construction (eviction output is a pure function of state ×
    // watermark, and both layouts evict everything after the horizon);
    // one fewer micro-batch and one fewer staged file per corpus.
    // Witness: source-file fingerprint (see stagedTableDir) — an
    // in-place source rewrite restages; a layout version bump in the
    // stamp retires the old 3-file staging.
    val stampFile = new Path(s"$base/_source_stamp")
    val stamp = s"${sourceStamp(s, dir, "events")}:v2-2file"
    val stagedOk = readStamp(s, stampFile).contains(stamp) &&
      (try s.read.parquet(inDir).inputFiles.length == 2
       catch { case _: Throwable => false })
    if (!stagedOk) {
      graft.sources.GraftWriter.removeDirectory(s, inDir)
      fs.mkdirs(new Path(inDir))
      val events = graft.Tables.load(s, dir, "events")
      val t0 = System.currentTimeMillis()
      def land(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = s"$base/tmp_$name"
        stageLanding(df, 1, tmp)
        val part = fs.listStatus(new Path(tmp)).map(_.getPath)
          .find(_.getName.startsWith("part-"))
          .getOrElse(sys.error(s"no part file under $tmp"))
        val dest = new Path(inDir, name)
        fs.rename(part, dest)
        fs.setTimes(dest, mtime, -1)
        fs.delete(new Path(tmp), true)
      }
      val maxTs = events.agg(max(col("ts"))).head.getTimestamp(0)
      def sentinel(days: Int): DataFrame = {
        import s.implicits._
        Seq("view", "purchase", "click", "signup", "error").map(t => (-1L,
            new java.sql.Timestamp(maxTs.getTime + days * 86400000L),
            -1L, t, 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      }
      land(events.unionByName(sentinel(30)), "00-data-close.parquet", t0)
      land(sentinel(32), "01-flush.parquet", t0 + 60000)
      writeStamp(s, stampFile, stamp)
    }
    inDir
  }

  /** Per-event row for stateful sessionization. */
  case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long, value: Double)
  case class SessionRow(user_id: Long, session_id: Long, n_events: Long, session_value: Double)

  /** s16 state: one Misra-Gries summary (≤ 64 counters) per token
    * bucket, folded batch-over-batch in GroupState. */
  case class TokRow(bucket: Int, tok: String)
  case class MGState(seq: Long, counters: Map[String, Long])
  case class MGOut(bucket: Int, seq: Long, toks: Seq[String])

  /** s16: fold a micro-batch's tokens of one bucket into the bucket's
    * Misra-Gries summary (k = 64 counters — increment a tracked token,
    * admit while there is room, otherwise decrement ALL and drop
    * zeros). The decrement step charges each arrival against k
    * existing counts, so any token with bucket-frequency > N_bucket /
    * (k+1) is GUARANTEED tracked at the end regardless of batch
    * boundaries — the survival bound the exact rerank stands on.
    * Emits the current candidate set each batch; consumers keep the
    * last emission (max seq) per bucket. */
  def mgFold(bucket: Int, rows: Iterator[TokRow],
             st: GroupState[MGState]): Iterator[MGOut] = {
    val k = 64
    val mm = scala.collection.mutable.Map[String, Long](
      st.getOption.map(_.counters.toSeq).getOrElse(Nil): _*)
    rows.foreach { r =>
      if (mm.contains(r.tok)) mm(r.tok) += 1
      else if (mm.size < k) mm(r.tok) = 1
      else {
        mm.mapValuesInPlace((_, v) => v - 1)
        mm.filterInPlace((_, v) => v > 0)
      }
    }
    val seq = st.getOption.map(_.seq).getOrElse(0L) + 1
    st.update(MGState(seq, mm.toMap))
    Iterator(MGOut(bucket, seq, mm.keys.toSeq.sorted))
  }

  /** Gap-based sessionizer for one user's events — bounded-replay twin
    * of q30 (same 1800 s gap, same numbering). GroupState carries
    * (session counter, last event time): a batch whose first event falls
    * within the gap of the previous batch's tail CONTINUES that session
    * (emitting a further fragment with the same session_id — downstream
    * consumers aggregate fragments by (user, session)); otherwise a new
    * session number starts. Multi-batch behavior is spec-verified.
    */
  def sessionize(userId: Long, events: Iterator[Ev],
      state: GroupState[(Long, Long)]): Iterator[SessionRow] = {
    val sorted = events.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
    if (sorted.isEmpty) Iterator.empty
    else {
      var (sessionId, lastTs) = state.getOption.getOrElse((0L, Long.MinValue))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      sorted.foreach { e =>
        if (lastTs == Long.MinValue || (e.ts.getTime - lastTs) > 1800L * 1000) {
          sessionId += 1
          out += ((sessionId, 0L, 0.0))
        } else if (out.isEmpty) {
          // continuation of the previous batch's open tail session
          out += ((sessionId, 0L, 0.0))
        }
        val (sid, n, v) = out.last
        out(out.length - 1) = (sid, n + 1, v + e.value)
        lastTs = e.ts.getTime
      }
      state.update((sessionId, lastTs))
      out.iterator.map { case (sid, n, v) =>
        SessionRow(userId, sid, n, math.rint(v * 100) / 100)
      }
    }
  }

  /** s14's per-user open-session state: numbering continues s3/q30's
    * 1-based time-order convention. */
  case class OpenSession(sessionId: Long, n: Long, value: Double, lastTs: Long)

  /** s14's TIMEOUT-closing sessionizer — the state-eviction mechanism
    * none of the window/dedup/join entries exercise: sessions closed by
    * in-batch evidence (a gap) emit immediately; the OPEN tail session
    * lives in GroupState with an EVENT-TIME TIMEOUT at last event +
    * gap, and is emitted exactly once when the watermark passes that
    * point. On timeout the session payload is replaced by a TOMBSTONE
    * carrying only the next session number (n == 0 marks it): r5 ADVICE
    * found that removing state outright restarted a returning user at
    * session_id 1, duplicating (user, session_id) keys and breaking the
    * s3/q30 1-based continuation convention. The tombstone is O(1) per
    * ever-seen user — the numbering-continuity floor any engine pays —
    * and never re-registers a timeout, so it is emitted nowhere. Shared
    * with StreamingSpec so the multi-batch continuation and
    * post-timeout-resume tests drive this exact code path.
    */
  def timeoutSessionize(userId: Long, events: Iterator[Ev],
      state: GroupState[OpenSession]): Iterator[SessionRow] = {
    if (state.hasTimedOut) {
      val open = state.get
      state.update(OpenSession(open.sessionId + 1, 0L, 0.0, open.lastTs))
      Iterator.single(SessionRow(userId, open.sessionId, open.n,
        math.rint(open.value * 100) / 100))
    } else {
      val sorted = events.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
        var open = state.getOption.orNull
        sorted.foreach { e =>
          val t = e.ts.getTime
          if (open == null) open = OpenSession(1L, 0L, 0.0, t)
          else if (open.n == 0L) open = open.copy(value = 0.0, lastTs = t)
          else if (t - open.lastTs > 1800L * 1000) {
            out += SessionRow(userId, open.sessionId, open.n,
              math.rint(open.value * 100) / 100)
            open = OpenSession(open.sessionId + 1, 0L, 0.0, t)
          }
          open = open.copy(n = open.n + 1, value = open.value + e.value, lastTs = t)
        }
        state.update(open)
        state.setTimeoutTimestamp(open.lastTs + 1800L * 1000)
        out.iterator
      }
    }
  }

  /** s10's per-batch dedup step, shared with StreamingSpec so the
    * cross-batch test drives EXACTLY the production code path: resolve
    * intra-batch dups to min doc_id, anti-join against the accumulated
    * admitted table, land novelties under an idempotent per-batchId dir.
    */
  def dedupIngestBatch(admitted: String)(batch: DataFrame, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val spark = batch.sparkSession
    val firsts = batch
      .select(col("doc_id"), md5(col("text")).as("thash"))
      .groupBy("thash").agg(min(col("doc_id")).as("doc_id"))
    val admittedPath = new Path(admitted)
    val afs = admittedPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the state read EXCLUDES this batchId's own partition: a retried
    // batch would otherwise anti-join against its previous attempt's
    // output, emit an empty novelty set, and overwrite its own dir
    // with nothing — silently losing the admitted docs. The schema is
    // EXPLICIT: after an empty batch the state tree can hold only
    // _SUCCESS markers, and schema inference over zero data files
    // throws — which would kill the stream on the very next batch
    // (review finding; spec-pinned below).
    val stateSchema = StructType(Seq(
      StructField("doc_id", org.apache.spark.sql.types.LongType),
      StructField("thash", StringType),
      StructField("batch", IntegerType)))
    val novel =
      if (afs.exists(admittedPath))
        firsts.join(
          spark.read.schema(stateSchema).parquet(admitted)
            .filter(col("batch") =!= batchId).select("thash"),
          Seq("thash"), "left_anti")
      else firsts
    novel.select(col("doc_id"), col("thash"))
      .write.mode("overwrite").parquet(s"$admitted/batch=$batchId")
  }

  /** s15's per-batch manifest partial: the d78 per-shard manifest of
    * ONE micro-batch, written into its own batch= partition (s10's
    * idempotent-retry recipe — a re-delivered batch overwrites only
    * its own partial, never corrupting the accumulated state). The
    * manifest was DESIGNED for this: counts/bytes are sums and the
    * content checksum is an order-free commutative xor, so the final
    * manifest is an EXACT aggregate of partials under any batch
    * boundaries, arrival order, or retry history. */
  def manifestIngestBatch(state: String)(batch: DataFrame, batchId: Long): Unit =
    batch.select(expr("doc_id div 64").as("shard"),
        length(encode(col("text"), "UTF-8")).cast("long").as("nb"),
        expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)")
          .as("h32"))
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum("nb").as("bytes_total"),
        expr("bit_xor(h32)").as("content_xor"))
      .write.mode("overwrite").parquet(s"$state/batch=$batchId")

  /** s17's gate output: one `batch=<id>` directory per micro-batch. */
  private[graft] def s17GateDir: String =
    s"${graft.queries.Sources.scratchDir}/s17_gate"

  /** Shared by s11 (AvailableNow backfill) and s12 (checkpoint
    * recovery): the rate-limited file-stream source over a staged
    * landing zone plus the integer-cents daily-window aggregate. ONE
    * definition, so a fix to the nanos→timestamp conversion or the
    * cents fixed-point rule cannot silently diverge between the two
    * entries that share the same oracle pattern (review finding).
    */
  private def centsDailyWindowAgg(s: SparkSession, inDir: String,
      schema: StructType): DataFrame = {
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    graft.Tables.normalizeTs(src)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- s1: streaming tumbling-window count+sum with a watermark —
    // the streaming twin of q31. Complete mode so the bounded replay
    // yields the full aggregate (append mode + window close is the
    // unbounded deployment; watermark semantics spec-verified).
    "s1_stream_window" -> { (s, dir) =>
      val agg = streamEvents(s, dir)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      runToTable(s, agg, "graft_s1", OutputMode.Complete())
        .select(col("win.start").cast("date").as("day"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("day", "event_type")
    },

    // ---- s4: the append-mode deployment shape of s1 — the unbounded
    // pipeline form: each window row is emitted EXACTLY ONCE, when the
    // watermark passes its end (state for closed windows is evicted, so
    // state size is bounded by the windows inside the watermark horizon —
    // the property that lets this run forever on a cluster, where s1's
    // Complete mode would accumulate every window ever seen). The bounded
    // replay therefore yields only the watermark-closed windows; the
    // oracle mirrors that closure rule exactly (window_end ≤ max(ts) −
    // delay), so this entry is gate-checked, not rows-only. Late rows
    // behind the watermark are dropped, never re-emitted — spec-verified
    // with MemoryStream (StreamingSpec).
    "s4_stream_window_append" -> { (s, dir) =>
      val agg = streamEvents(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      runToTable(s, agg, "graft_s4", OutputMode.Append())
        .select(col("win.start").cast("date").as("day"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("day", "event_type")
    },

    // ---- s2: streaming dedup — dropDuplicates keyed (user_id,
    // event_type) emits each first-seen pair once (append mode, real
    // dedup state store); aggregated post-sink for a deterministic,
    // oracle-checkable shape.
    "s2_stream_dedup" -> { (s, dir) =>
      val dedup = streamEvents(s, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      runToTable(s, dedup, "graft_s2", OutputMode.Append())
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    },

    // ---- s6: bounded-state streaming dedup — the production form of
    // s2: dropDuplicatesWithinWatermark only guarantees dedup for
    // duplicates arriving within the watermark horizon, which is what
    // lets Spark EXPIRE key state (s2's plain dropDuplicates holds every
    // key ever seen — unbounded state on an unbounded stream). On the
    // bounded replay all rows share one batch, so the result equals the
    // exact distinct and the s2 oracle applies; the state-expiry
    // re-emission trade-off is spec-verified (StreamingSpec).
    "s6_stream_dedup_watermark" -> { (s, dir) =>
      val dedup = streamEvents(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
      runToTable(s, dedup, "graft_s6", OutputMode.Append())
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    },

    // ---- s5: stream-stream interval join — each purchase joined to the
    // user's views in the preceding hour. BOTH sides carry watermarks and
    // the join condition bounds event-time distance, which is what lets
    // Spark evict join state (a view older than watermark − 1 h can never
    // match a future purchase, so its state is dropped — bounded state on
    // an unbounded stream; an unconstrained stream-stream join would hold
    // every row forever). Inner join emits matches as both sides arrive,
    // so the bounded replay yields exactly the batch join → exact oracle
    // (µs-truncated comparisons mirrored on the DuckDB side, which reads
    // the same parquet at ns precision). Cross-batch matching is
    // spec-verified with MemoryStream (StreamingSpec).
    "s5_stream_join" -> { (s, dir) =>
      // one streaming source filtered twice (stream self-join) — Spark
      // re-reads the source per side within the micro-batch, but shares
      // the file-source tracking; measured faster than two sources here
      val ev = streamEvents(s, dir)
      val views = ev
        .filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("view_id"))
        .withWatermark("v_ts", "1 hour")
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("p_ts", "1 hour")
      val joined = purchases.join(views,
        col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") <= col("p_ts"))
      // a stream-stream join materializes per-partition state stores on
      // BOTH sides; on this bounded replay the store setup dominates, so
      // run the join at fewer partitions (state volume is tiny), then
      // restore the session default
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", 8)
      val sunk = try withBoundedStateStore(s) {
          runToTable(s, joined, "graft_s5", OutputMode.Append())
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      sunk
        .select(col("purchase_id"), col("view_id"), col("p_user").as("user_id"),
          (col("p_ts").cast("long") - col("v_ts").cast("long")).as("lag_sec"))
        .orderBy("purchase_id", "view_id")
    },

    // ---- s8: stream-static enrichment join — the other canonical
    // production streaming shape (s5 covers stream-STREAM): every
    // micro-batch equi-joins against a STATIC precomputed dimension (a
    // per-user profile snapshot), broadcast so the stream side never
    // shuffles and no join state store exists at all (the static side is
    // re-resolvable per batch; no watermark needed — this is what keeps
    // the join O(batch) forever on an unbounded stream). Enriched rows
    // then aggregate per derived attribute.
    "s8_stream_enrich" -> { (s, dir) =>
      val profile = graft.Tables.load(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_hist"))
      val enriched = streamEvents(s, dir)
        .join(broadcast(profile), Seq("user_id"))
        .withColumn("activity",
          when(col("n_hist") >= 67, "heavy").otherwise("light"))
      val agg = enriched.groupBy(col("activity"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      runToTable(s, agg, "graft_s8", OutputMode.Complete())
        .orderBy("activity", "event_type")
    },

    // ---- s9: DECLARATIVE streaming sessionization via the built-in
    // session_window() — the purpose-built operator for gap sessions
    // (s3 is the custom-state twin via flatMapGroupsWithState; prefer
    // the built-in where it expresses the semantics: state layout,
    // merging and watermark eviction are the engine's, not hand-rolled).
    // Boundary semantics: session_window's window end is EXCLUSIVE
    // (next event at exactly prev + gap starts a NEW session), so the
    // oracle breaks on diff >= gap — NOT q30's diff > gap convention.
    "s9_stream_session_window" -> { (s, dir) =>
      val agg = streamEvents(s, dir)
        .withWatermark("ts", "1 day")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("win"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      runToTable(s, agg, "graft_s9", OutputMode.Complete())
        .select(col("user_id"), col("win.start").cast("long").as("session_start_sec"),
          col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start_sec")
    },

    // ---- s7: foreachBatch file sink — the canonical production sink:
    // each micro-batch lands as its own parquet directory keyed by
    // batchId, which is what makes retries idempotent (a re-run of
    // batch N overwrites batch=N instead of appending duplicates —
    // Spark's exactly-once-sink recipe for stores without transactional
    // streaming writers). The re-read aggregate is oracle-checked
    // against the batch table, proving no rows were lost or doubled
    // across the batch boundary.
    "s7_stream_foreach_batch" -> { (s, dir) =>
      val out = s"${graft.queries.Sources.scratchDir}/s7_sink"
      graft.sources.GraftWriter.removeDirectory(s, out)
      val q = streamEvents(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy("event_type")
    },

    // ---- s10: streaming incremental ingest dedup — the production
    // daily-crawl loop d32 runs as a batch, as a LIVE pipeline: each
    // micro-batch of arriving documents is screened against the
    // ACCUMULATED admitted set on storage (a parquet state/output table
    // — the admitted rows ARE the state, so there is exactly one thing
    // to keep consistent), novel content hashes are admitted, dups are
    // dropped. foreachBatch + overwrite-per-batchId dirs is s7's
    // idempotent-retry recipe: a re-delivered batch rewrites its own
    // subdir and re-derives the same novelty set, so replays are safe.
    // Intra-batch dups resolve to min doc_id; the bounded replay
    // (single batch) therefore reproduces d1's keep-min semantics
    // exactly — the oracle below. Cross-batch state accumulation
    // (file-at-a-time triggers) is spec-verified in StreamingSpec.
    "s10_stream_incremental_dedup" -> { (s, dir) =>
      import org.apache.hadoop.fs.Path
      // input staging is witness-gated and shared across invocations
      // (round 16 — it is pure setup); the ADMITTED state tree is this
      // run's output and starts empty every time
      val in = new Path(stagedTableDir(s, dir, "documents", 1, "s10"))
      val conf = s.sparkContext.hadoopConfiguration
      val fs = in.getFileSystem(conf)
      val admitted = s"${graft.queries.Sources.scratchDir}/s10_admitted"
      graft.sources.GraftWriter.removeDirectory(s, admitted)
      // The keep-MIN oracle below needs the whole corpus in ONE batch:
      // dedupIngestBatch admits the first-SEEN doc_id per hash, so a
      // multi-batch replay could admit a larger doc_id before a later
      // batch delivers the smaller one. Pin that assumption mechanically
      // rather than riding on defaults: exactly one input file on disk,
      // and maxFilesPerTrigger set explicitly so a future default change
      // cannot split the replay. (First-seen semantics across batches is
      // the PRODUCTION behavior and is spec-verified in StreamingSpec.)
      val dataFiles = fs.listStatus(in).count(st => !st.getPath.getName.startsWith("_"))
      require(dataFiles == 1, s"s10 oracle requires a single-file batch, found $dataFiles")
      val schema = s.read.parquet(in.toString).schema
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1000000")
        .parquet(in.toString)
        .writeStream
        .foreachBatch(dedupIngestBatch(admitted) _)
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(admitted).select(col("doc_id"), col("thash"))
        .orderBy("doc_id")
    },

    // ---- s11: Trigger.AvailableNow — the production BACKFILL shape:
    // (source + aggregate defined once in centsDailyWindowAgg, shared
    // with s12 so the ts conversion and cents fixed-point rule cannot
    // silently diverge between the two entries)
    // drain everything currently on storage under a rate limit
    // (maxFilesPerTrigger=1 → one micro-batch per file, aggregate state
    // carried across batches), then stop on its own. This is how a
    // 100 TB landing zone is caught up without either an unbounded
    // always-on query or one giant OOM batch; the same checkpointed
    // query then restarts incrementally. The oracle is the invariant
    // that makes the trigger trustworthy: a multi-batch bounded drain
    // must converge to exactly the one-shot batch aggregate. Integer
    // cents, since cross-batch state accumulation reorders a double sum.
    "s11_stream_available_now" -> { (s, dir) =>
      // three-file landing zone: the drain MUST span multiple batches.
      // Staged once per source fingerprint — the backfill under test is
      // the DRAIN, not the staging write.
      val in = stagedTableDir(s, dir, "events", 3, "s11")
      val schema = s.read.parquet(in).schema
      val agg = centsDailyWindowAgg(s, in, schema)
      // state-store count = partitions × batches here; the aggregate
      // state is ~150 window rows, so run the drain at few partitions
      // (s5's recipe) and restore the session default after
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", 4)
      try {
        val q = agg.writeStream.format("memory").queryName("graft_s11")
          .outputMode(OutputMode.Complete())
          .trigger(Trigger.AvailableNow()).start()
        // the boolean MATTERS: a false return means the drain was still
        // running — stop() would then freeze a partial aggregate into
        // the sink and the entry would report a bogus value mismatch
        // instead of a timeout (review finding)
        try require(q.awaitTermination(240000), "s11 drain did not finish in 240s")
        finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      s.table("graft_s11")
        .select(col("win.start").cast("date").as("day"), col("event_type"),
          col("n"), col("total_cents"))
        .orderBy("day", "event_type")
    },

    // ---- s12: CHECKPOINT RECOVERY — the property every production
    // streaming claim rests on: stop a checkpointed query, come back
    // later (new data has landed), restart the SAME plan against the
    // SAME checkpoint, and the engine must (a) restore the aggregate
    // state, (b) process ONLY the files it has not seen, (c) never
    // double-count. Exercised as two AvailableNow sessions over a
    // growing landing zone: drain half the files, land the other half,
    // restart from the checkpoint. The oracle is the one-shot batch
    // aggregate over EVERYTHING — any state loss shows as missing
    // counts, any reprocessing as doubled counts. Deterministic by
    // construction: session 2's landing zone holds one already-seen
    // file plus exactly ONE unseen file (parts.drop(1) of the 2-file
    // split). Integer cents as in s11.
    "s12_stream_checkpoint_recovery" -> { (s, dir) =>
      import org.apache.hadoop.fs.{FileUtil, Path}
      val base = s"${graft.queries.Sources.scratchDir}/s12_${Integer.toHexString(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new Path(base).getFileSystem(conf)
      // stage a stable 2-file split once per source fingerprint (one
      // file per session: multi-batch-per-session is s11's property;
      // what s12 pins is recovery ACROSS sessions, so keep the drains
      // minimal). Its own tag: this entry clears $base/in below.
      val allDir = stagedTableDir(s, dir, "events", 2, "s12_all")
      val parts = fs.listStatus(new Path(allDir)).map(_.getPath)
        .filter(p => p.getName.startsWith("part-")).sortBy(_.getName)
      require(parts.length == 2, s"expected 2 staged files, got ${parts.length}")
      // fresh landing zone + checkpoint every run (a stale checkpoint
      // would mark the same filenames already-processed and the final
      // restart would legitimately emit nothing)
      graft.sources.GraftWriter.removeDirectory(s, s"$base/in")
      graft.sources.GraftWriter.removeDirectory(s, s"$base/ckpt")
      fs.mkdirs(new Path(s"$base/in"))
      def land(ps: Seq[Path]): Unit = ps.foreach { p =>
        FileUtil.copy(fs, p, fs, new Path(s"$base/in", p.getName), false, true, conf)
      }
      val schema = s.read.parquet(allDir).schema
      def drain(): Unit = {
        val agg = centsDailyWindowAgg(s, s"$base/in", schema)
        val q = agg.writeStream.format("memory").queryName("graft_s12")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode(OutputMode.Complete())
          .trigger(Trigger.AvailableNow()).start()
        try require(q.awaitTermination(240000), "s12 drain did not finish in 240s")
        finally q.stop()
      }
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", 4)
      try {
        land(parts.take(1)); drain()   // session 1: first half
        land(parts.drop(1)); drain()   // session 2: restart from ckpt, new file
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      s.table("graft_s12")
        .select(col("win.start").cast("date").as("day"), col("event_type"),
          col("n"), col("total_cents"))
        .orderBy("day", "event_type")
    },

    // ---- s13: stream-stream LEFT OUTER interval join — s5's
    // production completion: a purchase with NO qualifying view must
    // still emit (null view) once the engine can PROVE no match can
    // arrive. Outer rows are held in join state and flushed only when
    // the global watermark passes their join window — the semantics
    // that make outer results exactly-once instead of guess-and-
    // retract, and the reason an unconditioned outer stream join is
    // rejected outright. On a bounded replay the watermark never
    // advances past the tail, so the last unmatched purchases would
    // sit in state forever; the landing zone is therefore CLOSED with
    // two sentinel files far past the data horizon (user_id −1, both
    // event types so BOTH sides' watermarks advance; filtered from
    // the result): the first advances the watermark, the second
    // supplies the batch in which eviction actually runs. The oracle
    // is then the full batch LEFT join — no closure-rule remainder.
    // File order is pinned by explicit mtimes + maxFilesPerTrigger=1
    // (a sentinel processed before the data would put the whole
    // corpus behind the watermark and drop it).
    "s13_stream_outer_join" -> { (s, dir) =>
      val inDir = sentinelClosedEventsDir(s, dir)
      val schema = s.read.parquet(inDir).schema
      val src = graft.Tables.normalizeTs(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir))
      val views = src.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("view_id"))
        .withWatermark("v_ts", "1 hour")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("p_ts", "1 hour")
      val joined = purchases.join(views,
        col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") <= col("p_ts"),
        "left_outer")
      // s5's recipe: join state stores per shuffle partition — tiny
      // state, so run at few partitions and restore the default.
      // s13 is the stateful-heaviest entry (both join sides buffer a
      // watermark-bounded hour of events), so it runs on the RocksDB
      // state store (VERDICT r5 #5): at 100 TB the join state is
      // disk-resident per executor instead of JVM-heap HashMaps —
      // the provider swap is pure configuration, results byte-equal
      // (StreamingSpec pins provider parity on the shared join shape).
      // Partition count stays the fixed 8 — MEASURED, not assumed
      // (round 13): scaling it with input volume (32-way at sf10's
      // 10 M events) probed WORSE, 70.8 s vs 46.4 s — per-batch
      // RocksDB instance setup/commit across every partition costs
      // more than the extra state parallelism returns on a bounded
      // replay. On a genuinely unbounded deployment with long-lived
      // state stores the trade flips; that is a deployment-config
      // decision, not this entry's.
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", 8)
      val sunk = try withBoundedStateStore(s) {
          runToTable(s, joined, "graft_s13", OutputMode.Append())
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      sunk.filter(col("p_user") >= 0)
        .select(col("purchase_id"), col("view_id"),
          col("p_user").as("user_id"),
          (col("p_ts").cast("long") - col("v_ts").cast("long")).as("lag_sec"))
        .orderBy("purchase_id", "view_id")
    },

    // ---- s14: TIMEOUT-closed sessionization — the GroupState
    // EVENT-TIME TIMEOUT mechanism (s3 numbers sessions with
    // NoTimeout and emits per-batch fragments; s9's session_window is
    // engine-owned): a session closes either when later in-batch
    // evidence proves the gap, or when the WATERMARK passes last
    // event + gap and the registered timeout fires — the only way an
    // open tail session ever emits on an unbounded stream, and the
    // eviction that bounds state to open sessions only. Replay closed
    // by the shared sentinel landing zone, so EVERY session times out
    // or closes by evidence and the exact q30/s3 batch oracle applies
    // (same gap rule, same 1-based numbering).
    "s14_stream_timeout_session" -> { (s, dir) =>
      import s.implicits._
      val inDir = sentinelClosedEventsDir(s, dir)
      val schema = s.read.parquet(inDir).schema
      val evs = graft.Tables.normalizeTs(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir))
        .selectExpr("cast(user_id as long) user_id", "ts",
          "cast(event_id as long) event_id", "cast(value as double) value")
        .withWatermark("ts", "1 hour")
        .as[Ev]
      val sessions = evs.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout())(timeoutSessionize)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", 8)
      val sunk = try withBoundedStateStore(s) {
          runToTable(s, sessions.toDF(), "graft_s14", OutputMode.Append())
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      sunk.filter(col("user_id") >= 0)
        .orderBy("user_id", "session_id")
    },

    // ---- s3: stateful sessionization via flatMapGroupsWithState —
    // the streaming twin of q30 (same gap, same session numbering),
    // with the per-user session counter held in GroupState.
    "s3_stream_session" -> { (s, dir) =>
      import s.implicits._
      val evs: Dataset[Ev] = streamEvents(s, dir)
        .selectExpr("cast(user_id as long) user_id", "ts",
          "cast(event_id as long) event_id", "cast(value as double) value")
        .as[Ev]
      val sessions = evs.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(sessionize)
      withBoundedStateStore(s) {
        runToTable(s, sessions.toDF(), "graft_s3", OutputMode.Append())
      }.orderBy("user_id", "session_id")
    },

    // ---- s15: STREAMING MANIFEST MAINTENANCE — the live half of the
    // d78/a16 governance pair: as documents land on the ingest
    // directory, each micro-batch folds its own per-shard manifest
    // partial into an append-only state tree (foreachBatch, s7/s10's
    // idempotent overwrite-per-batchId recipe), and the published
    // manifest is one aggregate over the partials. EXACT by design:
    // counts and bytes add, the content checksum is a commutative
    // bit_xor — so the streaming manifest equals the batch d78
    // manifest under ANY batch boundaries or retries (the bounded
    // replay here is one batch; multi-batch accumulation and
    // re-delivery idempotence are spec-verified in StreamingSpec).
    // At 100 TB the same foreachBatch runs unbounded on the landing
    // zone and a16's validator diffs the accumulated tree after every
    // transfer.
    "s15_stream_manifest" -> { (s, dir) =>
      // witness-gated input staging (round 16); the manifest STATE tree
      // is this run's accumulated output and starts empty every time
      val in = stagedTableDir(s, dir, "documents", 1, "s15")
      val state = s"${graft.queries.Sources.scratchDir}/s15_manifest"
      graft.sources.GraftWriter.removeDirectory(s, state)
      val schema = s.read.parquet(in).schema
      val q = s.readStream.schema(schema).parquet(in)
        .writeStream
        .foreachBatch(manifestIngestBatch(state) _)
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(state)
        .groupBy("shard").agg(
          sum("n_docs").as("n_docs"),
          sum("bytes_total").as("bytes_total"),
          expr("bit_xor(content_xor)").as("content_xor"))
        .orderBy("shard")
    },

    // ---- s16: STREAMING HEAVY HITTERS — d28's Misra-Gries sketch as
    // LIVE GroupState: tokens bucket by crc32 % 32, each bucket's ≤64
    // counters fold batch-over-batch in flatMapGroupsWithState (the
    // landing zone is staged as FOUR files replayed one per trigger,
    // so the cross-batch merge path actually runs), and the final
    // candidate sets feed an EXACT recount against the lake — the
    // d28 two-phase contract (sketch finds WHO, the store says HOW
    // MANY), now incremental. The output is the exact top-20, so the
    // oracle is the plain exact aggregate: any sketch defect that
    // matters (a dropped true heavy hitter) breaks the hash. State at
    // 100 TB: 32 buckets × 64 counters — kilobytes, constant in
    // stream length; the rerank is one map-combinable count over the
    // batch store, and the top-20 runs the two-stage bucketed rank.
    "s16_stream_heavy_hitters" -> { (s, dir) =>
      import s.implicits._
      // TWO staged files (round 16; was four): one cross-batch MG merge
      // is the property the replay must exercise, and two batches prove
      // it at half the micro-batch machinery cost — the r12 s17
      // argument applied here. The RESULT is batch-cut-independent by
      // construction: the output is the exact rerank over the lake, and
      // the Misra-Gries survival bound (checked below, loudly) holds
      // under any batch boundaries, so every true top-20 token is a
      // candidate under any file split. Deeper adversarial batch cuts
      // stay spec-driven (StreamingSpec, MemoryStream). Staging is
      // witness-gated and shared across invocations (pure setup).
      val in = stagedTableDir(s, dir, "documents", 2, "s16")
      val schema = s.read.parquet(in).schema
      val toks = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .select(pmod(crc32(col("tok")), lit(32)).cast("int").as("bucket"),
          col("tok"))
        .as[TokRow]
      val summaries = toks.groupByKey(_.bucket)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.NoTimeout())(mgFold)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", 8)
      val sunk = try withBoundedStateStore(s) {
          runToTable(s, summaries.toDF(), "graft_s16", OutputMode.Append())
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      val cand = sunk.groupBy("bucket")
        .agg(expr("max_by(toks, seq)").as("toks"))
        .select(explode(col("toks")).as("tok")).distinct()
      // one persisted vocabulary aggregate serves BOTH the exact rerank
      // and the precondition's bucket totals (round 15): the old shape
      // re-exploded the whole corpus a third time just to count tokens
      // per bucket, but Σ n over the (tok, n) aggregate is the same
      // number — vocabulary-sized input instead of corpus-sized.
      val tokCounts = graft.queries.Pipeline.parallelScan(s,
          graft.Tables.load(s, dir, "documents"))
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .persist()
      val exact = tokCounts.join(cand, Seq("tok"), "left_semi")
      val wb = Window.partitionBy("bk").orderBy(desc("n"), asc("tok"))
      val wg = Window.orderBy(desc("n"), asc("tok"))
      val top = exact
        .withColumn("bk", pmod(crc32(col("tok")), lit(64)))
        .withColumn("rb", row_number().over(wb))
        .filter(col("rb") <= 20)
        .withColumn("rank", row_number().over(wg).cast("int"))
        .filter(col("rank") <= 20)
        .select("rank", "tok", "n")
        .persist() // the precondition check and the output read one pass
      // PRECONDITION (checked, not assumed): the exact-top-20 contract
      // is only guaranteed when every top-20 token clears its bucket's
      // Misra-Gries survival bound — count > N_bucket/(k+1), k=64 —
      // because MG only promises candidacy above that frequency. On a
      // corpus where the 20th-ranked token falls below the bound the
      // rerank could silently miss it (arrival-order dependent), so
      // fail LOUDLY here instead. One 32-row aggregate + a broadcast
      // join against 20 rows — negligible at any scale.
      val bucketTotals = tokCounts
        .select(pmod(crc32(col("tok")), lit(32)).cast("int").as("bucket"),
          col("n"))
        .groupBy("bucket").agg(sum(col("n")).as("nb"))
      // try/finally (advisor r15): if the precondition throws, the vocab
      // pin must still release — matching s17's bench.unpersist pattern
      try {
        val violations = top
          .withColumn("bucket", pmod(crc32(col("tok")), lit(32)).cast("int"))
          .join(broadcast(bucketTotals), Seq("bucket"))
          .filter(col("n") * lit(65L) <= col("nb"))
          .count()
        require(violations == 0L,
          s"s16 precondition violated: $violations top-20 token(s) fall at/below " +
            "their bucket's Misra-Gries survival bound N_bucket/65 — the sketch " +
            "cannot guarantee they were candidates; raise k or reduce buckets")
      } finally
        // the violations count materialized `top`, so the vocab aggregate
        // backing it can release its blocks before the caller's action
        tokCounts.unpersist(blocking = false)
      top.orderBy("rank")
    },

    // ---- s17: STREAMING DECONTAMINATION GATE — d25's benchmark-
    // overlap check as the landing-zone admission filter (the
    // deployment shape: docs stream in, each micro-batch is classified
    // against the STATIC eval-set shingles, the gated verdicts land in
    // the lake). The per-doc rule is STATELESS (explode → broadcast
    // semi-join → per-doc count inside the batch), so the union over
    // ANY batch boundaries equals the batch classification — pinned by
    // staging the corpus as TWO files replayed one per trigger, then
    // hash-comparing against the batch oracle (d25's own CTEs + a
    // per-source rollup). Two batches prove the same cross-batch-union
    // claim four did at half the micro-batch machinery cost (round 12,
    // bench shed=0 task — this entry alone was 22.7 s of the r11
    // driver's 300 s budget); StreamingSpec still exercises deeper
    // multi-batch replays. foreachBatch writes per-batchId directories
    // (the s7 idempotent-retry recipe). At 100 TB the benchmark side
    // is eval-set-sized and broadcasts; per batch nothing but
    // (doc_id, source, counts) rows move.
    "s17_stream_decontam" -> { (s, dir) =>
      // input staging witness-gated across invocations (round 16 — the
      // full-corpus landing write was pure setup); the GATE tree is this
      // run's output and starts empty every time
      val in = stagedTableDir(s, dir, "documents", 2, "s17")
      val gate = s17GateDir
      graft.sources.GraftWriter.removeDirectory(s, gate)
      val docs = graft.Tables.load(s, dir, "documents")
      // persisted: each micro-batch broadcasts this frame, and without
      // the pin every batch would re-run the eval-set shingle pass
      // (round 15 — the per-batch plan rebuilds its broadcast, so the
      // only sharing available is at the cached-data layer)
      val bench = graft.queries.Pipeline.withShingles(
          docs.filter(col("doc_id") % 97 === 0))
        .select(explode(col("shingles")).as("shingle")).distinct()
        .withColumn("bhit", lit(1L)).persist()
      // (2 MB row groups on the staged landing files — round 13 sf10
      // probe — come from stageLanding via stagedTableDir: small row
      // groups let the per-batch shingle explode split across cores.)
      val schema = s.read.parquet(in).schema
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // ONE shingle pass per batch (round 15): the old shape read
          // `sh` from two plan branches (the exploded hit count and the
          // per-doc size spine), re-running the whole tokenize+shingle
          // computation per branch because nothing below an explode can
          // be exchange-reused. Carrying size(shingles) through the
          // explode and counting broadcast hits with a marker column
          // folds both branches into one scan → explode → broadcast
          // left join → one aggregate. shingles is always a non-null
          // array of ≥1 distinct elements (withShingles contract), so
          // explode keeps every doc and count(bhit) = the old left_semi
          // row count; values and the gate schema are unchanged.
          // parallelScan (round 16): the staged landing file is one
          // parquet row group, so this whole per-batch stage — the
          // entry's dominant cost — ran as ONE task (event-log: 8.5 s
          // of single-task CPU on local[32]); at scale a landing batch
          // splits naturally and the guard skips the exchange
          graft.queries.Pipeline.withShingles(
              graft.queries.Pipeline.parallelScan(s,
                batch.filter(col("doc_id") % 97 =!= 0)))
            .select(col("doc_id"), col("source"),
              size(col("shingles")).cast("long").as("n_shingles"),
              explode(col("shingles")).as("shingle"))
            .join(broadcast(bench), Seq("shingle"), "left")
            .groupBy("doc_id", "source", "n_shingles")
            .agg(coalesce(sum(col("bhit")), lit(0L)).as("n_contam"))
            .select(col("doc_id"), col("source"), col("n_shingles"),
              col("n_contam"),
              (col("n_contam") * 10 >= col("n_shingles")).as("contaminated"))
            .write.mode("overwrite").parquet(s"$gate/batch=$batchId")
          ()
        }
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable()
      finally { q.stop(); bench.unpersist(blocking = false) }
      s.read.parquet(gate)
        .groupBy("source").agg(
          count(lit(1)).as("n_train"),
          sum(expr("CASE WHEN contaminated THEN 1 ELSE 0 END"))
            .as("n_contaminated"),
          sum(expr("CASE WHEN contaminated THEN 0 ELSE 1 END"))
            .as("admitted"))
        .select(col("source"), col("n_train"), col("n_contaminated"),
          col("admitted"),
          expr("cast((n_contaminated * 1000) div n_train as bigint)")
            .as("contam_pm"))
        .orderBy("source")
    }
  )

  val oracles: Map[String, String] = Map(
    // s15: the streaming-accumulated manifest must equal d78's batch
    // manifest (minus the id-range columns) — that equality IS the
    // commutativity claim.
    "s15_stream_manifest" -> """
      WITH h AS (
        SELECT doc_id // 64 AS shard,
               CAST(octet_length(encode(text)) AS BIGINT) AS nb,
               list_reduce(list_prepend(0::BIGINT,
                 list_transform(range(8),
                   i -> CAST(strpos('123456789abcdef',
                          substr(md5(text), CAST(i + 1 AS INTEGER), 1))
                        AS BIGINT))),
                 (a, d) -> a * 16 + d) AS h32
        FROM documents)
      SELECT CAST(shard AS BIGINT) AS shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nb) AS BIGINT) AS bytes_total,
             CAST(bit_xor(h32) AS BIGINT) AS content_xor
      FROM h GROUP BY shard ORDER BY shard""",

    // s16: the oracle is the EXACT top-20 — the streaming sketch only
    // proposes candidates, and the Misra-Gries survival bound
    // guarantees every true heavy hitter is among them, so the
    // reranked output must equal the plain batch aggregate.
    "s16_stream_heavy_hitters" -> """
      WITH t AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents)
        GROUP BY 1),
      r AS (SELECT tok, n,
                   CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS rank
            FROM t)
      SELECT rank, tok, n FROM r WHERE rank <= 20
      ORDER BY rank""",

    // s17: shares d25's contamination CTEs (the gate deployed is the
    // check certified) + a per-source rollup — equality across the
    // four-file replay IS the batch-invariance claim.
    "s17_stream_decontam" -> s"""
      WITH ${graft.queries.Pipeline.d25Ctes},
      src AS (
        SELECT d.doc_id, d.n_shingles, d.contaminated, doc.source
        FROM d25doc d JOIN documents doc ON doc.doc_id = d.doc_id)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
             CAST(sum(CASE WHEN contaminated THEN 0 ELSE 1 END) AS BIGINT)
               AS admitted,
             CAST((CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END)
                        AS BIGINT) * 1000) // count(*) AS BIGINT) AS contam_pm
      FROM src GROUP BY source ORDER BY source""",

    "s10_stream_incremental_dedup" -> """
      SELECT min(doc_id) AS doc_id, md5(text) AS thash
      FROM documents
      GROUP BY md5(text)
      ORDER BY doc_id""",

    "s9_stream_session_window" -> """
      WITH e AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (
        SELECT user_id, ts, value,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM e)
      SELECT user_id,
             -- floor, not CAST-rounding: Spark's timestamp->long cast
             -- truncates sub-second micros, DuckDB's double->bigint
             -- cast rounds (q39 convention: floor on both engines)
             CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_sec,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value), 2) AS session_value
      FROM s
      GROUP BY user_id, sid
      ORDER BY user_id, session_start_sec""",
    "s8_stream_enrich" -> """
      WITH p AS (
        SELECT user_id, count(*) AS n_hist FROM events GROUP BY user_id)
      SELECT CASE WHEN p.n_hist >= 67 THEN 'heavy' ELSE 'light' END AS activity,
             e.event_type,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(e.value), 2) AS total_value
      FROM events e JOIN p USING (user_id)
      GROUP BY 1, 2
      ORDER BY activity, event_type""",
    "s1_stream_window" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, round(sum(value), 2) AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY day, event_type""",

    // the one-shot batch aggregate over the WHOLE corpus: state loss on
    // restart would show as missing counts, file reprocessing as doubled
    "s12_stream_checkpoint_recovery" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM events
      GROUP BY 1, 2
      ORDER BY day, event_type""",

    // the batch one-shot aggregate the bounded multi-batch drain must
    // reproduce exactly (integer cents — see the s11 entry comment)
    "s11_stream_available_now" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM events
      GROUP BY 1, 2
      ORDER BY day, event_type""",

    "s4_stream_window_append" -> """
      WITH mx AS (SELECT max(ts) AS m FROM events)
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, round(sum(value), 2) AS total_value
      FROM events, mx
      WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
      GROUP BY 1, 2
      ORDER BY day, event_type""",

    "s2_stream_dedup" -> """
      SELECT event_type, count(DISTINCT user_id) AS n_users
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",

    "s6_stream_dedup_watermark" -> """
      SELECT event_type, count(DISTINCT user_id) AS n_users
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",

    "s5_stream_join" -> """
      WITH p AS (
        SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
        FROM events WHERE event_type = 'purchase'),
      v AS (
        SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_us
        FROM events WHERE event_type = 'view')
      SELECT p.purchase_id, v.view_id, p.user_id,
             (p.p_us // 1000000) - (v.v_us // 1000000) AS lag_sec
      FROM p JOIN v
        ON v.user_id = p.user_id
       AND v.v_us >= p.p_us - 3600000000 AND v.v_us <= p.p_us
      ORDER BY purchase_id, view_id""",

    "s13_stream_outer_join" -> """
      WITH p AS (
        SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
        FROM events WHERE event_type = 'purchase'),
      v AS (
        SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_us
        FROM events WHERE event_type = 'view')
      SELECT p.purchase_id, v.view_id, p.user_id,
             (p.p_us // 1000000) - (v.v_us // 1000000) AS lag_sec
      FROM p LEFT JOIN v
        ON v.user_id = p.user_id
       AND v.v_us >= p.p_us - 3600000000 AND v.v_us <= p.p_us
      ORDER BY purchase_id, view_id""",

    "s7_stream_foreach_batch" -> """
      SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",

    "s3_stream_session" -> """
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessions AS (
        SELECT user_id, value,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, count(*) AS n_events,
             round(sum(value), 2) AS session_value
      FROM sessions
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id""",

    "s14_stream_timeout_session" -> """
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessions AS (
        SELECT user_id, value,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, count(*) AS n_events,
             round(sum(value), 2) AS session_value
      FROM sessions
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id"""
  )
}
