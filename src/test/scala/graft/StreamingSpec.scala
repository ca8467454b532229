package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.streaming.StreamingOps

/** SURVEY §2 s1-s3 specs: incremental multi-batch behavior driven by
  * MemoryStream — watermarked window close (append mode), cross-batch
  * dedup state, and cross-batch session-counter state — the unbounded
  * semantics the bounded file-replay query entries can't show. */
class StreamingSpec extends SparkSpecBase {

  private def ts(min: Int): Timestamp = new Timestamp(3600_000L * 24 * 100 + min * 60_000L)

  /** Runs `body` with the session's streaming state store pinned to
    * RocksDB, restoring the previous provider after. */
  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally spark.conf.set(key, prev)
  }

  test("s1: watermarked tumbling window emits closed windows in append mode") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("k"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("spec_s1")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(0), "a"), (ts(10), "a"), (ts(20), "b"))
      q.processAllAvailable()
      // nothing emitted yet — watermark hasn't passed the window end
      assert(spark.table("spec_s1").count() == 0)
      // event 90 min later pushes watermark past the first window's end
      in.addData((ts(90), "a"))
      q.processAllAvailable()
      in.addData((ts(200), "a")) // close the second window too
      q.processAllAvailable()
      val rows = spark.table("spec_s1")
        .select(col("k"), col("n"), col("win.start").cast("long").as("w"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows.contains(("a", 2L)) && rows.contains(("b", 1L)))
    } finally q.stop()
  }

  test("s4: late data behind the watermark is dropped, closed windows never re-emit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("k"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("spec_s4")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(0), "a"), (ts(10), "a"))
      q.processAllAvailable()
      // watermark → 80 min: window [0,60) closes and emits n=2
      in.addData((ts(90), "a"))
      q.processAllAvailable()
      // LATE event inside the closed window, behind the watermark: must
      // be dropped — if it were kept it would re-create window [0,60)
      // state and re-emit it with n=1 on the next close below
      in.addData((ts(5), "a"))
      q.processAllAvailable()
      in.addData((ts(200), "a")) // close window [60,120) (holds ts(90))
      q.processAllAvailable()
      val rows = spark.table("spec_s4")
        .select(col("win.start").cast("long").as("w"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val w0 = ts(0).getTime / 1000
      assert(rows == Set((w0, 2L), (w0 + 3600, 1L)), rows.toString)
    } finally q.stop()
  }

  test("s2: streaming dropDuplicates holds dedup state across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val dedup = in.toDF().toDF("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
    val q = dedup.writeStream.format("memory").queryName("spec_s2")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, "view"), (1L, "view"), (2L, "view"))
      q.processAllAvailable()
      assert(spark.table("spec_s2").count() == 2)
      // same keys again in a LATER batch — still deduped (state store)
      in.addData((1L, "view"), (2L, "view"), (2L, "buy"))
      q.processAllAvailable()
      assert(spark.table("spec_s2").count() == 3)
    } finally q.stop()
  }

  test("s5: stream-stream interval join matches across batches, respects the range") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vIn = MemoryStream[(Long, Timestamp, Long)] // user, ts, view_id
    val pIn = MemoryStream[(Long, Timestamp, Long)] // user, ts, purchase_id
    val views = vIn.toDF().toDF("v_user", "v_ts", "view_id")
      .withWatermark("v_ts", "10 minutes")
    val purchases = pIn.toDF().toDF("p_user", "p_ts", "purchase_id")
      .withWatermark("p_ts", "10 minutes")
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"))
    val q = joined.writeStream.format("memory").queryName("spec_s5")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: views only — nothing to join yet
      vIn.addData((1L, ts(0), 100L), (1L, ts(30), 101L), (2L, ts(0), 102L))
      q.processAllAvailable()
      assert(spark.table("spec_s5").count() == 0)
      // batch 2 (purchase side): joins against view STATE from batch 1 —
      // user 1 at min 50 matches both earlier views (within the hour);
      // the wrong-user and out-of-range cases must not match
      pIn.addData((1L, ts(50), 200L), (3L, ts(50), 201L))
      q.processAllAvailable()
      // batch 3: purchase 90 min after view 100 — outside the interval,
      // only view 101 (60 min before) qualifies
      pIn.addData((1L, ts(90), 202L))
      q.processAllAvailable()
      val rows = spark.table("spec_s5")
        .select("purchase_id", "view_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((200L, 100L), (200L, 101L), (202L, 101L)), rows.toString)
    } finally q.stop()
  }

  test("s13: RocksDB state store yields the same join results as the default provider") {
    // VERDICT r5 #5: s13 runs its watermark-bounded join state on the
    // RocksDB provider (disk-resident state at 100 TB instead of JVM
    // heap). Pin provider parity on the exact s5/s13 join shape, and
    // confirm RocksDB is actually the store serving the operator.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def run(provider: String, name: String): (Set[(Long, Long)], Boolean) = {
      val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        s"org.apache.spark.sql.execution.streaming.state.$provider")
      try {
        val vIn = MemoryStream[(Long, Timestamp, Long)]
        val pIn = MemoryStream[(Long, Timestamp, Long)]
        val views = vIn.toDF().toDF("v_user", "v_ts", "view_id")
          .withWatermark("v_ts", "10 minutes")
        val purchases = pIn.toDF().toDF("p_user", "p_ts", "purchase_id")
          .withWatermark("p_ts", "10 minutes")
        val joined = purchases.join(views,
          col("p_user") === col("v_user") &&
            col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("v_ts") <= col("p_ts"), "inner")
        val q = joined.writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          vIn.addData((1L, ts(0), 100L), (1L, ts(30), 101L), (2L, ts(0), 102L))
          q.processAllAvailable()
          pIn.addData((1L, ts(50), 200L), (3L, ts(50), 201L), (1L, ts(90), 202L))
          q.processAllAvailable()
          val rows = spark.table(name).select("purchase_id", "view_id")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val usedRocks = q.lastProgress.stateOperators.exists(
            _.customMetrics.keySet.toArray.exists(_.toString.startsWith("rocksdb")))
          (rows, usedRocks)
        } finally q.stop()
      } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
    val (defRows, defRocks) = run("HDFSBackedStateStoreProvider", "spec_store_hdfs")
    val (rocksRows, rocksUsed) = run("RocksDBStateStoreProvider", "spec_store_rocks")
    assert(!defRocks && rocksUsed, s"provider swap did not take effect")
    assert(rocksRows == defRows && rocksRows.nonEmpty, s"$rocksRows vs $defRows")
  }

  test("s3/s14/s16: RocksDB state store yields identical GroupState results") {
    // A deployment may run every stateful entry on RocksDB through
    // spark.sql.streaming.stateStore.providerClass. The join shape is
    // covered above; this pins provider parity on the OTHER stateful
    // shape those entries use —
    // flatMapGroupsWithState (s3/s14's sessionizers, s16's Misra-Gries
    // fold all hold a per-key GroupState map) — and confirms RocksDB
    // actually served the operator via its custom metrics.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def run(rocks: Boolean, name: String): (Set[(Long, Long, Double)], Boolean) = {
      def body: (Set[(Long, Long, Double)], Boolean) = {
        val in = MemoryStream[StreamingOps.Ev]
        val sessions = in.toDS().groupByKey(_.user_id)
          .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
            StreamingOps.sessionize)
        val q = sessions.toDF().writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          in.addData(
            StreamingOps.Ev(1L, ts(0), 1L, 1.0),
            StreamingOps.Ev(1L, ts(45), 2L, 3.0),
            StreamingOps.Ev(2L, ts(0), 3L, 5.0))
          q.processAllAvailable()
          in.addData(StreamingOps.Ev(1L, ts(500), 4L, 4.0))
          q.processAllAvailable()
          val rows = spark.table(name)
            .select("session_id", "n_events", "session_value")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
          val usedRocks = q.lastProgress.stateOperators.exists(
            _.customMetrics.keySet.toArray.exists(_.toString.startsWith("rocksdb")))
          (rows, usedRocks)
        } finally q.stop()
      }
      if (rocks) withRocksDb(body) else body
    }
    val (defRows, defRocks) = run(rocks = false, "spec_gs_hdfs")
    val (rocksRows, rocksUsed) = run(rocks = true, "spec_gs_rocks")
    assert(!defRocks && rocksUsed, "provider swap did not take effect")
    assert(rocksRows == defRows && rocksRows.nonEmpty, s"$rocksRows vs $defRows")
  }

  test("s13: left-outer interval join emits unmatched only after watermark close") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vIn = MemoryStream[(Long, Timestamp, Long)] // user, ts, view_id
    val pIn = MemoryStream[(Long, Timestamp, Long)] // user, ts, purchase_id
    val views = vIn.toDF().toDF("v_user", "v_ts", "view_id")
      .withWatermark("v_ts", "10 minutes")
    val purchases = pIn.toDF().toDF("p_user", "p_ts", "purchase_id")
      .withWatermark("p_ts", "10 minutes")
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("spec_s13")
      .outputMode(OutputMode.Append()).start()
    try {
      vIn.addData((1L, ts(0), 100L))
      // purchase 200 matches view 100; purchase 201 has no view at all
      pIn.addData((1L, ts(10), 200L), (2L, ts(10), 201L))
      q.processAllAvailable()
      val early = spark.table("spec_s13").select("purchase_id", "view_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      // the unmatched purchase is HELD in state, not guessed at
      assert(early == Set((200L, 100L)), early.toString)
      // advance both watermarks far past 201's join window...
      vIn.addData((9L, ts(1000), 900L)); pIn.addData((9L, ts(1000), 901L))
      q.processAllAvailable()
      // ...and run the batch in which eviction emits the outer row
      vIn.addData((9L, ts(1010), 902L)); pIn.addData((9L, ts(1010), 903L))
      q.processAllAvailable()
      val rows = spark.table("spec_s13").select("purchase_id", "view_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((201L, -1L)), rows.toString)
      // the matched purchase is never re-emitted as unmatched
      assert(!rows.contains((200L, -1L)), rows.toString)
    } finally q.stop()
  }

  test("s14: open session emits only when the event-time timeout fires") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[StreamingOps.Ev]
    val sessions = in.toDS()
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(StreamingOps.timeoutSessionize)
    val q = sessions.toDF().writeStream.format("memory").queryName("spec_s14")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(StreamingOps.Ev(1L, ts(0), 1L, 1.0), StreamingOps.Ev(1L, ts(10), 2L, 1.0))
      q.processAllAvailable()
      // the session is open — held in state, nothing guessed out early
      assert(spark.table("spec_s14").count() == 0)
      // a later batch within the gap EXTENDS the same session
      in.addData(StreamingOps.Ev(1L, ts(20), 3L, 1.0))
      q.processAllAvailable()
      assert(spark.table("spec_s14").count() == 0)
      // far-future events advance the watermark past lastTs + gap...
      in.addData(StreamingOps.Ev(99L, ts(1000), 4L, 0.0))
      q.processAllAvailable()
      // ...and the next batch fires the registered timeout
      in.addData(StreamingOps.Ev(99L, ts(1010), 5L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("spec_s14")
        .select("user_id", "session_id", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // user 1's merged 3-event session emitted exactly once; user 99's
      // session is still open (its own timeout is beyond the watermark)
      assert(rows == Set((1L, 1L, 3L)), rows.toString)
      // post-timeout RESUME (r5 ADVICE): the timeout left a tombstone
      // counter, so user 1's next session continues numbering at 2 —
      // state.remove() would have restarted at 1, duplicating the key.
      // Two events 100 min apart in one batch close session 2 in-batch.
      in.addData(StreamingOps.Ev(1L, ts(3000), 6L, 5.0),
        StreamingOps.Ev(1L, ts(3100), 7L, 1.0))
      q.processAllAvailable()
      val resumed = spark.table("spec_s14")
        .select("user_id", "session_id", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // (the same watermark advance legitimately times out user 99's
      // open 2-event session)
      assert(resumed == Set((1L, 1L, 3L), (1L, 2L, 1L), (99L, 1L, 2L)),
        resumed.toString)
    } finally q.stop()
  }

  test("s3: session counter carries across batches via GroupState") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[StreamingOps.Ev]
    val sessions = in.toDS().groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        StreamingOps.sessionize)
    val q = sessions.toDF().writeStream.format("memory").queryName("spec_s3")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two sessions for user 1 (40 min gap > 30 min threshold)
      in.addData(
        StreamingOps.Ev(1L, ts(0), 1L, 1.0),
        StreamingOps.Ev(1L, ts(5), 2L, 2.0),
        StreamingOps.Ev(1L, ts(45), 3L, 3.0))
      q.processAllAvailable()
      // batch 2: a much later burst — numbering continues from state (3rd session)
      in.addData(StreamingOps.Ev(1L, ts(500), 4L, 4.0))
      q.processAllAvailable()
      // batch 3: within the 30 min gap of batch 2's tail — CONTINUES
      // session 3 (a further fragment with the same session_id)
      in.addData(StreamingOps.Ev(1L, ts(505), 5L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("spec_s3")
        .select("session_id", "n_events", "session_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set((1L, 2L, 3.0), (2L, 1L, 3.0), (3L, 1L, 4.0), (3L, 1L, 5.0)),
        rows.toString)
    } finally q.stop()
  }

  test("s6: dedup state expires past the watermark — bounded state, re-emission") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val dedup = in.toDF().toDF("user_id", "event_type", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val q = dedup.writeStream.format("memory").queryName("spec_s6")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, "view", ts(0)), (1L, "view", ts(1)))
      q.processAllAvailable()
      assert(spark.table("spec_s6").count() == 1) // in-horizon dup dropped
      // same key well past the watermark horizon: its dedup state has
      // been EVICTED (that is the bounded-state contract), so the key
      // legitimately re-emits — the trade s2's unbounded dropDuplicates
      // does not make
      in.addData((1L, "view", ts(500)))
      q.processAllAvailable()
      in.addData((1L, "view", ts(505))) // within horizon of the re-emit → dropped
      q.processAllAvailable()
      assert(spark.table("spec_s6").count() == 2)
    } finally q.stop()
  }

  test("s1-s3 bounded replay matches batch semantics (file source)") {
    val s1 = StreamingOps.queries("s1_stream_window")(spark, sfTiny)
    val q31 = graft.queries.Events.queries("q31_tumbling")(spark, sfTiny)
    assert(s1.collect().toSeq == q31.collect().toSeq)
  }

  test("s10: admitted state accumulates across ingest batches") {
    import spark.implicits._
    // drive the EXACT production batch step (dedupIngestBatch) with two
    // explicit daily batches: day-2 re-delivers day-1 content (must be
    // dropped against the on-storage state) alongside novel docs
    val admitted = scratch("s10-state") + "/admitted"
    val day1 = Seq((1L, "alpha beta"), (2L, "gamma delta"), (7L, "alpha beta"))
      .toDF("doc_id", "text")
    val day2 = Seq((10L, "alpha beta"), (11L, "epsilon zeta"), (12L, "epsilon zeta"))
      .toDF("doc_id", "text")
    StreamingOps.dedupIngestBatch(admitted)(day1, 0L)
    StreamingOps.dedupIngestBatch(admitted)(day2, 1L)
    val got = spark.read.parquet(admitted).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // day 1: intra-batch dup (7 repeats 1) resolves to min id; day 2:
    // 10 is a cross-batch dup of 1 (dropped by state), 11/12 resolve to 11
    assert(got == Set(1L, 2L, 11L), s"admitted: $got")
    // idempotent retry: re-delivering batch 1 must not change the state
    StreamingOps.dedupIngestBatch(admitted)(day2, 1L)
    val again = spark.read.parquet(admitted).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(again == Set(1L, 2L, 11L), s"retry changed state: $again")
  }

  test("s15: streamed manifest partials aggregate to the exact batch manifest") {
    import spark.implicits._
    // drive the production batch step with three arbitrary batch cuts
    // of one corpus — the aggregate over partials must equal the
    // manifest computed on the whole corpus at once, and a re-delivered
    // batch must not change it (the commutative-xor design claim)
    val state = scratch("s15-state") + "/manifest"
    val docs = (0L until 150L).map(i => (i, s"doc $i body"))
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    StreamingOps.manifestIngestBatch(state)(df(docs.filter(_._1 % 3 == 0)), 0L)
    StreamingOps.manifestIngestBatch(state)(df(docs.filter(_._1 % 3 == 1)), 1L)
    StreamingOps.manifestIngestBatch(state)(df(docs.filter(_._1 % 3 == 2)), 2L)
    def acc() = spark.read.parquet(state)
      .groupBy("shard").agg(sum("n_docs").as("n"), sum("bytes_total").as("b"),
        expr("bit_xor(content_xor)").as("x"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val whole = {
      val tmp = scratch("s15-whole") + "/m"
      StreamingOps.manifestIngestBatch(tmp)(df(docs), 0L)
      spark.read.parquet(tmp)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    }
    assert(acc() === whole, "partials must aggregate to the whole-corpus manifest")
    // idempotent retry: re-delivering batch 1 overwrites only its partial
    StreamingOps.manifestIngestBatch(state)(df(docs.filter(_._1 % 3 == 1)), 1L)
    assert(acc() === whole, "a re-delivered batch changed the manifest")
  }

  test("s11: AvailableNow drains file-at-a-time across batches, then stops itself") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val base = scratch("s11-drain")
    // 4 rows spread over 4 files -> the rate limit forces >=4 batches
    (1 to 4).foreach { i =>
      Seq((i.toLong, i * 10L)).toDF("k", "v")
        .write.mode("append").parquet(s"$base/in")
    }
    val nFiles = spark.read.parquet(s"$base/in").inputFiles.length
    assert(nFiles >= 4, s"expected >=4 input files, got $nFiles")
    val schema = spark.read.parquet(s"$base/in").schema
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      .groupBy().agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
    val q = agg.writeStream.format("memory").queryName("graft_s11_spec")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow()).start()
    // AvailableNow must TERMINATE on its own once the backlog drains —
    // that self-stop is the trigger's contract (vs processAllAvailable,
    // which needs an external stop)
    assert(q.awaitTermination(120000), "AvailableNow did not self-terminate")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 4, s"drain did not split into per-file batches: $batches")
    val row = spark.table("graft_s11_spec").collect().head
    assert(row.getLong(0) == 4 && row.getLong(1) == 100,
      s"multi-batch drain diverged from batch aggregate: $row")
  }

  test("s12: restart from checkpoint resumes state and skips seen files") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val base = scratch("s12-ckpt")
    def drain(): Unit = {
      val agg = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .groupBy().agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      val q = agg.writeStream.format("memory").queryName("graft_s12_spec")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000)) finally q.stop()
    }
    Seq((1L, 10L)).toDF("k", "v").write.mode("append").parquet(s"$base/in")
    drain()
    val mid = spark.table("graft_s12_spec").collect().head
    assert(mid.getLong(0) == 1 && mid.getLong(1) == 10, s"first drain: $mid")
    Seq((2L, 25L)).toDF("k", "v").write.mode("append").parquet(s"$base/in")
    drain() // restart: must ADD the new file's rows exactly once
    val fin = spark.table("graft_s12_spec").collect().head
    // state loss => (1, 25); reprocessing the seen file => (3, 45)
    assert(fin.getLong(0) == 2 && fin.getLong(1) == 35,
      s"checkpoint restart lost state or reprocessed: $fin")
  }

  test("s11/s12: an in-place rewrite with the same row count is restaged, never served stale") {
    // a land/expire cycle can keep the row count while changing every
    // value; the staged landing zones must follow the new table
    val dir = scratch("s11-s12-restage")
    val raw = spark.read.parquet(s"$sfTiny/events.parquet")
    def land(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    def batchAgg(): Seq[Row] = graft.Tables.load(spark, dir, "events")
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .select(col("win.start").cast("date").as("day"), col("event_type"),
        col("n"), col("total_cents"))
      .orderBy("day", "event_type").collect().toSeq
    def check(): Unit = Seq("s11_stream_available_now", "s12_stream_checkpoint_recovery")
      .foreach { e =>
        val fresh = StreamingOps.queries(e)(spark, dir).collect().toSeq == batchAgg()
        assert(fresh, s"$e served a stale landing zone")
      }
    land(raw)
    check()
    val before = batchAgg()
    land(raw.withColumn("value", col("value") * 2 + 1))
    assert(spark.read.parquet(s"$dir/events.parquet").count() == raw.count())
    assert(batchAgg() != before, "the rewrite must change the aggregate")
    check()
  }

  test("corpora whose paths share a String.hashCode stage to different landing zones") {
    // ".../tag-Aa" and ".../tag-BB" hash equal; a hash-keyed staging dir
    // would let the second corpus restage over the first one's stream
    val (dirAa, dirBB) = (scratch("tag-Aa"), scratch("tag-BB"))
    assert(dirAa.hashCode == dirBB.hashCode)
    val events = graft.Tables.load(spark, sfTiny, "events")
    events.write.parquet(s"$dirAa/events.parquet")
    events.filter(col("event_id") % 2 === 0).write.parquet(s"$dirBB/events.parquet")
    val (nAa, nBB) = (graft.Tables.load(spark, dirAa, "events").count(),
      graft.Tables.load(spark, dirBB, "events").count())
    assert(nAa != nBB)
    val aa = StreamingOps.streamEvents(spark, dirAa)
    val bb = StreamingOps.streamEvents(spark, dirBB)
    assert(StreamingOps.runToTable(spark, aa, "spec_tag_aa", OutputMode.Append()).count() == nAa)
    assert(StreamingOps.runToTable(spark, bb, "spec_tag_bb", OutputMode.Append()).count() == nBB)
  }

  test("s16: MG state survives adversarial batch cuts; counters stay bounded") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[StreamingOps.TokRow]
    val out = in.toDS().groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        StreamingOps.mgFold)
    val q = out.toDF().writeStream.format("memory").queryName("spec_s16")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: 100 distinct lights — fills the 64 counters and churns
      in.addData((0 until 100).map(i => StreamingOps.TokRow(0, f"lt$i%03d")): _*)
      q.processAllAvailable()
      // batch 2: the heavy arrives only AFTER the counters are full
      in.addData(Seq.fill(50)(StreamingOps.TokRow(0, "hv")): _*)
      q.processAllAvailable()
      // batch 3: 80 more lights try to evict it
      in.addData((100 until 180).map(i => StreamingOps.TokRow(0, f"lt$i%03d")): _*)
      q.processAllAvailable()
      val rows = spark.table("spec_s16")
        .collect().map(r => (r.getLong(1), r.getSeq[String](2))).sortBy(_._1)
      assert(rows.length === 3, s"one emission per batch: $rows")
      assert(rows.forall(_._2.length <= 64), "counter bound violated")
      // N_bucket = 230, k = 64 → survival bound 230/65 ≈ 3.5 < 50:
      // the heavy MUST be tracked in the final summary
      assert(rows.last._2.contains("hv"),
        s"heavy hitter evicted from final summary: ${rows.last}")
    } finally q.stop()
  }

  test("s16: end-to-end entry equals the exact reference on a planted corpus") {
    import spark.implicits._
    val dir = scratch("s16-plant")
    val rnd = new scala.util.Random(16)
    val heavy = (0 until 25).map(i => f"hw$i%02d")
    val light = (0 until 600).map(i => f"lw$i%03d")
    val stream = rnd.shuffle(
      heavy.flatMap(w => Seq.fill(30)(w)) ++ light.flatMap(w => Seq.fill(2)(w)))
    val docs = stream.grouped(63).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }.toSeq
    graft.sources.GraftWriter.write(
      docs.map { case (id, t) => (id, t, "en", "spec", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    val got = StreamingOps.queries("s16_stream_heavy_hitters")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // 25 heavies tie at 30 → top-20 is the first 20 by token ascending
    val want = (1 to 20).map(i => (i, f"hw${i - 1}%02d", 30L))
    assert(got === want, s"got $got")
  }

  test("s17: the streamed gate matches the batch verdicts across a two-file replay") {
    import spark.implicits._
    val dir = scratch("s17-plant")
    // bench doc 0 (id % 97 = 0) owns the eval shingles; id 1 copies its
    // text wholesale (100% overlap → contaminated), id 2 shares a long
    // prefix (>10% → contaminated), id 3 is disjoint (admitted), id 4
    // is a sub-3-token doc whose single whole-text shingle matches
    // nothing (admitted) — spread over two sources
    val benchText = (0 until 30).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (0L, benchText, "sB"),
      (1L, benchText, "s1"),
      (2L, (0 until 6).map(i => s"b$i").mkString(" ") + " " +
        (0 until 24).map(i => s"x$i").mkString(" "), "s1"),
      (3L, (0 until 30).map(i => s"y$i").mkString(" "), "s2"),
      (4L, "z0 z1", "s2"))
    graft.sources.GraftWriter.write(
      docs.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    val got = StreamingOps.queries("s17_stream_decontam")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // id 2: shingles = 28 distinct, hits = the 4 pure-b 3-grams of the
    // 6-token prefix → 4·10 ≥ 28 → contaminated
    assert(got === Seq(
      ("s1", 2L, 2L, 0L, 1000L),
      ("s2", 2L, 0L, 2L, 0L)), s"got $got")
    // the staging really replayed multiple batches (one per file)
    val batches = new java.io.File(StreamingOps.s17GateDir).list()
      .count(_.startsWith("batch="))
    assert(batches >= 2, s"expected a multi-batch replay, got $batches")
  }

  test("s10: an empty first batch does not kill the next batch's state read") {
    import spark.implicits._
    // an empty batch leaves admitted/batch=0 with only a _SUCCESS marker;
    // the next batch's state read must survive the no-data-files tree
    // (explicit state schema — inference would throw) and admit normally
    val admitted = scratch("s10-empty-first") + "/admitted"
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val day1 = Seq((5L, "kappa lambda")).toDF("doc_id", "text")
    StreamingOps.dedupIngestBatch(admitted)(empty, 0L)
    StreamingOps.dedupIngestBatch(admitted)(day1, 1L)
    val got = spark.read.parquet(admitted).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(5L), s"admitted after empty first batch: $got")
  }
}
