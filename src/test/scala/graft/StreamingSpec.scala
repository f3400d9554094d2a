package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.Streaming
import graft.streaming.Streaming.EventRow
import graft.table.{Commit, CommitPlan, Snapshot}

class StreamingSpec extends AnyFunSuite with Matchers with SparkSessionSetup {

  private def ts(minute: Int): Timestamp = new Timestamp(3600000L * 10 + minute * 60000L)

  private def row(id: Long, minute: Int, user: Long = 1L, typ: String = "click"): EventRow =
    EventRow(id, ts(minute), user, typ, 1.0)

  test("windowedTypeCounts aggregates tumbling event-time windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[EventRow]
    val q = Streaming
      .windowedTypeCounts(in.toDF(), delay = "10 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(row(1, 5), row(2, 10), row(3, 65, typ = "view"))
      q.processAllAvailable()
      // watermark far past the first hour closes its windows
      in.addData(row(4, 600))
      q.processAllAvailable()
      val out = spark.table("win_counts").collect()
      out.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSet should
        contain allOf (("click", 2L), ("view", 1L))
    } finally q.stop()
  }

  test("streaming windowed aggregation equals the batch plan on the real events table") {
    // The transforms are readStream/writeStream-agnostic by design: the
    // SAME function must produce identical results replayed as a stream
    // and run as a batch backfill. Replay sf0.001 events through a
    // MemoryStream in arrival-order chunks and compare to the batch run.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val batchDf = graft.queries.Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val rows = batchDf.as[EventRow].collect()
    val in = MemoryStream[EventRow]
    val q = Streaming
      .windowedTypeCounts(in.toDF())
      .writeStream.format("memory").queryName("win_equiv")
      .outputMode(OutputMode.Complete()).start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long, Double, Double)] =
        df.select(col("bucket_start").cast("string"), col("event_type"),
            col("n_events"), col("min_value"), col("max_value"))
          .as[(String, String, Long, Double, Double)]
          .collect().sortBy(r => (r._1, r._2)).toSeq
      val streamed = canon(spark.table("win_equiv"))
      val batch = canon(Streaming.windowedTypeCounts(batchDf))
      streamed should have size batch.size.toLong
      streamed shouldBe batch
    } finally q.stop()
  }

  test("dedupWithinWatermark drops duplicate event ids") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[EventRow]
    val q = Streaming
      .dedupWithinWatermark(in.toDF(), delay = "30 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(row(1, 0), row(1, 1), row(2, 2), row(1, 3), row(3, 4))
      q.processAllAvailable()
      spark.table("dedup_out").select("event_id").collect().map(_.getLong(0)).sorted shouldBe
        Array(1L, 2L, 3L)
    } finally q.stop()
  }

  test("streaming sink writes parquet with checkpointing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val in = MemoryStream[EventRow]
    val q = Streaming
      .windowedTypeCounts(in.toDF(), delay = "10 minutes")
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(row(1, 5), row(2, 10))
      q.processAllAvailable()
      in.addData(row(3, 600)) // advance watermark to close the window
      q.processAllAvailable()
      spark.read.parquet(s"$base/out").count() should be >= 1L
    } finally q.stop()
  }

  test("stream-stream join pairs clicks with the last hour's views") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[EventRow]
    val q = Streaming
      .clicksWithRecentViews(in.toDF(), delay = "5 minutes")
      .writeStream.format("memory").queryName("cv_join")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        row(1, 0, typ = "view"),
        row(2, 30, typ = "view"),
        row(3, 40, typ = "click"),  // joins views at 0 and 30
        row(4, 90, typ = "view"),
        row(5, 120, typ = "click") // joins only the view at 90 (30 is >1h back)
      )
      q.processAllAvailable()
      val pairs = spark.table("cv_join")
        .select("click_id", "view_id").as[(Long, Long)].collect().toSet
      pairs shouldBe Set((3L, 1L), (3L, 2L), (5L, 4L))
    } finally q.stop()
  }

  test("outer stream-stream join emits unmatched clicks after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[EventRow]
    val q = Streaming
      .clicksWithRecentViews(in.toDF(), delay = "5 minutes", joinType = "left_outer")
      .writeStream.format("memory").queryName("cv_outer")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        row(1, 0, typ = "view"),              // user 1
        row(2, 40, typ = "click"),            // user 1 -> matches view 1
        EventRow(3L, ts(40), 9L, "click", 0d) // user 9 -> NO view exists
      )
      q.processAllAvailable()
      // watermark so far is behind click_ts: the unmatched click must
      // still be held in state, not dropped
      val early = spark.table("cv_outer").select("click_id", "view_id")
        .as[(Long, Option[Long])].collect().toSet
      early shouldBe Set((2L, Some(1L)))
      // advance the watermark on BOTH filtered branches — the global
      // watermark is the MIN over the two withWatermark nodes, so late
      // views alone would leave the click-side watermark (and thus
      // state eviction) stuck. The user-8 pair joins normally.
      in.addData(
        EventRow(4L, ts(900), 8L, "view", 0d),
        EventRow(5L, ts(960), 8L, "click", 0d)
      )
      q.processAllAvailable()
      // the null-padded row surfaces in the batch AFTER the advance
      in.addData(EventRow(6L, ts(1020), 7L, "click", 0d))
      q.processAllAvailable()
      val all = spark.table("cv_outer").select("click_id", "view_id")
        .as[(Long, Option[Long])].collect().toSet
      // click 6 stays in state (watermark has not passed it); click 3
      // has been evicted and emitted with a null view
      all shouldBe Set((2L, Some(1L)), (5L, Some(4L)), (3L, None))
    } finally q.stop()
  }

  test("foreachBatch upsert maintains a latest-wins entity table across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/entities"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-upsert-ckpt").toString
    val in = MemoryStream[EventRow]
    val q = in.toDF()
      .writeStream
      .foreachBatch(Streaming.upsertBatch(target, keyCol = "event_id", versionCol = "ts") _)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(row(1, 10), row(2, 20))
      q.processAllAvailable()
      // batch 2: event 1 updated (later ts), event 3 new, stale event 2 ignored
      in.addData(EventRow(1L, ts(30), 1L, "click", 9.0), row(3, 15), EventRow(2L, ts(5), 1L, "click", 7.0))
      q.processAllAvailable()
      // pinned read: the live dir also retains the replaced
      // generation's files until the retention horizon
      val table = Streaming.readCommitted(spark, target)
        .select($"event_id", $"ts", $"value").as[(Long, Timestamp, Double)]
        .collect().sortBy(_._1)
      table.map(_._1) shouldBe Array(1L, 2L, 3L)
      table(0)._2 shouldBe ts(30) // updated version won
      table(0)._3 shouldBe 9.0
      table(1)._2 shouldBe ts(20) // stale update lost
    } finally q.stop()
  }

  test("upsert commit is crash-atomic: a kill mid-commit loses nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft-upsert-crash").toString + "/entities"
    val upsert = Streaming.upsertBatch(target, keyCol = "event_id", versionCol = "ts") _
    upsert(Seq(row(1, 10), row(2, 20)).toDF(), 0L)
    // Emulate a crash at the worst instant: a staged merge with its
    // commit PLAN recorded but no file moved and no manifest bumped —
    // the committed generation is untouched, so the reader sees it...
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the staged content of a real upsertBatch is the full MERGED
    // winner: existing {1@10, 2@20} merged with an incoming {2@25}
    Seq(row(1, 10), EventRow(2L, ts(25), 1L, "click", 8.0)).toDF()
      .write.mode("overwrite").parquet(target + ".__stage-crash")
    locally { // record the plan exactly as the writer would have
      val stage = new org.apache.hadoop.fs.Path(target + ".__stage-crash")
      val files = fs.listStatus(stage).filter(_.isFile).map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
      Commit.writePlan(fs, stage, CommitPlan(Commit.readGen(fs, target), files.toSeq, Set("")))
    }
    Streaming.readCommitted(spark, target).count() shouldBe 2L
    // ...and the next micro-batch on restart heals FIRST (recovery is
    // built into upsertBatch): the planned commit rolls forward, then
    // the new batch merges on top — nothing lost, latest wins
    upsert(Seq(EventRow(1L, ts(30), 1L, "click", 9.0), row(3, 15)).toDF(), 1L)
    val table = Streaming.readCommitted(spark, target)
      .select($"event_id", $"ts").as[(Long, Timestamp)].collect().sortBy(_._1)
    table.map(_._1) shouldBe Array(1L, 2L, 3L)
    table(0)._2 shouldBe ts(30)
    table(1)._2 shouldBe ts(25) // the rolled-forward planned commit won
    withClue("replaced files are RETAINED for pinned readers (deferred delete): ") {
      fs.listStatus(new org.apache.hadoop.fs.Path(target))
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet")) should be >
        Snapshot.latest(fs, target).get.paths.size
    }
  }

  test("built-in session_window works under a watermark in streaming mode") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, session_window, count => cnt, lit}
    val in = MemoryStream[EventRow]
    val q = in.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(cnt(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("s"), col("n_events"))
      .writeStream.format("memory").queryName("stream_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 20min apart (one session), then a 40-min gap
      in.addData(row(1, 0), row(2, 20), row(3, 60))
      q.processAllAvailable()
      in.addData(row(4, 600)) // watermark advances, sessions close
      q.processAllAvailable()
      val out = spark.table("stream_sessions")
        .select($"user_id", $"n_events").as[(Long, Long)].collect().sorted
      out should contain allOf ((1L, 1L), (1L, 2L))
    } finally q.stop()
  }

  test("sessionize groups events by gap and emits on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[EventRow]
    val q = Streaming
      .sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: events at minute 0,10,20 (one session), then 100,105 (second session)
      in.addData(row(1, 0), row(2, 10), row(3, 20))
      q.processAllAvailable()
      in.addData(row(4, 100), row(5, 105))
      q.processAllAvailable()
      // push watermark far ahead so the open session times out
      in.addData(row(6, 1000, user = 2L))
      q.processAllAvailable()
      in.addData(row(7, 2000, user = 2L))
      q.processAllAvailable()
      val sessions = spark.table("sessions")
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
        .toSet
      sessions should contain(1L -> 3L) // first session closed by the later event
      sessions should contain(1L -> 2L) // second session closed by timeout
    } finally q.stop()
  }

  test("sessionize survives a late event behind the watermark (timeout clamp)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[EventRow]
    val q = Streaming
      .sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_late")
      .outputMode(OutputMode.Append()).start()
    try {
      // advance the watermark far ahead with user 2
      in.addData(row(1, 1000, user = 2L))
      q.processAllAvailable()
      in.addData(row(2, 2000, user = 2L))
      q.processAllAvailable()
      // now a LATE event for user 1, far behind the watermark. On
      // Spark 4.1 FlatMapGroupsWithStateExec drops rows older than
      // the watermark before they reach the state function, so the
      // event must vanish silently — and in any case the stream must
      // stay alive (the timeout clamp in sessionize guards the
      // remaining path where state outlives the watermark).
      in.addData(row(3, 0, user = 1L))
      q.processAllAvailable()
      in.addData(row(4, 3000, user = 2L))
      q.processAllAvailable()
      val sessions = spark.table("sessions_late")
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
        .toSet
      q.exception shouldBe empty // stream alive: late event did not kill it
      sessions.filter(_._1 == 1L) shouldBe empty // late row dropped pre-state
      sessions should contain(2L -> 1L)
    } finally q.stop()
  }

  test("a NULL event-time row neither kills a stream nor enters any window (batch-policy twin)") {
    // The batch queries pin "no timestamp -> no window/session" after
    // the chaos gate caught the cross-engine divergence; this is the
    // streaming half of the same policy: a record with a NULL event
    // time must be dropped by the watermark path, never crash the
    // micro-batch, and never surface inside a window.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[EventRow]
    val q = Streaming
      .windowedTypeCounts(in.toDF(), delay = "10 minutes")
      .writeStream.format("memory").queryName("win_nullts")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(row(1, 5), EventRow(2L, null, 1L, "click", 1.0), row(3, 10))
      q.processAllAvailable()
      in.addData(row(4, 600)) // advance watermark far enough to close hour 1
      q.processAllAvailable()
      q.exception shouldBe empty
      val out = spark.table("win_nullts").collect()
      out.map(_.getAs[Long]("n_events")).sum shouldBe 2L // null-ts row absent
    } finally q.stop()
  }
}
