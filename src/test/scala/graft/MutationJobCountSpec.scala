package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.Streaming

/** Spark jobs per call of the row-level mutation verbs on a 4-shard
  * table that already carries delete vectors. Each verb scans its
  * target once, checkpoints that scan once and takes every count from
  * one aggregate over it, and reads sidecars with their fixed schema;
  * a verb that re-scans the target, re-counts positions or infers a
  * sidecar's schema shows here as extra jobs. The pinned reads' counts
  * show the same for a data file's schema. These are job counts, not
  * timings.
  */
class MutationJobCountSpec extends AnyFunSuite with Matchers with SparkSessionSetup {

  test("deleteWhere, updateWhere and mergeInto on a table carrying delete vectors " +
      "run at most 7, 8 and 14 Spark jobs per call") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-jobcount").toString + "/t"
    def rows(keys: Range, v: Long) =
      keys.map(k => (k.toLong, s"p-$k", v, k.toLong % 4)).toDF("id", "payload", "v", "shard")
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(rows(0 until 400, 1L), 1L)
    // every shard carries a delete vector before the measured calls
    Streaming.deleteWhere(spark, target, col("id") < 8L) shouldBe 8L

    var deleted, updated = 0L
    var merged = Streaming.MergeStats(0L, 0L)
    val deleteJobs = jobsOf {
      deleted = Streaming.deleteWhere(spark, target, col("id").between(40L, 47L))
    }
    val updateJobs = jobsOf {
      updated = Streaming.updateWhere(spark, target, col("id").between(60L, 67L),
        Map("v" -> (col("v") + lit(1L))), stagePartitionBy = Seq("shard"))
    }
    val mergeJobs = jobsOf {
      merged = Streaming.mergeInto(spark, target, rows(390 until 410, 2L), "t.id = s.id",
        whenMatchedUpdate = Some(Map("payload" -> "s.payload", "v" -> "s.v")),
        whenNotMatchedInsert = Some(Map.empty), stagePartitionBy = Seq("shard"))
    }
    info(s"jobs per call: deleteWhere $deleteJobs, updateWhere $updateJobs, " +
      s"mergeInto $mergeJobs")
    (deleted, updated, merged) shouldBe (8L, 8L, Streaming.MergeStats(10L, 10L))
    Streaming.readCommitted(spark, target).count() shouldBe 394L
    deleteJobs should be <= 7
    updateJobs should be <= 8
    mergeJobs should be <= 14
  }

  test("a pinned read, a point read and a range read each run one Spark job: " +
      "the schema comes from the footer, not from an inference job") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-jobcount").toString + "/t"
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(
      (0 until 200).map(k => (k.toLong, 1L, k.toLong % 4)).toDF("id", "v", "shard"), 1L)
    var rows = Seq.empty[Int]
    val jobs = Seq(
      jobsOf(rows :+= Streaming.readCommitted(spark, target).collect().length),
      jobsOf(rows :+= Streaming.readCommittedPoint(spark, target, "id", 7L).collect().length),
      jobsOf(rows :+= Streaming.readCommittedRange(spark, target, "id", 10L, 19L)
        .collect().length))
    rows shouldBe Seq(200, 1, 10)
    jobs shouldBe Seq(1, 1, 1)
  }
}
