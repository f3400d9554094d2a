package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.Streaming

/** Spark jobs per call of the row-level mutation verbs on a 4-shard
  * table that already carries delete vectors. Each verb scans its
  * target once, checkpoints that scan once and takes every count from
  * one aggregate over it, and reads sidecars with their fixed schema;
  * a verb that re-scans the target, re-counts positions or infers a
  * sidecar's schema shows here as extra jobs. These are job counts,
  * not timings.
  */
class MutationJobCountSpec extends AnyFunSuite with Matchers with SparkSessionSetup {

  /** Jobs started by `body`, counted between two marker jobs: the
    * listener bus delivers events in order, so every job started
    * between the markers' starts belongs to `body` (suites run one at
    * a time in the forked test JVM).
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      }
    }
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (groups.synchronized(!groups.contains(name)) && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobcount-before")
      body
      marker("jobcount-after")
      groups.synchronized {
        groups.indexOf("jobcount-after") - groups.indexOf("jobcount-before") - 1
      }
    } finally sc.removeSparkListener(listener)
  }

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
}
