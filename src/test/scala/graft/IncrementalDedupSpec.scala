package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MinHashLsh
import graft.streaming.Streaming
import graft.table.{Commit, CommitPlan}

/** The PERSISTED cycle of incremental cross-batch dedup, which the
  * oracled q_dedup_incremental (in-plan fixture split) cannot show:
  * batch 1 builds the band index and writes it as a parquet table;
  * batch 2 is deduped against the table READ BACK FROM DISK — the
  * batch-1 documents' text never exists in that session's plan — and
  * the surviving rows are merged into the index via the crash-atomic
  * streaming upsert; batch 3 then proves the cycle closed by matching
  * a near-copy of a batch-2 document through the updated index alone.
  * Per-batch cost at scale is measured by tools/IncrementalScale.
  */
class IncrementalDedupSpec extends AnyFunSuite with SparkSessionSetup {

  /** 40 deterministic tokens for content id `cid`; a near-copy shares
    * 39 of 40 (one token swapped at position 7), so 3-shingle Jaccard
    * is 35/41 ≈ 0.854 >= tau 0.8 (the DedupScale construction) while
    * unrelated content ids share nothing.
    */
  private def doc(id: Long, cid: Long, variantAt: Option[Int] = None): (Long, Seq[String]) =
    id -> (0 until 40).map { j =>
      if (variantAt.contains(j)) s"v$id-$j"
      else s"t${math.abs((cid * 2654435761L + j * 40503L) % 10000)}"
    }

  private def prep(rows: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    MinHashLsh.prepare(rows.toDF("doc_id", "w"), "doc_id", "w")
  }

  private def dedupAgainst(idx: DataFrame, batch: DataFrame): DataFrame =
    MinHashLsh.verifyAgainst(
      batch, idx, MinHashLsh.candidatesAgainst(batch, idx, "doc_id"), "doc_id", tau = 0.8)

  test("index persist -> new-batch dedup from disk -> upsert -> next batch") {
    val target = Files.createTempDirectory("graft-inc-idx").toString + "/index"
    val upsert = Streaming.upsertBatch(target, keyCol = "doc_id", versionCol = "batch_id") _

    // batch 1: six distinct docs -> index table on disk
    val b1 = prep((1L to 6L).map(i => doc(i, cid = i)))
    upsert(MinHashLsh.index(b1, "doc_id").withColumn("batch_id", lit(1L)), 1L)

    // batch 2: doc 12 is a near-copy of indexed doc 3; 11/13 are new
    // content. Dedup reads ONLY the index parquet — no batch-1 text.
    val idx1 = Streaming.readCommitted(spark, target)
    val b2 = prep(Seq(doc(11L, 11L), doc(12L, 3L, variantAt = Some(7)), doc(13L, 13L)))
    val hits2 = dedupAgainst(idx1, b2)
      .select(col("d_new"), col("d_old")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits2.toSet == Set((12L, 3L)))

    // admit the survivors (kept docs only — the dup is dropped, the
    // production admission rule) and upsert them into the index
    val kept2 = MinHashLsh.index(b2.filter(col("doc_id") =!= 12L), "doc_id")
      .withColumn("batch_id", lit(2L))
    upsert(kept2, 2L)
    val idx2 = Streaming.readCommitted(spark, target)
    assert(idx2.count() == 8) // 6 from batch 1 + {11, 13}
    assert(idx2.groupBy(col("doc_id")).count().filter(col("count") > 1).count() == 0)

    // batch 3: a near-copy of batch-2 doc 11 is caught through the
    // UPDATED index alone — the cycle composes across batches
    val b3 = prep(Seq(doc(21L, 11L, variantAt = Some(7))))
    val hits3 = dedupAgainst(idx2, b3)
      .select(col("d_new"), col("d_old")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits3.toSet == Set((21L, 11L)))
  }

  test("a streaming ingest dedups every micro-batch against the index and grows it") {
    // The full Structured-Streaming composition (the r10 gap: the repo
    // had the index operator and the upsert sink but never wired them
    // into a stream): documents arrive on a stream; foreachBatch
    // dedups each micro-batch against the PERSISTED index (read from
    // parquet — no prior batch's text exists anywhere in the plan),
    // appends the duplicate verdicts to a results table, and upserts
    // the survivors into the index. Batch boundaries are real stream
    // triggers, and a batch-3 doc matches a batch-2 admission purely
    // through the index — continuous ingest, cost per trigger
    // proportional to the trigger's data.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val root = Files.createTempDirectory("graft-inc-stream").toString
    val target = root + "/index"
    val dupsOut = root + "/dups"
    val upsert = Streaming.upsertBatch(target, keyCol = "doc_id", versionCol = "batch_id") _
    upsert(MinHashLsh.index(prep((1L to 6L).map(i => doc(i, cid = i))), "doc_id")
      .withColumn("batch_id", lit(0L)), 0L)

    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Seq[String])]
    val stream = input.toDF().toDF("doc_id", "w")
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val idx = Streaming.readCommitted(spark, target)
        val prepared = MinHashLsh.prepare(batch, "doc_id", "w").localCheckpoint()
        val dups = MinHashLsh.verifyAgainst(
          prepared, idx,
          MinHashLsh.candidatesAgainst(prepared, idx, "doc_id"), "doc_id", tau = 0.8)
          .localCheckpoint()
        dups.write.mode("append").parquet(dupsOut)
        val kept = prepared.join(
          dups.select(col("d_new").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        upsert(MinHashLsh.index(kept, "doc_id").withColumn("batch_id", lit(batchId + 1)),
          batchId + 1)
      }
      .start()
    try {
      // trigger 1: doc 12 duplicates indexed doc 3; 11 is new
      input.addData(doc(11L, 11L), doc(12L, 3L, variantAt = Some(7)))
      stream.processAllAvailable()
      // trigger 2: doc 21 duplicates doc 11 — admitted one TRIGGER ago,
      // reachable only through the index the stream itself maintains
      input.addData(doc(21L, 11L, variantAt = Some(7)))
      stream.processAllAvailable()
    } finally stream.stop()

    val dups = spark.read.parquet(dupsOut)
      .select(col("d_new"), col("d_old")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dups.toSet == Set((12L, 3L), (21L, 11L)))
    val idx = Streaming.readCommitted(spark, target)
    // 6 seeded + admitted {11}; the dups {12, 21} were both dropped
    // before admission (21 matched an index row the stream itself
    // admitted one trigger earlier)
    assert(idx.count() == 7)
    assert(idx.filter(col("doc_id").isin(12L, 21L)).count() == 0)
    assert(idx.filter(col("doc_id") === 11L).count() == 1)
  }

  test("partition-scoped upsert rewrites ONLY touched shards, latest version wins") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-part-upsert").toString + "/index"
    val up = Streaming.upsertPartitionedBatch(
      target, keyCol = "doc_id", versionCol = "batch_id", shardCol = "shard") _
    def sharded(rows: Seq[(Long, String, Long)]): DataFrame =
      MinHashLsh.withShard(
        rows.toDF("doc_id", "payload", "batch_id"), "doc_id", shardSize = 50L)

    // seed: keys 0..99 -> shards 0 and 1
    up(sharded((0L until 100L).map(i => (i, s"v1-$i", 1L))), 1L)
    def fileSet(shard: Int): Set[String] = {
      val it = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$target/shard=$shard"))
      try it.filter(_.toString.endsWith(".parquet"))
        .toArray.map(_.toString).toSet
      finally it.close()
    }
    val shard0Before = fileSet(0)

    // batch 2 touches keys 90..109 -> shards 1 (rewrite) and 2 (new);
    // shard 0 must keep its exact files
    up(sharded((90L until 110L).map(i => (i, s"v2-$i", 2L))), 2L)
    assert(fileSet(0) == shard0Before,
      "untouched shard 0 was rewritten — merge cost is no longer ∝ touched shards")
    val t = Streaming.readCommitted(spark, target)
    assert(t.count() == 110)
    // keys 90..99 merged latest-wins inside the touched shard
    assert(t.filter(col("doc_id") === 95L).select(col("payload")).head().getString(0) == "v2-95")
    assert(t.filter(col("doc_id") === 10L).select(col("payload")).head().getString(0) == "v1-10")
    assert(t.filter(col("doc_id") === 105L).select(col("payload")).head().getString(0) == "v2-105")
    assert(t.groupBy(col("doc_id")).count().filter(col("count") > 1).count() == 0)

    // version ties: the INCOMING batch wins (the upsertBatch contract)
    up(sharded(Seq((105L, "v2b-105", 2L))), 3L)
    assert(Streaming.readCommitted(spark, target).filter(col("doc_id") === 105L)
      .select(col("payload")).head().getString(0) == "v2b-105")
  }

  test("partition-scoped upsert refuses a flat-layout target instead of dropping its rows") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-part-mismatch").toString + "/index"
    // a table maintained by the FLAT upsert: no shard column
    Streaming.upsertBatch(target, "doc_id", "batch_id")(
      Seq((1L, "v1", 1L)).toDF("doc_id", "payload", "batch_id"), 1L)
    val batch = MinHashLsh.withShard(
      Seq((2L, "v2", 2L)).toDF("doc_id", "payload", "batch_id"), "doc_id", 50L)
    val e = intercept[IllegalArgumentException] {
      Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(batch, 2L)
    }
    assert(e.getMessage.contains("migrate"))
    // and the refusal left the original table intact
    assert(Streaming.readCommitted(spark, target).count() == 1)
  }

  test("a crash-left empty target directory reads as 'no table yet', not a permanent failure") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-part-empty").toString + "/index"
    // simulate the first-batch crash window: mkdirs happened, no shard
    // was ever swapped in
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(target))
    val batch = MinHashLsh.withShard(
      Seq((1L, "v1", 1L)).toDF("doc_id", "payload", "batch_id"), "doc_id", 50L)
    Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(batch, 1L)
    assert(Streaming.readCommitted(spark, target).count() == 1)
  }

  test("an interrupted commit is healed before the next merge") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-part-crash").toString + "/index"
    val up = Streaming.upsertPartitionedBatch(
      target, keyCol = "doc_id", versionCol = "batch_id", shardCol = "shard") _
    def sharded(rows: Seq[(Long, String, Long)]): DataFrame =
      MinHashLsh.withShard(
        rows.toDF("doc_id", "payload", "batch_id"), "doc_id", shardSize = 50L)
    up(sharded((0L until 100L).map(i => (i, s"v1-$i", 1L))), 1L)

    // simulate a crash mid-commit: a PLANNED stage rewriting shard 1
    // (v1.5 payloads for docs 50..99), none of its files moved yet —
    // the pinned read still sees the committed generation, whole
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    sharded((50L until 100L).map(i => (i, s"v1.5-$i", 2L)))
      .write.mode("overwrite").partitionBy("shard").parquet(target + ".__stage-crash")
    locally {
      val stage = new org.apache.hadoop.fs.Path(target + ".__stage-crash")
      Commit.writePlan(fs, stage,
        CommitPlan(Commit.readGen(fs, target), Commit.listRel(fs, stage), Set("shard=1")))
    }
    assert(Streaming.readCommitted(spark, target).count() == 100) // nothing torn

    // the next upsert call heals FIRST (its recovery rolls the planned
    // commit FORWARD), so the merge sees the completed v1.5 state and
    // nothing is lost
    up(sharded(Seq((0L, "v2-0", 2L))), 2L)
    val t = Streaming.readCommitted(spark, target)
    assert(t.count() == 100)
    assert(t.filter(col("doc_id") === 0L).select(col("payload")).head().getString(0) == "v2-0")
    assert(t.filter(col("doc_id") === 75L).select(col("payload")).head().getString(0) == "v1.5-75")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(target + ".__stage-crash")))
  }

  test("re-ingesting an id replaces its index row (latest version wins)") {
    val target = Files.createTempDirectory("graft-inc-idx2").toString + "/index"
    val upsert = Streaming.upsertBatch(target, keyCol = "doc_id", versionCol = "batch_id") _
    upsert(MinHashLsh.index(prep(Seq(doc(1L, 1L))), "doc_id")
      .withColumn("batch_id", lit(1L)), 1L)
    // same id arrives again with different content (an upstream
    // re-crawl): the index keeps exactly one row, the newer one
    upsert(MinHashLsh.index(prep(Seq(doc(1L, 99L))), "doc_id")
      .withColumn("batch_id", lit(2L)), 2L)
    val idx = Streaming.readCommitted(spark, target)
    assert(idx.count() == 1)
    assert(idx.select(col("batch_id")).head().getLong(0) == 2L)
    // and the stored set is the NEW content: a near-copy of the old
    // content no longer matches
    val probe = dedupAgainst(idx, prep(Seq(doc(31L, 1L, variantAt = Some(7)))))
    assert(probe.count() == 0)
  }
}
