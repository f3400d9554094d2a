package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.Streaming
import graft.table.{Bounds, ColumnStats, Commit, CommitPlan, KeyEnvelope, ManifestEntry}

/** `CommitPlan` is the one codec of the staged commit plan: every line
  * kind round-trips, envelope values survive any text, a corrupt line
  * refuses, and the plans older writers left (no read generation) or
  * that carry nothing still execute.
  */
class CommitPlanSpec extends AnyFunSuite with Matchers with SparkSessionSetup {

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val tagged = ManifestEntry("shard=1/part-0.parquet", Some(40L),
    Bounds.of(Seq("id" -> ColumnStats('l', "1", "99", Some(0L)))), Nil)
    .withDv("dv-000000000003-ab12cd34.parquet", 5L)
    .withBloom("id", "bl-000000000002-ef56ab78.parquet")

  private val full = CommitPlan(
    readGen = Some(7L),
    files = Seq("shard=1/part-1.parquet", "shard=2/part-2.parquet"),
    replacedDirs = Set("", "shard=2"),
    volatileDirs = Set("shard=1"),
    envelopes = Seq(KeyEnvelope.Range("id", 'l', "-5", "90")),
    modified = Seq(tagged),
    tag = Some("batch-3"),
    txn = Some(("sink scope", 42L)))

  test("every line kind round-trips, one line per fact") {
    CommitPlan.decode(full.encode) shouldBe full
    full.encode.split("\n").map(_.take(2)).toSeq shouldBe
      Seq("B ", "T ", "X ", "R ", "R ", "V ", "E ", "M ", "F ", "F ")
    // the encoding is canonical: unsorted dirs, entries and files
    // encode as their sorted form
    full.copy(files = full.files.reverse).encode shouldBe full.encode
  }

  test("envelope values with ':', '%' and non-ASCII text round-trip") {
    val odd = KeyEnvelope.Range("k:ey%", 's', "a:b%3Ac", "zé☃:")
    val plan = CommitPlan(Some(1L), envelopes = Seq(odd, KeyEnvelope.Range("n", 'd', "", "1.5")))
    CommitPlan.decode(plan.encode) shouldBe plan
    plan.encode.split("\n").count(_.startsWith("E ")) shouldBe 2
  }

  test("the wildcard envelope round-trips and may hold any entry") {
    val plan = CommitPlan(Some(2L), envelopes = Seq(KeyEnvelope.All))
    plan.encode shouldBe "B 2\nE *"
    CommitPlan.decode(plan.encode) shouldBe plan
    KeyEnvelope.All.mayHold(ManifestEntry.bare("x.parquet")) shouldBe true
    // a typed envelope is disproved only by bounds of its own kind
    val range = KeyEnvelope.Range("id", 'l', "100", "200")
    range.mayHold(tagged) shouldBe false
    range.copy(lo = "50").mayHold(tagged) shouldBe true
    range.mayHold(ManifestEntry.bare("x.parquet")) shouldBe true
  }

  test("a modified entry keeps its delete-vector and bloom tags") {
    val back = CommitPlan.decode(CommitPlan(Some(3L), modified = Seq(tagged)).encode)
    back.modified shouldBe Seq(tagged)
    back.modified.head.dv.map(_.n) shouldBe Some(5L)
    back.modified.head.blooms shouldBe Map("id" -> "bl-000000000002-ef56ab78.parquet")
  }

  test("a corrupt line refuses") {
    Seq("B 1\nE id:l:1", "B 1\nE id:long:1:2", "B x", "X scope", "Q what", "F")
      .foreach { text =>
        withClue(s"$text: ") {
          intercept[IllegalStateException](CommitPlan.decode(text))
            .getMessage should include("corrupt commit plan line")
        }
      }
  }

  test("a plan with no read generation, as older writers left it, rolls forward") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-plan-legacy").toString + "/t"
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(
      (0L until 40L).map(k => (k, s"v1-$k", 1L, k % 4)).toDF("id", "payload", "v", "shard"), 1L)
    (1L until 40L by 4L).map(k => (k, s"v2-$k", 2L, 1L)).toDF("id", "payload", "v", "shard")
      .write.mode("overwrite").partitionBy("shard").parquet(target + ".__stage")
    val stage = new Path(target + ".__stage")
    val plan = CommitPlan(readGen = None, Commit.listRel(fs, stage), Set("shard=1"))
    plan.encode should not include "B "
    Commit.writePlan(fs, stage, plan)
    Commit.recoverStage(fs, target)
    fs.exists(stage) shouldBe false
    Streaming.manifestGenerations(fs, target) shouldBe Seq(1L, 2L)
    val got = Streaming.readCommitted(spark, target)
      .select($"payload", $"shard".cast("long")).as[(String, Long)].collect()
    got.length shouldBe 40
    got.filter(_._2 == 1L).map(_._1).toSet shouldBe (1L until 40L by 4L).map(k => s"v2-$k").toSet
  }

  test("an empty plan decodes to no facts and executes as a no-op") {
    CommitPlan.decode("") shouldBe CommitPlan(readGen = None)
    CommitPlan(readGen = None).encode shouldBe ""
    import spark.implicits._
    val target = Files.createTempDirectory("graft-plan-empty").toString + "/t"
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(
      (0L until 8L).map(k => (k, s"v1-$k", 1L, k % 4)).toDF("id", "payload", "v", "shard"), 1L)
    val stage = new Path(target + ".__stage")
    fs.mkdirs(stage)
    Commit.writePlan(fs, stage, CommitPlan(readGen = None))
    Commit.recoverStage(fs, target)
    fs.exists(stage) shouldBe false
    Streaming.manifestGenerations(fs, target) shouldBe Seq(1L)
    Streaming.readCommitted(spark, target).count() shouldBe 8L
  }
}
