package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.Streaming
import graft.table.{Bounds, ColumnStats, Commit, CommitPlan, KeyEnvelope, ManifestEntry}

/** `CommitPlan` is the one codec of the staged commit plan: every line
  * kind round-trips, envelope values survive any text, a corrupt line
  * or a plan with no read generation refuses, and a plan that carries
  * nothing else still executes.
  */
class CommitPlanSpec extends AnyFunSuite with Matchers with SparkSessionSetup {

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val tagged = ManifestEntry("shard=1/part-0.parquet", 40L,
    Bounds.of(Seq("id" -> ColumnStats('l', "1", "99", Some(0L)))), Nil)
    .withDv("dv-000000000003-ab12cd34.parquet", 5L)
    .withBloom("id", "bl-000000000002-ef56ab78.parquet")

  private val full = CommitPlan(
    readGen = 7L,
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
    val plan = CommitPlan(1L, envelopes = Seq(odd, KeyEnvelope.Range("n", 'd', "", "1.5")))
    CommitPlan.decode(plan.encode) shouldBe plan
    plan.encode.split("\n").count(_.startsWith("E ")) shouldBe 2
  }

  test("the wildcard envelope round-trips and may hold any entry") {
    val plan = CommitPlan(2L, envelopes = Seq(KeyEnvelope.All))
    plan.encode shouldBe "B 2\nE *"
    CommitPlan.decode(plan.encode) shouldBe plan
    val unbounded = ManifestEntry("x.parquet", 10L, Bounds.Absent, Nil)
    KeyEnvelope.All.mayHold(unbounded) shouldBe true
    // a typed envelope is disproved only by bounds of its own kind
    val range = KeyEnvelope.Range("id", 'l', "100", "200")
    range.mayHold(tagged) shouldBe false
    range.copy(lo = "50").mayHold(tagged) shouldBe true
    range.mayHold(unbounded) shouldBe true
  }

  test("a modified entry keeps its delete-vector and bloom tags") {
    val back = CommitPlan.decode(CommitPlan(3L, modified = Seq(tagged)).encode)
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

  test("a plan with no read generation refuses to roll forward, naming its file") {
    import spark.implicits._
    intercept[IllegalStateException](CommitPlan.decode("F shard=1/x.parquet"))
      .getMessage should include("no read generation")
    val target = Files.createTempDirectory("graft-plan-bless").toString + "/t"
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(
      (0L until 40L).map(k => (k, s"v1-$k", 1L, k % 4)).toDF("id", "payload", "v", "shard"), 1L)
    (1L until 40L by 4L).map(k => (k, s"v2-$k", 2L, 1L)).toDF("id", "payload", "v", "shard")
      .write.mode("overwrite").partitionBy("shard").parquet(target + ".__stage-bless")
    val stage = new Path(target + ".__stage-bless")
    val plan = CommitPlan(readGen = 1L, Commit.listRel(fs, stage), Set("shard=1"))
    Commit.writePlan(fs, stage, plan)
    // the plan as a writer without read generations would have left it
    val marker = new Path(stage, Commit.StageCommitMarker)
    val out = fs.create(marker, true)
    try out.write(plan.encode.split("\n").filterNot(_.startsWith("B ")).mkString("\n")
      .getBytes("UTF-8")) finally out.close()
    val ex = intercept[IllegalStateException](Commit.recover(fs, target))
    ex.getMessage should include("no read generation")
    ex.getMessage should include(marker.getName)
    Streaming.manifestGenerations(fs, target) shouldBe Seq(1L)
    Streaming.readCommitted(spark, target).count() shouldBe 40L
  }

  test("an empty plan decodes to no facts and executes as a no-op") {
    CommitPlan.decode("B 1") shouldBe CommitPlan(readGen = 1L)
    CommitPlan(readGen = 1L).encode shouldBe "B 1"
    import spark.implicits._
    val target = Files.createTempDirectory("graft-plan-empty").toString + "/t"
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(
      (0L until 8L).map(k => (k, s"v1-$k", 1L, k % 4)).toDF("id", "payload", "v", "shard"), 1L)
    val stage = new Path(target + ".__stage-empty")
    fs.mkdirs(stage)
    Commit.writePlan(fs, stage, CommitPlan(readGen = 1L))
    Commit.recover(fs, target)
    fs.exists(stage) shouldBe false
    Streaming.manifestGenerations(fs, target) shouldBe Seq(1L)
    Streaming.readCommitted(spark, target).count() shouldBe 8L
  }
}
