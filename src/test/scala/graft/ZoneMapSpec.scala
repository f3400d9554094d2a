package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.Streaming
import graft.table.{Commit, Snapshot}

/** Zone-map file skipping (the Iceberg/Delta data-skipping core):
  * every commit records per-file min/max bounds for the top-level
  * long / double / string columns in its manifest entry lines (one
  * parquet-footer read per added file — already paid for the row
  * counts), `clusterTable` range-clusters a table so the bounds are
  * tight and non-overlapping, and `readCommittedRange` prunes files
  * against them before Spark lists a single path. The contract under
  * test: the pruned read EQUALS the full read + filter (pruning is
  * lossless), the pruning is REAL (most files skipped on a clustered
  * table), and every unboundable case — nulls, stat-less legacy
  * entries, unknown columns, oversized string bounds — falls back to
  * "keep", never to a wrong answer.
  */
class ZoneMapSpec extends AnyFunSuite with Matchers with SparkSessionSetup {

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** Zone-map pruning of the latest generation: (kept paths, total). */
  private def zoneMapFiles(target: String, predicates: (String, Any, Any)*): (Seq[String], Int) = {
    val snap = Snapshot.latest(fs, target).get
    (snap.rangeKept(predicates).map(_.path), snap.entries.size)
  }

  private def seed(target: String, n: Long = 400L): Unit = {
    import spark.implicits._
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(
      (0L until n).map(k => (k, k.toDouble / 2, f"name-$k%03d", 1L, k % 4))
        .toDF("id", "score", "name", "v", "shard"),
      1L)
  }

  test("commits record per-column bounds; clusterTable makes them prune") {
    val target = tmp("graft-zm-cluster")
    seed(target)
    Streaming.clusterTable(spark, target, "id", 16)
    val (kept, total) = zoneMapFiles(target, ("id", 100L, 124L))
    total should be >= 16
    // a 25-wide slice of a 400-key domain split into 16 ranges touches
    // a small handful of files (range-partitioner SAMPLING shifts the
    // boundaries run to run — the bound must hold for any split)
    kept.size should be <= 4
    val pruned = Streaming.readCommittedRange(spark, target, "id", 100L, 124L)
    val full = Streaming.readCommitted(spark, target)
      .where(col("id") >= 100L && col("id") <= 124L)
    pruned.count() shouldBe 25L
    pruned.exceptAll(full).count() shouldBe 0L
    full.exceptAll(pruned).count() shouldBe 0L
  }

  test("double and string columns prune too; lossless vs the full filter") {
    val target = tmp("graft-zm-kinds")
    seed(target)
    Streaming.clusterTable(spark, target, "score", 8)
    val (keptD, totalD) = zoneMapFiles(target, ("score", 10.0, 19.5))
    keptD.size should be < totalD
    val prunedD = Streaming.readCommittedRange(spark, target, "score", 10.0, 19.5)
    prunedD.count() shouldBe Streaming.readCommitted(spark, target)
      .where(col("score").between(10.0, 19.5)).count()

    Streaming.clusterTable(spark, target, "name", 8)
    val (keptS, totalS) =
      zoneMapFiles(target, ("name", "name-100", "name-149"))
    keptS.size should be < totalS
    Streaming.readCommittedRange(spark, target, "name", "name-100", "name-149")
      .count() shouldBe 50L
  }

  test("a >64-char string column drops ONLY its own zone map: row counts and the " +
      "other columns' bounds survive (ADVICE r16, medium)") {
    // Before the fix, the oversized-string branch assigned null into a
    // destructured tuple; the MatchError was swallowed by footerInfo's
    // catch-all and the WHOLE entry lost its row count, schema hash,
    // and every column's bounds — a table with a long text column
    // silently lost all metadata stats.
    import spark.implicits._
    val target = tmp("graft-zm-longstr")
    val longText = "x" * 200 // far past MaxStringBound = 64
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(
      (0L until 200L).map(k => (k, longText + k, 1L, k % 4))
        .toDF("id", "text", "v", "shard"),
      1L)
    // the row count survived the oversized string bound
    Snapshot.latest(fs, target).map(_.rowCount) shouldBe Some(200L)
    // the long column has no zone map -> its min/max refuses...
    Snapshot.latest(fs, target).flatMap(_.minMax("text")) shouldBe None
    // ...but the sibling long column's bounds were recorded and answer
    Snapshot.latest(fs, target).flatMap(_.minMax("id")) shouldBe Some(("0", "199", 'l'))
    // and pruning on the sibling column still works after clustering
    Streaming.clusterTable(spark, target, "id", 8)
    val (kept, total) = zoneMapFiles(target, ("id", 10L, 29L))
    kept.size should be < total
    Streaming.readCommittedRange(spark, target, "id", 10L, 29L).count() shouldBe 20L
    // the unboundable text column keeps every file — lossless fallback
    val (keptT, totalT) = zoneMapFiles(target, ("text", "a", "b"))
    keptT.size shouldBe totalT
  }

  test("null counts ride the zone maps: IS NULL / IS NOT NULL prune files, " +
      "statsNullCount is exact, and an all-null file no longer blocks statsMinMax") {
    import spark.implicits._
    val target = tmp("graft-zm-nulls")
    // `maybe` is NULL exactly for id < 100; clustering on id
    // concentrates the nulls in the low files
    val df = spark.range(0, 400).toDF("id")
      .withColumn("maybe",
        when(col("id") >= 100L, concat(lit("v-"), col("id"))))
      .withColumn("v", lit(1L))
      .withColumn("shard", col("id") % 4)
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(df, 1L)
    Streaming.clusterTable(spark, target, "id", 16)
    val g = Streaming.manifestGenerations(fs, target).last
    val all = Streaming.manifestEntries(fs, target, g)
    // exact metadata-only null count
    Snapshot.latest(fs, target).flatMap(_.nullCount("maybe")) shouldBe Some(100L)
    Snapshot.latest(fs, target).flatMap(_.nullCount("id")) shouldBe Some(0L)
    // IS NULL keeps only the null-bearing (low-id) files
    val isNullKept = Snapshot.nullKept(Snapshot.at(fs, target, g).entries, "maybe", isNull = true).map(_.path)
    isNullKept.size should be < all.size
    // IS NOT NULL drops the all-null files
    val notNullKept = Snapshot.nullKept(Snapshot.at(fs, target, g).entries, "maybe", isNull = false).map(_.path)
    notNullKept.size should be < all.size
    // both lossless vs the full filter
    val full = Streaming.readCommitted(spark, target)
    spark.read.option("basePath", target)
      .parquet(isNullKept.map(f => s"$target/$f"): _*)
      .where(col("maybe").isNull).count() shouldBe
      full.where(col("maybe").isNull).count()
    spark.read.option("basePath", target)
      .parquet(notNullKept.map(f => s"$target/$f"): _*)
      .where(col("maybe").isNotNull).count() shouldBe
      full.where(col("maybe").isNotNull).count()
    // the r16 refusal case resolved: files whose `maybe` is ALL NULL
    // carry a z-marker (all-null proof), so min/max answers from the
    // value-bearing files instead of refusing
    Snapshot.latest(fs, target).flatMap(_.minMax("maybe")) shouldBe Some(("v-100", "v-399", 's'))
    // and the CONNECTOR's null-test pushdown consumes the counts
    val scan = spark.read.format("graft").load(target).where(col("maybe").isNull)
    scan.count() shouldBe 100L
    val idx = scan.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr.relation
    }.collectFirst {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.asInstanceOf[graft.sources.GraftFileIndex]
    }.get
    val (kept, total) = idx.lastPruning.get
    kept should be < total
  }

  test("a range past the domain prunes everything and returns the empty typed frame") {
    val target = tmp("graft-zm-empty")
    seed(target)
    Streaming.clusterTable(spark, target, "id", 8)
    val (kept, _) = zoneMapFiles(target, ("id", 100000L, 200000L))
    kept shouldBe empty
    val out = Streaming.readCommittedRange(spark, target, "id", 100000L, 200000L)
    out.count() shouldBe 0L
    out.columns should contain allOf ("id", "score", "name")
  }

  test("nulls in the clustered column never break losslessness") {
    import spark.implicits._
    val target = tmp("graft-zm-nulls")
    val rows = (0L until 100L).map(k =>
      (k, if (k % 10 == 0) null else s"n-$k", 1L, k % 4))
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(
      rows.toDF("id", "name", "v", "shard"), 1L)
    Streaming.clusterTable(spark, target, "name", 4)
    // nulls fail BETWEEN in both the pruned and the full read
    val pruned = Streaming.readCommittedRange(spark, target, "name", "n-1", "n-3")
    val full = Streaming.readCommitted(spark, target)
      .where(col("name") >= "n-1" && col("name") <= "n-3")
    pruned.count() shouldBe full.count()
    pruned.exceptAll(full).count() shouldBe 0L
  }

  test("Z-ORDER clustering makes BOTH dimensions prune (zoneMapFilesMulti); " +
      "the 2-D pruned read equals the full conjunctive filter") {
    import spark.implicits._
    import graft.functions.Layout
    val target = tmp("graft-zm-zorder")
    val rows = for (x <- 0L until 64L; y <- 0L until 64L)
      yield (x * 64 + y, x, y, 1L, (x * 64 + y) % 4)
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(
      rows.toDF("id", "x", "y", "v", "shard"), 1L)
    // cluster on the Morton interleave of (x, y): files become tight
    // RECTANGLES in (x, y) space, so a range on EITHER dimension prunes
    val withZ = Streaming.readCommitted(spark, target)
      .withColumn("zval",
        Layout.zorder2(col("x").cast("int"), col("y").cast("int"), bits = 6))
    val staged = target + "2"
    Streaming.upsertPartitionedBatch(staged, "id", "v", "shard")(
      withZ.withColumn("shard", col("shard").cast("long")), 1L)
    Streaming.clusterTable(spark, staged, "zval", 16)
    val predicates = Seq[(String, Any, Any)](("x", 8L, 15L), ("y", 24L, 31L))
    val (kept, total) = zoneMapFiles(staged, predicates: _*)
    total shouldBe 16
    // an 8x8 query rectangle over a 64x64 z-ordered space: a handful
    // of files, never most of them (boundaries are SAMPLED — allow
    // straddle, still far below the 16 a 1-D layout's trailing
    // dimension would keep)
    kept.size should be <= 6
    val pruned = Streaming.readCommittedRanges(spark, staged, predicates)
    pruned.count() shouldBe 64L
    val full = Streaming.readCommitted(spark, staged)
      .where(col("x").between(8L, 15L) && col("y").between(24L, 31L))
    pruned.exceptAll(full).count() shouldBe 0L
    full.exceptAll(pruned).count() shouldBe 0L
  }

  test("unknown columns and fractional bounds refuse or keep — never mis-prune") {
    val target = tmp("graft-zm-guards")
    seed(target, n = 50L)
    // a column with no recorded bounds (shard is a PARTITION dir, not
    // a data column in the files): every file kept
    val (kept, total) = zoneMapFiles(target, ("no_such_col", 0L, 1L))
    kept.size shouldBe total
    // fractional bound against an integral column: loud refusal
    an[IllegalArgumentException] should be thrownBy
      zoneMapFiles(target, ("id", 1.5, 2.5))
  }

  test("clusteringDepth reads layout health from metadata; maintainClustered " +
      "re-clusters only a degraded table") {
    import spark.implicits._
    val target = tmp("graft-zm-maintain")
    seed(target)
    Streaming.clusterTable(spark, target, "id", 8)
    val healthy = Snapshot.latest(fs, target).flatMap(_.clusteringDepth("id")).get
    healthy should be < 1.5
    // a healthy table is a pure metadata probe: no new generation
    val genBefore = Streaming.manifestGenerations(fs, target).max
    Streaming.maintainClustered(spark, target, "id", 8) shouldBe false
    Streaming.manifestGenerations(fs, target).max shouldBe genBefore
    // degrade the layout: three APPEND commits whose files each span
    // the whole id domain (interleaved ids). `shard` must match the
    // clustered table's type: clusterTable flattened the hive layout,
    // so shard is the partition-dir-inferred INT — an int64 append
    // would leave the column mixed-type across files
    (1 to 3).foreach { i =>
      (0L until 400L by 4L).map(k => (k + i, k.toDouble, f"name-${k + i}%03d", 10L + i, k % 4))
        .toDF("id", "score", "name", "v", "shard")
        .withColumn("shard", col("shard").cast("int"))
        .coalesce(1)
        .write.mode("overwrite").parquet(target + s".__stage-app$i")
      Commit.commitStage(fs, target, Set.empty, Commit.readGen(fs, target),
        new Path(target + s".__stage-app$i"))
    }
    val degraded = Snapshot.latest(fs, target).flatMap(_.clusteringDepth("id")).get
    degraded should be > 2.0
    val before = Streaming.readCommitted(spark, target).count()
    Streaming.maintainClustered(spark, target, "id", 8) shouldBe true
    Snapshot.latest(fs, target).flatMap(_.clusteringDepth("id")).get should be < 1.5
    Streaming.readCommitted(spark, target).count() shouldBe before
    // and pruning is sharp again (sampled boundaries: allow straddle)
    val (kept, total) = zoneMapFiles(target, ("id", 100L, 124L))
    kept.size should be <= 3
    total shouldBe 8
  }

  test("bounds survive the delta carry: an unrelated commit keeps other files' zone maps") {
    import spark.implicits._
    val target2 = tmp("graft-zm-carry")
    seed(target2)
    val gens = Streaming.manifestGenerations(fs, target2)
    Streaming.upsertPartitionedBatch(target2, "id", "v", "shard")(
      Seq((0L, 99.0, "upd", 9L, 0L)).toDF("id", "score", "name", "v", "shard"), 2L)
    Streaming.manifestGenerations(fs, target2).last shouldBe gens.last + 1
    // shards 1..3 were untouched: their carried entries still prune
    val (kept2, total2) = zoneMapFiles(target2, ("id", 50000L, 60000L))
    kept2 shouldBe empty
    total2 should be > 0
  }
}
