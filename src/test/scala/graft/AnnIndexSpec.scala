package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.AnnIndex

/** The persisted ANN-index lifecycle (train once / serve many / ingest
  * without retrain), which the oracled q_similarity_ivf_sq8 — one
  * plan, trains per run — cannot show: build the IVF-SQ8 index tables,
  * write them cell-partitioned, answer queries from a FRESH READ with
  * no training, no full-precision corpus, and a PRUNED corpus scan
  * (asserted on the physical plan), then append new vectors to the
  * live index and find them.
  */
class AnnIndexSpec extends AnyFunSuite with Matchers with SparkSessionSetup {

  private val dim = 16

  /** Deterministic corpus: vectors in 8 well-separated direction
    * families (id % 8 picks a dominant axis pair), every id % 50 == 1
    * a near-copy of id-1 with one component nudged — the planted
    * neighbor search() must return. `ids` lets the upsert test mint
    * post-build vectors from the same families.
    */
  private def corpusDf(ids: org.apache.spark.sql.DataFrame) = {
    val cid = when(col("id") % 50 === 1, col("id") - 1).otherwise(col("id"))
    val vec = transform(sequence(lit(0), lit(dim - 1)), j => {
      val h = pmod(xxhash64(cid * dim + j), lit(2001L))
      val base = (h - 1000L).cast("double") / 1000.0
      val axisBoost = when(pmod(cid, lit(8)) === pmod(j, lit(8)), lit(4.0)).otherwise(lit(0.0))
      base + axisBoost + when(col("id") % 50 === 1 && j === 3, lit(0.1)).otherwise(lit(0.0))
    })
    ids.select(col("id").as("vec_id"), vec.as("e"))
  }

  private def corpusN(n: Int) = corpusDf(spark.range(n).toDF("id"))

  /** The sidecar invariant every lifecycle verb must preserve: the
    * id->cell map holds exactly the corpus's (vec_id, cell) pairs.
    */
  private def assertIdMapConsistent(root: String): Unit = {
    val corpus = graft.streaming.Streaming.readCommitted(spark, s"$root/corpus")
      .select(col("vec_id"), col("cell"))
    val idmap = graft.streaming.Streaming.readCommitted(spark, s"$root/idmap")
      .select(col("vec_id"), col("cell"))
    withClue("id->cell sidecar diverged from the corpus: ") {
      idmap.count() shouldBe corpus.count()
      idmap.join(corpus, Seq("vec_id", "cell"), "left_anti").count() shouldBe 0L
    }
  }

  test("build -> partitioned parquet -> fresh read -> PRUNED search finds planted neighbors") {
    val root = Files.createTempDirectory("graft-ann-idx").toString
    val (centroids, corpus) = AnnIndex.build(corpusN(400), k = 8, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(centroids, corpus, root)

    // the serving side: ONLY the two persisted tables
    val (cIdx, vIdx) = AnnIndex.openIndex(spark, root)
    // the 8x at-rest claim is a SCHEMA property, not a comment:
    vIdx.schema("q8").dataType shouldBe ArrayType(ByteType, containsNull = true)
    cIdx.count() shouldBe 8
    // the drift baseline rides in the centroid table and covers the corpus
    cIdx.agg(sum(col("n_build"))).head.getLong(0) shouldBe 400L

    val queries = corpusN(400).filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val top1 = AnnIndex.search(cIdx, vIdx, queries, nprobe = 2, topK = 1, dim = dim)

    // PARTITION PRUNING is the point of the cell-partitioned write:
    // the corpus scan must carry a partition filter on `cell` and read
    // fewer files than the index holds (8 queries x nprobe 2 probes a
    // strict subset of the 8 cells only if probes overlap — assert the
    // filter's presence and that file count <= probed-cell dirs, both
    // via the physical scan; AQE off so collect sees the nodes).
    val totalFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/corpus"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val (scanFilters, scannedFiles) = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val probe = AnnIndex.search(cIdx, vIdx,
        queries.limit(1), nprobe = 2, topK = 1, dim = dim)
      val qe = probe.queryExecution
      probe.collect() // populate scan metrics
      val corpusScan = qe.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("corpus")) => s
      }.head
      (corpusScan.partitionFilters.map(_.sql).mkString(";"),
        corpusScan.metrics("numFiles").value)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    withClue(s"corpus scan carries no cell partition filter: ") {
      scanFilters.toLowerCase should include("cell")
    }
    // files per cell DIRECTORY (local[32] writes several part files
    // per cell): 1 query x nprobe 2 may read at most the two largest
    // cell dirs' files — and strictly less than the whole index
    val filesPerCell = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/corpus"))
      try it.filter(p => p.toString.endsWith(".parquet")).toArray.toSeq
        .map(_.toString.split("/").takeWhile(!_.startsWith("part-")).last)
        .groupBy(identity).map(_._2.size.toLong).toSeq.sorted.reverse
      finally it.close()
    }
    val top2 = filesPerCell.take(2).sum
    withClue(s"1 query x nprobe 2 should read <= 2 cell dirs ($top2 files) of $totalFiles: ") {
      scannedFiles should be <= top2
      scannedFiles should be < totalFiles
    }

    val hits = top1.filter(col("nid") === col("qid") - 1).count()
    val nQ = queries.count()
    assert(hits == nQ, s"planted top-1 recall through the persisted index: $hits of $nQ")

    // serving is deterministic: two runs, byte-identical results
    val a = AnnIndex.search(cIdx, vIdx, queries, nprobe = 2, topK = 5, dim = dim).collect().toSeq
    val b = AnnIndex.search(cIdx, vIdx, queries, nprobe = 2, topK = 5, dim = dim).collect().toSeq
    a.map(_.toString).sorted shouldBe b.map(_.toString).sorted
  }

  test("upsert ingests without retrain: new vectors found, untouched cells not rewritten, drift reported") {
    val root = Files.createTempDirectory("graft-ann-upsert").toString
    val (centroids, corpus) = AnnIndex.build(corpusN(400), k = 8, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(centroids, corpus, root)

    def fileSet(): Set[String] = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/corpus"))
      try it.filter(p => p.toString.endsWith(".parquet"))
        .map[String](_.toString).toArray.map(_.toString).toSet
      finally it.close()
    }
    val before = fileSet()

    // post-build batch: ids 1000..1079 from ONE direction family
    // (id pinned to family 3 via cid construction: use ids ≡ 3 mod 8)
    val newIds = spark.range(125).select((col("id") * 8 + 1003).as("id"))
    val batch = corpusDf(newIds)
    val admitted = AnnIndex.upsert(root, batch, vecCol = "e", dim = dim)
    admitted shouldBe 125L

    // append-only partition layout: every pre-existing file survives
    // byte-identically (same names — append never rewrites a cell)
    val after = fileSet()
    withClue("upsert rewrote pre-existing cell files: ") {
      before.subsetOf(after) shouldBe true
    }
    (after -- before) should not be empty

    // a post-build vector is served: query one of the new ids' own
    // direction; its planted family sibling (another new id) must rank
    val (cIdx, vIdx) = AnnIndex.openIndex(spark, root)
    vIdx.count() shouldBe 525L
    val q = corpusDf(newIds.limit(1)).select(col("vec_id").as("qid"), col("e").as("qe"))
    val res = AnnIndex.search(cIdx, vIdx, q, nprobe = 2, topK = 5, dim = dim)
    withClue("post-build neighbors should be served from the appended partitions: ") {
      res.filter(col("nid") >= 1000).count() should be > 0L
    }

    // drift: the single ingested family's cell(s) grew; total growth
    // accounts for every admitted vector and the skewed cell crosses
    // an alerting threshold no un-ingested cell reaches
    val d = AnnIndex.drift(spark, root).collect()
    d.map(_.getAs[Long]("n_now")).sum shouldBe 525L
    d.map(_.getAs[Long]("n_build")).sum shouldBe 400L
    val maxGrowth = d.map(_.getAs[Double]("growth")).max
    withClue(s"one-family ingest of 125 on a 400-vector index must spike a cell: ") {
      maxGrowth should be >= 1.0
    }
    val grown = d.filter(_.getAs[Double]("growth") >= 1.0).map(_.getAs[Int]("cell")).toSet
    withClue("growth must be concentrated, not smeared over all cells: ") {
      grown.size should be <= 2
    }
  }

  test("splitCell answers a drift alarm with a LOCAL retrain: one cell out, two in, rest untouched") {
    val root = Files.createTempDirectory("graft-ann-split").toString
    // k = 4 over the 8-family corpus: every cell holds ~2 direction
    // families — guaranteed internal structure for a 2-means to find
    val (centroids, corpus) = AnnIndex.build(corpusN(400), k = 4, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(centroids, corpus, root)
    val (c0, v0) = AnnIndex.openIndex(spark, root)
    val total = v0.count()
    val fat = AnnIndex.drift(spark, root).orderBy(col("n_now").desc)
      .head.getAs[Int]("cell")
    val fatMembers = v0.filter(col("cell") === fat)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    def cellFiles(c: Int): Set[String] = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/corpus/cell=$c"))
      try it.filter(_.toString.endsWith(".parquet")).toArray.map(_.toString).toSet
      finally it.close()
    }
    val others = (0 until 4).filter(_ != fat)
    val otherFilesBefore = others.map(c => c -> cellFiles(c)).toMap

    val newCell = AnnIndex.splitCell(root, fat, dim = dim)
    newCell shouldBe 4 // max existing id + 1 — other cells' ids never move

    val (c1, v1) = AnnIndex.openIndex(spark, root)
    c1.count() shouldBe 5
    v1.count() shouldBe total // membership conserved, only routing changed
    // the split cell's members land exactly in {fat, newCell}, both non-empty
    val after = v1.filter(col("cell").isin(fat, newCell))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    after shouldBe fatMembers
    v1.filter(col("cell") === fat).count() should be > 0L
    v1.filter(col("cell") === newCell).count() should be > 0L
    // drift baselines reset for the two sub-cells; table sums to the corpus
    c1.agg(sum(col("n_build"))).head.getLong(0) shouldBe total
    withClue("cells not named in the split must keep their exact files: ") {
      others.foreach(c => cellFiles(c) shouldBe otherFilesBefore(c))
    }
    // serving through the post-split table still finds every planted
    // neighbor (sub-centroids live in RAW space — commensurable probes)
    val queries = corpusN(400).filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val hits = AnnIndex.search(c1, v1, queries, nprobe = 3, topK = 1, dim = dim)
      .filter(col("nid") === col("qid") - 1).count()
    hits shouldBe queries.count()

    // a cell with nothing to split is a no-op, not a crash
    AnnIndex.splitCell(root, 999, dim = dim) shouldBe -1
  }

  test("a streaming vector ingest grows the live index across triggers") {
    // The composition IncrementalDedupSpec proved for dedup, applied
    // to the ANN index: vectors arrive on a Structured Stream;
    // foreachBatch assigns each micro-batch to the existing centroids
    // and appends (AnnIndex.upsert — no retrain, partition-scoped
    // writes); a query after the second trigger finds a vector
    // admitted in the FIRST trigger purely through the persisted
    // index. Continuous ingest, cost per trigger ∝ the trigger's data.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ann-stream").toString
    val (centroids, corpus) = AnnIndex.build(corpusN(400), k = 8, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(centroids, corpus, root)

    implicit val sq = spark.sqlContext
    val input = MemoryStream[Long]
    val stream = input.toDF().toDF("id")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        AnnIndex.upsert(root, corpusDf(batch), vecCol = "e", dim = dim)
        ()
      }
      .start()
    try {
      // trigger 1 admits id 3000 (among others); the corpus recipe
      // plants id 3001 (≡ 1 mod 50) as a 0.999-cosine copy of 3000
      input.addData(2000L until 2010L: _*)
      input.addData(3000L)
      stream.processAllAvailable()
      // trigger 2 admits the near-copy — its neighbor arrived one
      // trigger EARLIER and is reachable only through the live index
      input.addData(3001L)
      stream.processAllAvailable()
    } finally stream.stop()

    val (cIdx, vIdx) = AnnIndex.openIndex(spark, root)
    vIdx.count() shouldBe 412L
    val q = corpusDf(spark.range(3001L, 3002L).toDF("id"))
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val top = AnnIndex.search(cIdx, vIdx, q, nprobe = 2, topK = 1, dim = dim)
    withClue("the trigger-1 admission must be the near-copy's top-1: ") {
      top.filter(col("nid") === 3000L).count() shouldBe 1L
    }
  }

  test("id->cell sidecar: consistent through every lifecycle verb, heals from dirty and from missing") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ann-idmap").toString
    val (centroids, corpus) = AnnIndex.build(corpusN(300), k = 6, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(centroids, corpus, root)
    assertIdMapConsistent(root)

    AnnIndex.upsert(root, corpusDf(spark.range(300, 340).toDF("id")), dim = dim)
    assertIdMapConsistent(root)

    // latest-wins re-ingest: the same ids with DIFFERENT content
    // (vectors minted from another direction family) must REPLACE, not
    // duplicate — one row per id, new bytes, sidecar still exact
    val before310 = graft.streaming.Streaming.readCommitted(spark, s"$root/corpus")
      .filter(col("vec_id") === 310L).select("q8").head.getSeq[Byte](0)
    AnnIndex.upsert(root,
      corpusDf(spark.range(700, 706).toDF("id"))
        .withColumn("vec_id", col("vec_id") - 390L),
      dim = dim)
    val corpusNow = graft.streaming.Streaming.readCommitted(spark, s"$root/corpus")
    corpusNow.count() shouldBe 340L
    corpusNow.filter(col("vec_id").between(310L, 315L))
      .groupBy("vec_id").count().filter(col("count") =!= 1).count() shouldBe 0L
    corpusNow.filter(col("vec_id") === 310L)
      .select("q8").head.getSeq[Byte](0) should not equal before310
    assertIdMapConsistent(root)

    AnnIndex.delete(root, Seq(5L, 305L, 9999L).toDF("vec_id")) shouldBe 2L
    assertIdMapConsistent(root)
    val fat = AnnIndex.drift(spark, root).orderBy(col("n_now").desc).head.getAs[Int]("cell")
    AnnIndex.splitCell(root, fat, dim = dim)
    assertIdMapConsistent(root)
    val small = AnnIndex.drift(spark, root).orderBy(col("n_now").asc).head.getAs[Int]("cell")
    AnnIndex.mergeCell(root, small)
    assertIdMapConsistent(root)

    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash inside a mutation: the dirty sentinel survives and the
    // sidecar may be arbitrarily wrong — heal must rebuild it from the
    // corpus (simulated by corrupting the map, then leaving the flag)
    graft.streaming.Streaming.readCommitted(spark, s"$root/corpus")
      .select(col("vec_id"), col("cell"))
      .limit(3).withColumn("cell", lit(999))
      .withColumn("shard", expr(s"CAST(vec_id DIV ${AnnIndex.IdMapShardSize} AS INT)"))
      .withColumn("batch_id", lit(0L))
      .localCheckpoint()
      .write.mode("overwrite").partitionBy("shard").parquet(s"$root/idmap")
    fs.create(new org.apache.hadoop.fs.Path(s"$root/idmap.__dirty"), true).close()
    AnnIndex.openIndex(spark, root) // heal runs under the lease
    fs.exists(new org.apache.hadoop.fs.Path(s"$root/idmap.__dirty")) shouldBe false
    assertIdMapConsistent(root)

    // pre-sidecar index (migration): no idmap at all -> rebuilt on the
    // first entry, and delete works immediately after
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/idmap"), true)
    AnnIndex.delete(root, Seq(7L).toDF("vec_id")) shouldBe 1L
    assertIdMapConsistent(root)
  }

  test("maintain autopilot: one policy pass splits the fat cell, merges the bled cell, compacts everything") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ann-maint").toString
    val (centroids, corpus) = AnnIndex.build(corpusN(300), k = 6, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(centroids, corpus, root)

    // skew: 8 batches minted from direction family 0 (ids ≡ 0 mod 8),
    // so ONE cell absorbs ~200 new members — the split signal. (The
    // split REWRITES that cell, resetting its file count, so the
    // fragmentation that must trip compact is planted in a DIFFERENT
    // cell below.)
    for (i <- 0 until 8)
      AnnIndex.upsert(root,
        corpusDf(spark.range(0, 25).select((col("id") * 8 + 1000 + i * 200).as("id"))),
        dim = dim)
    // fragmentation: 6 tiny batches from families 3 and 4 pile 6
    // append files onto those families' cells WITHOUT growing them
    // past the split threshold — upsert appends exactly one file per
    // touched cell per batch, so only batch COUNT fragments (ids
    // chosen never ≡ 1 mod 50, so none is a planted near-copy)
    for (i <- 0 until 6)
      AnnIndex.upsert(root,
        corpusDf(spark.range(0, 2).select((col("id") * 8 + 9003 + i * 100).as("id"))),
        dim = dim)
    // bleed the smallest cell to near-empty (the merge signal)
    val pops = graft.streaming.Streaming.readCommitted(spark, s"$root/corpus")
      .groupBy("cell").count().orderBy(col("count").asc).collect()
    val bled = pops.head.getInt(0)
    val victims = graft.streaming.Streaming.readCommitted(spark, s"$root/corpus")
      .filter(col("cell") === bled).select("vec_id")
      .orderBy("vec_id").collect().map(_.getLong(0)).drop(1)
    AnnIndex.delete(root, victims.toSeq.toDF("vec_id")) shouldBe victims.length.toLong
    val totalRows = 300L + 200L + 12L - victims.length

    val plan = AnnIndex.maintain(root,
      maxFilesPerCell = 3, splitSkew = 1.8, mergeFraction = 0.15, minK = 4, dim = dim)
    val verbs = plan.map(_._1).toSet
    withClue(s"plan was: $plan ") {
      verbs should contain("split")
      verbs should contain("merge")
      verbs should contain("compact")
    }

    // every action durable, nothing lost, layout settled
    val (c2, v2) = AnnIndex.openIndex(spark, root)
    v2.count() shouldBe totalRows
    assertIdMapConsistent(root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // LIVE file counts come from the manifest — the directories also
    // hold replaced files awaiting the retention horizon
    val liveByCell = graft.table.Snapshot.latest(fs, s"$root/corpus")
      .get.paths.groupBy(r => r.substring(0, r.lastIndexOf('/')))
    liveByCell.foreach { case (d, fsOfCell) =>
      withClue(s"cell dir $d still fragmented: ") {
        fsOfCell.size should be <= 3
      }
    }
    // the bled cell is gone (merged away), the fat cell's skew absorbed
    c2.filter(col("cell") === bled).count() shouldBe 0L

    // a second pass over the now-healthy index is a NO-OP — the policy
    // is idempotent at the plan level (thresholds relaxed past the
    // settled state). splitSkew sits at 8x because the fixture's skew
    // is GENUINE: the 200 family-0 upserts are near-identical
    // directions, so their cell is a tight real cluster whose 2-means
    // split keeps one populous half — population skew that reflects
    // data skew is not an alarm a re-split can (or should) fix
    AnnIndex.maintain(root,
      maxFilesPerCell = 3, splitSkew = 8.0, mergeFraction = 0.02, minK = 4,
      dim = dim) shouldBe empty

    // planted recall survives maintenance: query the families that
    // kept their members
    val deleted = victims.toSet
    val queries = corpusN(300)
      .filter(col("vec_id") % 50 === 1)
      .filter(!col("vec_id").isInCollection(deleted.toSeq) &&
        !(col("vec_id") - 1).isInCollection(deleted.toSeq))
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val hits = AnnIndex.search(c2, v2, queries, nprobe = 2, topK = 1, dim = dim)
      .filter(col("nid") === col("qid") - 1).count()
    hits.toDouble / queries.count() should be >= 0.8
  }

  test("delete retracts vectors: gone from serving, untouched cells keep files, shrink visible in drift") {
    val root = Files.createTempDirectory("graft-ann-del").toString
    val (centroids, corpus) = AnnIndex.build(corpusN(400), k = 8, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(centroids, corpus, root)
    val (c0, v0) = AnnIndex.openIndex(spark, root)
    // the planted pair (100, 101): delete the neighbor, query the base
    val victimCell = v0.filter(col("vec_id") === 100L).select("cell").head.getInt(0)
    val untouched = (0 until 8).filterNot(_ == victimCell)
    def cellFiles(c: Int): Set[String] = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/corpus/cell=$c"))
      try it.filter(_.toString.endsWith(".parquet")).toArray.map(_.toString).toSet
      finally it.close()
    }
    val beforeFiles = untouched.map(c => c -> cellFiles(c)).toMap

    import spark.implicits._
    AnnIndex.delete(root, Seq(100L).toDF("vec_id")) shouldBe 1L
    val (c1, v1) = AnnIndex.openIndex(spark, root)
    v1.count() shouldBe 399L
    v1.filter(col("vec_id") === 100L).count() shouldBe 0L
    withClue("a delete confined to one cell must not rewrite the others: ") {
      untouched.foreach(c => cellFiles(c) shouldBe beforeFiles(c))
    }
    val q = corpusN(400).filter(col("vec_id") === 101L)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    AnnIndex.search(c1, v1, q, nprobe = 8, topK = 5, dim = dim)
      .filter(col("nid") === 100L).count() shouldBe 0L
    // deleting absent ids is a no-op (idempotent replay)
    AnnIndex.delete(root, Seq(100L).toDF("vec_id")) shouldBe 0L
    // drain one whole cell: the dir survives empty, the centroid row
    // stays, and drift reports full shrink (growth = -1) — the
    // mergeCell signal
    val members = v1.filter(col("cell") === victimCell)
      .select("vec_id").as[Long].collect().toSeq
    AnnIndex.delete(root, members.toDF("vec_id")) shouldBe members.size.toLong
    val d = AnnIndex.drift(spark, root)
      .filter(col("cell") === victimCell).head
    d.getAs[Long]("n_now") shouldBe 0L
    d.getAs[Double]("growth") shouldBe -1.0
  }

  test("mergeCell folds a drained cell into its nearest neighbour: membership conserved, recall held") {
    val root = Files.createTempDirectory("graft-ann-merge").toString
    val (centroids, corpus) = AnnIndex.build(corpusN(400), k = 8, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(centroids, corpus, root)
    val (c0, v0) = AnnIndex.openIndex(spark, root)
    val total = v0.count()
    val small = AnnIndex.drift(spark, root).orderBy(col("n_now").asc).head.getAs[Int]("cell")
    val smallMembers = v0.filter(col("cell") === small)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def cellFiles(c: Int): Set[String] = {
      val p = java.nio.file.Paths.get(s"$root/corpus/cell=$c")
      if (!java.nio.file.Files.exists(p)) return Set.empty
      val it = java.nio.file.Files.walk(p)
      try it.filter(_.toString.endsWith(".parquet")).toArray.map(_.toString).toSet
      finally it.close()
    }
    val allBefore = (0 until 8).map(c => c -> cellFiles(c)).toMap
    val dst = AnnIndex.mergeCell(root, small)
    val third = (0 until 8).filterNot(c => c == small || c == dst)

    val (c1, v1) = AnnIndex.openIndex(spark, root)
    c1.count() shouldBe 7
    c1.filter(col("cell") === small).count() shouldBe 0L
    v1.count() shouldBe total // membership conserved — a fold is pure routing
    v1.filter(col("cell") === dst).select("vec_id")
      .collect().map(_.getLong(0)).toSet should contain allElementsOf smallMembers
    // n_build baseline transfers to the absorber (drift stays meaningful)
    c1.agg(sum(col("n_build"))).head.getLong(0) shouldBe total
    withClue("cells not part of the fold keep their exact files: ") {
      third.foreach(c => cellFiles(c) shouldBe allBefore(c))
    }
    // every planted neighbor is still served (folded members reachable
    // through the absorber's centroid)
    val queries = corpusN(400).filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    AnnIndex.search(c1, v1, queries, nprobe = 4, topK = 1, dim = dim)
      .filter(col("nid") === col("qid") - 1).count() shouldBe queries.count()
    // the minK guard: refusing to shrink below the serving floor
    val e = intercept[IllegalArgumentException] {
      AnnIndex.mergeCell(root, dst, minK = 7)
    }
    e.getMessage should include("minK")
  }

  test("compact folds upsert append-files into one; serving results are unchanged") {
    val root = Files.createTempDirectory("graft-ann-compact").toString
    val (centroids, corpus) = AnnIndex.build(corpusN(400), k = 8, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(centroids, corpus, root)
    // an upsert storm on one direction family: each batch appends files
    // to the same hot cell
    (0 until 5).foreach { b =>
      val ids = spark.range(10).select((col("id") * 8 + 8003 + b * 80).as("id"))
      AnnIndex.upsert(root, corpusDf(ids), vecCol = "e", dim = dim)
    }
    val (cA, vA) = AnnIndex.openIndex(spark, root)
    val hot = vA.filter(col("vec_id") >= 8000L).groupBy(col("cell")).count()
      .orderBy(col("count").desc).head.getInt(0)
    val q = corpusDf(spark.range(1).select(lit(8003L).as("id")))
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val before = AnnIndex.search(cA, vA, q, nprobe = 3, topK = 10, dim = dim)
      .collect().map(_.toString).sorted
    val totalA = vA.count() // pin before the swap: vA's listing dies with it

    val (nBefore, nAfter) = AnnIndex.compact(root, hot)
    withClue(s"5 upsert batches must have fragmented cell $hot: ") { nBefore should be > 1 }
    nAfter shouldBe 1
    val (cB, vB) = AnnIndex.openIndex(spark, root)
    vB.count() shouldBe totalA
    val after = AnnIndex.search(cB, vB, q, nprobe = 3, topK = 10, dim = dim)
      .collect().map(_.toString).sorted
    withClue("compaction must be invisible to serving: ") { after shouldBe before }
    // compacting a single-file cell is a no-op
    AnnIndex.compact(root, hot) shouldBe ((1, 1))
  }

  test("splitCell crash windows heal: committed-stage roll-forward AND stranded-centroid repair") {
    val root = Files.createTempDirectory("graft-ann-crash").toString
    val (centroids, corpus) = AnnIndex.build(corpusN(400), k = 4, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(centroids, corpus, root)
    val (c0, v0) = AnnIndex.openIndex(spark, root)
    val total = v0.count()
    val fat = AnnIndex.drift(spark, root).orderBy(col("n_now").desc).head.getAs[Int]("cell")
    val fatMembers = v0.filter(col("cell") === fat)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val corpusPath = s"$root/corpus"

    // WINDOW 1 (r12 advice, high): the split staged both sub-cells and
    // recorded its commit PLAN, then crashed after moving ONE staged
    // file in and before the manifest bump. Fabricate it exactly:
    // stage = {cell=fat: even members, cell=4: odd members} + plan,
    // one file moved.
    v0.filter(col("cell") === fat)
      .withColumn("cell",
        when(pmod(col("vec_id"), lit(2)) === 0, lit(fat)).otherwise(lit(4)))
      .write.mode("overwrite").partitionBy("cell").parquet(corpusPath + ".__stage-split")
    locally {
      val stage = new org.apache.hadoop.fs.Path(corpusPath + ".__stage-split")
      val files = graft.table.Commit.listRel(fs, stage)
      graft.table.Commit.writePlan(fs, stage,
        graft.table.CommitPlan(graft.table.Commit.readGen(fs, corpusPath), files,
          Set(s"cell=$fat", "cell=4")))
      val first = files.head
      val dst = new org.apache.hadoop.fs.Path(s"$corpusPath/$first")
      if (!fs.exists(dst.getParent)) fs.mkdirs(dst.getParent)
      fs.rename(new org.apache.hadoop.fs.Path(s"$corpusPath.__stage-split/$first"), dst)
    }

    // the next index entry (an upsert here — the r12-advice scenario
    // where an unhealed upsert appended into a half-committed layout)
    // heals first: commit rolled forward, orphan cell 4 given a centroid
    import spark.implicits._
    AnnIndex.upsert(root, corpusDf(Seq(5000L).toDF("id")), vecCol = "e", dim = dim)
    val (c1, v1) = AnnIndex.openIndex(spark, root)
    withClue("membership conserved through the crash (split halves + the upsert): ") {
      v1.count() shouldBe total + 1
    }
    v1.filter(col("cell").isin(fat, 4)).filter(col("vec_id") < 5000L)
      .select("vec_id").collect().map(_.getLong(0)).toSet shouldBe fatMembers
    withClue("the rolled-forward new cell must have a repaired centroid row: ") {
      c1.filter(col("cell") === 4).count() shouldBe 1L
      c1.count() shouldBe 5
    }

    // WINDOW 2 (r12 advice, medium): the corpus commit COMPLETED —
    // half of cell=fat's members re-labeled into a brand-new cell=77,
    // manifest bumped — but the centroid rewrite never ran: an orphan
    // cell with no probe row. Fabricate the completed corpus commit
    // through the protocol itself.
    locally {
      val cur = graft.streaming.Streaming.readCommittedDirs(
        spark, corpusPath, Set(s"cell=$fat")).get
        .select(col("vec_id"), col("q8"), col("nrm"))
        // window 1 left only EVEN vec_ids in cell=fat — split those by
        // mod 4 so both halves of this fabricated commit are non-empty
        .withColumn("cell",
          when(pmod(col("vec_id"), lit(4)) === 0, lit(fat)).otherwise(lit(77)))
        .localCheckpoint()
      val stage = new org.apache.hadoop.fs.Path(corpusPath + ".__stage-w2")
      cur.write.mode("overwrite").partitionBy("cell").parquet(stage.toString)
      graft.table.Commit.commitStage(fs, corpusPath,
        Set(s"cell=$fat", "cell=77"), graft.table.Commit.readGen(fs, corpusPath), stage)
    }
    val repaired = AnnIndex.repairOrphanCells(spark, root)
    repaired shouldBe Seq(77)
    val (c2, v2) = AnnIndex.openIndex(spark, root)
    v2.count() shouldBe total + 1 // nothing lost
    withClue("the orphan's vectors are searchable again (its centroid row exists): ") {
      c2.filter(col("cell") === 77).count() shouldBe 1L
      val n77 = v2.filter(col("cell") === 77).count()
      c2.filter(col("cell") === 77).head.getAs[Long]("n_build") shouldBe n77
    }
    // repair is idempotent
    AnnIndex.repairOrphanCells(spark, root) shouldBe Seq.empty
  }

  test("versioned rebuild repoints atomically: in-flight readers keep a fully intact generation") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ann-versioned").toString + "/idx"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // generation 1
    val (c1b, v1b) = AnnIndex.build(corpusN(200), k = 4, vecCol = "e", dim = dim)
    val sub1 = AnnIndex.writeIndexVersioned(c1b, v1b, root)
    sub1 should endWith("v-000001")
    // every verb resolves the pointer: open, ingest, serve
    val (c1, v1) = AnnIndex.openIndex(spark, root)
    v1.count() shouldBe 200L
    AnnIndex.upsert(root, corpusDf(Seq(900L).toDF("id")), vecCol = "e", dim = dim) shouldBe 1L
    AnnIndex.openIndex(spark, root)._2.count() shouldBe 201L
    val queries = corpusN(200).filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    AnnIndex.searchSnapshot(spark, root, queries, nprobe = 2, topK = 1, dim = dim)
      .count(r => r.getLong(2) == r.getLong(0) - 1) shouldBe queries.count()

    // a reader resolved BEFORE the rebuild holds generation-1 handles;
    // the rebuild into a fresh sub-root + repoint must leave every one
    // of its files intact (one-rebuild-deep retention)
    val (cOld, vOld) = AnnIndex.openIndex(spark, root)
    val (c2b, v2b) = AnnIndex.build(corpusN(300), k = 4, vecCol = "e", dim = dim)
    val sub2 = AnnIndex.writeIndexVersioned(c2b, v2b, root)
    sub2 should endWith("v-000002")
    withClue("the in-flight generation-1 reader is undisturbed: ") {
      vOld.count() shouldBe 201L
      AnnIndex.search(cOld, vOld, queries, nprobe = 2, topK = 1, dim = dim)
        .filter(col("nid") === col("qid") - 1).count() shouldBe queries.count()
    }
    // new resolutions see generation 2
    AnnIndex.openIndex(spark, root)._2.count() shouldBe 300L

    // a third rebuild garbage-collects generation 1, retains 2
    AnnIndex.writeIndexVersioned(
      AnnIndex.build(corpusN(100), k = 4, vecCol = "e", dim = dim)._1,
      AnnIndex.build(corpusN(100), k = 4, vecCol = "e", dim = dim)._2, root)
    fs.exists(new org.apache.hadoop.fs.Path(s"$root/v-000001")) shouldBe false
    fs.exists(new org.apache.hadoop.fs.Path(s"$root/v-000002")) shouldBe true
    AnnIndex.openIndex(spark, root)._2.count() shouldBe 100L
    assertIdMapConsistent(s"$root/v-000003")
  }

  test("degenerate vectors are excluded at build, upsert, and query time") {
    import spark.implicits._
    val good = corpusN(100)
    val bad = Seq(
      (1000L, Seq.fill(dim)(0.0)),                       // zero norm
      (1001L, (Double.NaN +: Seq.fill(dim - 1)(1.0)).toSeq), // NaN component
      (1002L, null.asInstanceOf[Seq[Double]])            // NULL vector
    ).toDF("vec_id", "e")
    val (c, v) = AnnIndex.build(good.unionByName(bad), k = 4, dim = dim)
    v.filter(col("vec_id") >= 1000L).count() shouldBe 0
    // a degenerate QUERY has no direction to search for: dropped, not
    // a crash and not a NaN-topped ranking
    val q = Seq((2000L, Seq.fill(dim)(0.0))).toDF("qid", "qe")
    AnnIndex.search(c, v, q, nprobe = 2, topK = 3, dim = dim).count() shouldBe 0
    // degenerate INGEST is dropped by the same policy
    val root = Files.createTempDirectory("graft-ann-degen").toString
    AnnIndex.writeIndex(c, v, root)
    AnnIndex.upsert(root, bad, vecCol = "e", dim = dim) shouldBe 0L
    AnnIndex.openIndex(spark, root)._2.filter(col("vec_id") >= 1000L).count() shouldBe 0
  }

  test("searchSnapshot serves complete generations while a live maintainer storms the index") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ann-serve-race").toString
    val (centroids, corpus) = AnnIndex.build(corpusN(400), k = 8, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(centroids, corpus, root)
    // the planted pairs the serve must keep finding: id%50==1 is a
    // near-copy of id-1 (corpusDf), and the storm below never touches
    // ids < 400
    val queries = corpusN(400).filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("qid"), col("e").as("qe")).localCheckpoint()
    val nQ = queries.count()
    @volatile var maintFailure: Throwable = null
    val maintainer = new Thread(() => {
      try {
        for (i <- 0 until 8) {
          AnnIndex.upsert(root,
            corpusDf(spark.range(0, 30).select((col("id") * 8 + 1000 + i * 100).as("id"))),
            dim = dim)
          if (i % 3 == 2)
            AnnIndex.maintain(root, maxFilesPerCell = 4,
              splitSkew = 2.5, mergeFraction = 0.0, minK = 4, dim = dim)
        }
      } catch { case t: Throwable => maintFailure = t }
    }, "graft-serve-race-maintainer")
    maintainer.start()
    var serves = 0
    var refused = 0
    try {
      while (maintainer.isAlive) {
        // the serving endpoint: snapshot-pinned, retry-absorbed. The
        // contract under a ZERO-GAP storm (this maintainer never
        // pauses — far hostiler than any real maintenance cadence):
        // a serve may be REFUSED loudly when every retry lands
        // mid-verb, but a returned answer is always computed on one
        // complete generation — recall holds on every success, and a
        // silently-wrong answer fails the test.
        try {
          val rows = AnnIndex.searchSnapshot(spark, root, queries,
            nprobe = 3, topK = 1, dim = dim, attempts = 8)
          val hits = rows.count(r => r.getLong(2) == r.getLong(0) - 1) // nid == qid-1
          withClue(s"serve #$serves planted recall through the storm: ") {
            hits.toDouble / nQ should be >= 0.75
          }
          serves += 1
        } catch {
          case e: IllegalStateException if e.getMessage.contains("lost the maintenance race") =>
            refused += 1
        }
      }
    } finally maintainer.join(60000)
    maintFailure shouldBe null
    withClue(s"serves=$serves refused=$refused: ") { serves should be > 0 }
    assertIdMapConsistent(root)
  }

  test("writeIndex over an existing root purges stale swap leftovers: a prior generation's committed stage is never rolled forward into the rebuild") {
    val root = Files.createTempDirectory("graft-ann-rebuild").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (c0, v0) = AnnIndex.build(corpusN(200), k = 4, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(c0, v0, root)

    // simulate a maintenance verb that crashed AFTER committing its
    // stage: a stage dir with the commit marker holding a poison cell
    // that exists nowhere in the next generation
    val stage = new org.apache.hadoop.fs.Path(s"$root/corpus.__stage-poison")
    spark.read.parquet(s"$root/corpus").filter(col("cell") === 0)
      .withColumn("cell", lit(999))
      .write.mode("overwrite").partitionBy("cell").parquet(stage.toString)
    graft.table.Commit.writePlan(fs, stage,
      graft.table.CommitPlan(graft.table.Commit.readGen(fs, s"$root/corpus")))

    // retrain into the SAME root (the r13 advisor's medium scenario)
    val (c1, v1) = AnnIndex.build(corpusN(300), k = 4, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(c1, v1, root)

    // the next heal (openIndex takes the lease) must see a CLEAN
    // layout: no stage to roll forward, no resurrected poison cell,
    // idmap in lockstep with the rebuilt corpus
    val (_, corpus) = AnnIndex.openIndex(spark, root)
    fs.exists(stage) shouldBe false
    corpus.filter(col("cell") === 999).count() shouldBe 0L
    corpus.count() shouldBe 300L
    assertIdMapConsistent(root)
  }

  test("crash between the corpus append commit and the sidecar append: heal rebuilds the sidecar to the COMMITTED corpus") {
    // the r14 advisor's medium: a process dying after the corpus
    // append but before the sidecar write must not leave openIndex
    // serving rows the committed sidecar does not list. Under the
    // immutable protocol the corpus append is itself an atomic commit,
    // and heal's rebuild reads the corpus PINNED — so the rebuilt
    // sidecar references exactly the committed file set, appended rows
    // included.
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ann-appendcrash").toString
    val (c, v) = AnnIndex.build(corpusN(100), k = 4, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(c, v, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate the window through the protocol itself: stage one new
    // corpus row (vec_id 900, routed to cell 0) and commit it
    // append-only — then "crash" before appendIdMap, leaving the dirty
    // sentinel a real upsert would have set first
    fs.create(new org.apache.hadoop.fs.Path(s"$root/idmap.__dirty"), true).close()
    val newRow = graft.streaming.Streaming.readCommitted(spark, s"$root/corpus")
      .limit(1).select(lit(900L).as("vec_id"), col("q8"), col("nrm"), col("cell"))
      .localCheckpoint()
    val stage = new org.apache.hadoop.fs.Path(s"$root/corpus.__stage-app")
    newRow.write.mode("overwrite").partitionBy("cell").parquet(stage.toString)
    graft.table.Commit.commitStage(fs, s"$root/corpus", Set.empty,
      graft.table.Commit.readGen(fs, s"$root/corpus"), stage)

    // the next entry heals: sidecar rebuilt from the PINNED corpus —
    // the appended row is listed, the tables agree, serving sees it
    val (_, corpus) = AnnIndex.openIndex(spark, root)
    corpus.filter(col("vec_id") === 900L).count() shouldBe 1L
    fs.exists(new org.apache.hadoop.fs.Path(s"$root/idmap.__dirty")) shouldBe false
    assertIdMapConsistent(root)
  }

  test("upsert collapses in-batch duplicate ids: one corpus row, one sidecar row per id") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ann-dup").toString
    val (c, v) = AnnIndex.build(corpusN(100), k = 4, vecCol = "e", dim = dim)
    AnnIndex.writeIndex(c, v, root)
    // the same id three times in ONE batch (an upstream replay), one
    // of them degenerate — the degenerate copy must not win the dedup
    val batch = corpusDf(Seq(500L, 500L).toDF("id"))
      .unionByName(Seq((500L, Seq.fill(dim)(0.0))).toDF("vec_id", "e"))
    AnnIndex.upsert(root, batch, vecCol = "e", dim = dim) shouldBe 1L
    val (_, corpus) = AnnIndex.openIndex(spark, root)
    corpus.filter(col("vec_id") === 500L).count() shouldBe 1L
    assertIdMapConsistent(root)
  }

  test("a non-default input id column is normalized to vec_id at the boundary; later verbs work") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ann-idcol").toString
    val named = corpusN(120).withColumnRenamed("vec_id", "doc_id")
    val (c, v) = AnnIndex.build(named, k = 4, idCol = "doc_id", vecCol = "e", dim = dim)
    v.columns should contain("vec_id") // normalized on the persisted layout
    AnnIndex.writeIndex(c, v, root)
    AnnIndex.upsert(root,
      corpusDf(Seq(300L).toDF("id")).withColumnRenamed("vec_id", "doc_id"),
      idCol = "doc_id", vecCol = "e", dim = dim) shouldBe 1L
    // lifecycle verbs key on the normalized column regardless of the
    // ingest-time name (the r13 advisor's API trap)
    AnnIndex.delete(root, Seq(3L, 300L).toDF("vec_id")) shouldBe 2L
    assertIdMapConsistent(root)
  }
}
