package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Scale demonstration for the IVF x SQ8 composition at a 1M-vector
  * corpus, driven through the SHARED persisted-index operator
  * (operators.AnnIndex — the same build/search definitions
  * AnnIndexSpec verifies; q_similarity_ivf_sq8 is the in-plan oracled
  * twin), so the scale evidence cannot silently measure a different
  * pipeline than the one the gates check. The demo runs the full
  * production lifecycle: build the index ONCE, write both tables to
  * parquet, then serve a query panel from a fresh read — no training
  * and no full-precision corpus in the serving plan.
  *
  * Corpus: the AnnScale generator verbatim (1M deterministic 64-dim
  * vectors; every id % 20000 == 1 is a 0.999-cosine near-copy of
  * id-1). Measured claims:
  *  - CANDIDATE WORK <= IVF's: per query only the nprobe probed
  *    cells' members are scored (printed as a corpus fraction);
  *  - SQ8's FOOTPRINT: the persisted corpus stores array<tinyint> —
  *    the 8x at-rest reduction is visible in the parquet size;
  *  - recall: a 0.999-cosine planted pair survives int8 rounding by
  *    ~3 orders of magnitude, so the only loss channel is coarse
  *    mis-celling (IVF-flat's own channel) — >= 0.95 top-1 recall
  *    over the 50-query panel, by the exact-integer score alone.
  *
  * Usage: runMain graft.tools.IvfSqScale [nVecs]
  *
  * MEASURED (1M vectors, k=32 cells, nprobe=2, local[32], r12 — the
  * cell-PARTITIONED layout): build+write 54.7 s — paid ONCE (k-means
  * training dominates); the index parquet is 61 MB vs 512 MB for the
  * same vectors as float64 (8.4x); SERVING the 50-query panel from a
  * fresh read is 6.1 s end to end (recall accounting included), and
  * the serve-only sweep shows cost ∝ probed cells: 2.3 s at nprobe=2
  * vs 4.4 s at nprobe=8 — partition pruning holding at 1M (a flat
  * curve would mean the scan silently fell back to whole-index);
  * candidates/query ~63k = 6.3% of the corpus; top-1 recall 50/50.
  * INGEST without retrain: 10k vectors assigned+appended in 3.4 s
  * (batch-proportional — 15x less than the build), post-build
  * vectors served on the next query, per-cell drift reported
  * (uniform batch -> growth ~0.011 everywhere, no skew alarm).
  * DRIFT RESPONSE: splitting the fattest ~31k-member cell in place
  * (local 2-means on ONE partition directory, other cells' files
  * untouched) takes 8.3 s incl. the recall re-check — vs 52.9 s for
  * the whole-index retrain it replaces — and planted top-1 recall
  * stays 50/50 through the post-split table. (The corpus now carries
  * a float norm per row for raw-space reconstruction: 66 MB vs
  * 512 MB float64 — still 7.8x.)
  * IVF x PQ (r17): 8x8-dim product quantization at 1M — codebooks
  * (64 entries each) trained on a 100k deterministic sample in
  * 11.9 s, full-corpus encode via the models' transform in 1.9 s,
  * the 50-query panel served through probe -> reconstructed-cosine
  * candidates (top-40) -> exact re-rank in 2.2 s with top-1 recall
  * 50/50 — at 8 bytes + a float norm per vector (32x vs float32).
  * APPEND ECONOMICS (r13): serve 1.3 s at the build's 2,038 files; a
  * 100-batch upsert storm fragments the corpus to 20,547 files and
  * serve DEGRADES 6x to 8.0 s (the small-file tax is real and
  * measured, not hypothetical); compact() folds every cell to one
  * file (33 total, 44.8 s — maintenance-window work) and serve
  * returns to 1.2 s. delete of the whole 20k storm: 2.5 s,
  * cell-scoped. mergeCell of the smallest cell into its nearest
  * neighbour: 3.3 s (file move + centroid swap, no rewrite), planted
  * top-1 recall 50/50 through the post-merge table.
  *
  * r15 (IMMUTABLE manifest-selected commits; file counts are now LIVE
  * manifest entries — the dirs also retain replaced files until the
  * retention horizon): build+write 29.3 s and the build lands at
  * 66 files, not 2,038 (writeIndex repartitions by cell: one fat file
  * per cell instead of one sliver per training shuffle partition);
  * serve pre-storm 1.8 s; the same 100x200 storm now costs 152.8 s
  * (each batch = one staged corpus commit + one sidecar commit) and
  * fragments to only 3,356 live files (per-batch repartition(cell)
  * bounds appends to one file per touched cell per batch) — serve
  * degrades to 9.7 s; compact folds to 33 files in 26.2 s, serve
  * 1.7 s. delete 20k: 2.9 s cell-scoped. mergeCell is now a RELABEL
  * REWRITE of the folded small cell (immutability forbids the old
  * file move — it would tear pinned readers): 5.4 s, planted top-1
  * recall 50/50 through every post-verb table.
  *
  * r16 (the CAS commit protocol + thread-pooled commit execution
  * underneath every verb — full idle re-run): build+write 60.4 s
  * (includes the k-means fit; index 65 MB vs 512 MB float64); serve
  * pre-storm 1.5 s at 66 files; 100x200 storm 206.5 s; post-storm
  * serve 8.7 s at 3,356 files; compact 26.5 s -> serve 1.2 s at 33
  * files; delete 20k 2.9 s; mergeCell 4.0 s; split 11.3 s; planted
  * top-1 recall 50/50 through EVERY verb. The lifecycle is unchanged
  * in shape and cost under the optimistic-commit machinery.
  */
object IvfSqScale {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Session.driverLocal: the production dialect, one source of truth
    val spark = graft.core.Session.driverLocal(cpus, "graft-scale-tool")
    spark.sparkContext.setLogLevel("WARN")

    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val v = f
      println(f"[ivfsq-scale] $name%-28s sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      v
    }

    val dim = 64
    val k = 32
    val nprobe = 2
    val cid = when(col("vec_id") % 20000 === 1, col("vec_id") - 1).otherwise(col("vec_id"))
    val vec = transform(sequence(lit(0), lit(dim - 1)), j => {
      val h = pmod(xxhash64(cid * dim + j), lit(2000001L))
      val base = (h - 1000000L).cast(DoubleType) / 1000000.0
      base + when(col("vec_id") % 20000 === 1 && j === 3, lit(0.2)).otherwise(lit(0.0))
    })
    def corpusDf = spark.range(nVecs).select(col("id").as("vec_id"))
      .select(col("vec_id"), vec.as("e"))

    val root = Files.createTempDirectory("graft-ivfsq").toString
    time("build+write (shared op)") {
      val (centroids, corpus) = graft.operators.AnnIndex.build(corpusDf, k = k, dim = dim)
      // cell-partitioned layout: serving prunes to the probed cells'
      // directories (AnnIndexSpec asserts it on the physical scan;
      // the nprobe sweep below measures it)
      graft.operators.AnnIndex.writeIndex(centroids, corpus, root)
    }
    val idxBytes = Files.walk(java.nio.file.Paths.get(s"$root/corpus"))
      .filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    println(f"[ivfsq-scale] index parquet bytes=$idxBytes%d (~${idxBytes / 1e6}%.0f MB; " +
      f"float64 equivalent ~${nVecs * dim * 8 / 1e6}%.0f MB)")

    // serving: fresh reads only
    val (cIdx, vIdx) = graft.operators.AnnIndex.openIndex(spark, root)
    val queries = corpusDf.filter(col("vec_id") % 20000 === 1)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
      .localCheckpoint()

    time("serve (probe+score+recall)") {
      val top1 = graft.operators.AnnIndex
        .search(cIdx, vIdx, queries, nprobe = nprobe, topK = 1, dim = dim)
        .localCheckpoint()
      val nQueries = queries.count()
      val hits = top1.filter(col("nid") === col("qid") - 1).count()
      // candidate-work accounting: per-query probed-cell population
      val cellSizes = vIdx.groupBy(col("cell")).agg(count(lit(1)).as("cn"))
      val probed = queries.select(col("qid"), col("qe"))
        .crossJoin(broadcast(cIdx))
        .withColumn("d2",
          aggregate(zip_with(col("qe"), col("centroid"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x))
        .withColumn("pr", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("d2").asc, col("cell").asc)))
        .filter(col("pr") <= nprobe)
        .join(broadcast(cellSizes), Seq("cell"))
        .agg(sum(col("cn")).as("total")).head().getLong(0)
      val perQuery = probed / math.max(1, nQueries)
      println(f"[ivfsq-scale] candidates/query=$perQuery%d " +
        f"(${100.0 * perQuery / nVecs}%.1f%% of corpus) k=$k nprobe=$nprobe")
      val recall = hits.toDouble / nQueries
      println(f"[ivfsq-scale] queries=$nQueries top1-recall=$hits/$nQueries " +
        f"(${recall * 100}%.1f%%)")
      require(recall >= 0.95, f"IVF-SQ8 top-1 recall $recall%.4f below the 0.95 floor")
    }

    // -- r17: IVF x PQ recall point (q_similarity_ivf_pq's geometry at
    // 1M). 8 sub-spaces x 8 dims, 64-entry codebooks trained on a
    // 100k deterministic sample (the standard PQ practice — codebook
    // quality converges long before the full corpus), codes assigned
    // by the trained models' own transform (the optimized MLlib
    // path), candidates ranked by the reconstructed cosine inside the
    // probed cells, exact re-rank of the top-40, top-1 against the
    // planted 0.999-cosine pairs. At-rest: 8 bytes + a float norm per
    // 64-dim vector (32x vs float32).
    {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val nSub = 8
      val subDim = dim / nSub
      val candidateK = 40
      val raw = corpusDf
        .join(vIdx.select(col("vec_id"), col("cell")), Seq("vec_id"))
        .withColumn("nrm", graft.functions.VectorKit.norm(col("e")))
        .localCheckpoint()
      val models = time("PQ train 8x8 codebooks (100k sample)") {
        val sample = raw.sample(withReplacement = false, 100000.0 / nVecs, seed = 7L)
          .localCheckpoint()
        (0 until nSub).map { m =>
          new KMeans().setK(64).setSeed(42L + m).setMaxIter(10).setFeaturesCol("sv")
            .fit(sample.select(
              array_to_vector(slice(col("e"), m * subDim + 1, subDim)).as("sv")))
        }
      }
      val codebooks: Seq[Seq[Seq[Double]]] =
        models.map(_.clusterCenters.toSeq.map(_.toArray.toSeq))
      val coded = time("PQ encode 1M") {
        (0 until nSub).foldLeft(raw) { (df, m) =>
          models(m).transform(
            df.withColumn("sv", array_to_vector(slice(col("e"), m * subDim + 1, subDim))))
            .withColumnRenamed("prediction", s"c$m").drop("sv")
        }.select((Seq(col("vec_id"), col("cell"), col("nrm")) ++
          (0 until nSub).map(m => col(s"c$m"))): _*)
          .localCheckpoint()
      }
      time("PQ serve 50 queries + recall") {
        val recon = flatten(array((0 until nSub).map(m =>
          element_at(typedLit(codebooks(m)), col(s"c$m") + 1)): _*))
        val w = org.apache.spark.sql.expressions.Window
        val probeDf = queries
          .crossJoin(broadcast(cIdx))
          .withColumn("d2",
            aggregate(zip_with(col("qe"), col("centroid"), (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, x) => acc + x))
          .withColumn("pr", row_number().over(
            w.partitionBy(col("qid")).orderBy(col("d2").asc, col("cell").asc)))
          .filter(col("pr") <= nprobe)
          .select(col("qid"), col("cell"))
        val cand = coded
          .join(broadcast(probeDf), Seq("cell"))
          .join(broadcast(queries), Seq("qid"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("nid"),
            (graft.functions.VectorKit.dot(col("qe"), recon) / col("nrm")).as("pscore"))
          .withColumn("crk", row_number().over(
            w.partitionBy(col("qid")).orderBy(col("pscore").desc, col("nid").asc)))
          .filter(col("crk") <= candidateK)
          .select(col("qid"), col("nid"))
        val reranked = raw.select(col("vec_id").as("nid"), col("e"), col("nrm"))
          .join(broadcast(cand), Seq("nid"))
          .join(broadcast(queries), Seq("qid"))
          .select(col("qid"), col("nid"),
            (graft.functions.VectorKit.dot(col("qe"), col("e")) / col("nrm")).as("cos"))
          .withColumn("rk", row_number().over(
            w.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)))
          .filter(col("rk") === 1)
        val nQ = queries.count()
        val hits = reranked.filter(col("nid") === col("qid") - 1).count()
        println(f"[ivfsq-scale] PQ top1-recall=$hits/$nQ (8 bytes+norm/vector, " +
          f"candidates<=cells' members, candidateK=$candidateK)")
        require(hits.toDouble / nQ >= 0.95,
          f"IVF-PQ top-1 recall ${hits.toDouble / nQ}%.4f below the 0.95 floor")
      }
    }

    // serve cost ∝ probed cells: with the cell-partitioned layout,
    // quadrupling nprobe quadruples the candidate set AND the files
    // read — a flat curve here would mean pruning quietly broke and
    // the scan went back to whole-index
    for (np <- Seq(nprobe, 4 * nprobe)) {
      time(f"serve sweep nprobe=$np%-2d") {
        graft.operators.AnnIndex
          .search(cIdx, vIdx, queries, nprobe = np, topK = 1, dim = dim)
          .write.mode("overwrite").format("noop").save()
      }
    }

    // ingest WITHOUT retrain: a 10k batch assigned to the existing
    // centroids and APPENDED — only touched cell dirs gain files; cost
    // is batch-proportional (vs the 1M-row build above). The batch
    // reuses the corpus recipe at fresh ids, so post-build vectors are
    // genuine family members the next serve can find.
    val newBase = nVecs + 1000000L
    time("upsert 10k (no retrain)") {
      val batch = spark.range(newBase, newBase + 10000L).select(col("id").as("vec_id"))
        .select(col("vec_id"), vec.as("e"))
      val admitted = graft.operators.AnnIndex.upsert(root, batch, dim = dim)
      require(admitted == 10000L, s"upsert admitted $admitted of 10000")
    }
    time("post-upsert serve + drift") {
      val (c2, v2) = graft.operators.AnnIndex.openIndex(spark, root)
      require(v2.count() == nVecs + 10000L, "post-upsert corpus count")
      val q2 = spark.range(newBase, newBase + 50L).select(col("id").as("vec_id"))
        .select(col("vec_id").as("qid"), vec.as("qe"))
      // the batch recipe plants id newBase+1 as a 0.999-cosine copy of
      // newBase (both post-build): its top-1 must be a NEW id
      val found = graft.operators.AnnIndex
        .search(c2, v2, q2, nprobe = nprobe, topK = 5, dim = dim)
        .filter(col("nid") >= newBase).count()
      println(s"[ivfsq-scale] post-build neighbors served: $found rows reference new ids")
      require(found >= 1, "no post-build vector was ever served")
      val d = graft.operators.AnnIndex.drift(spark, root)
        .orderBy(col("growth").desc).limit(3).collect()
      d.foreach(r => println(f"[ivfsq-scale] drift cell=${r.getAs[Int]("cell")}%-3d " +
        f"n_build=${r.getAs[Long]("n_build")}%d n_now=${r.getAs[Long]("n_now")}%d " +
        f"growth=${r.getAs[Double]("growth")}%.4f"))
    }

    // drift response: split the fattest cell IN PLACE — a local
    // 2-means over one ~30k-member partition directory, not a 1M-row
    // retrain; serving afterwards keeps full planted recall
    time("split fattest cell (local)") {
      val fat = graft.operators.AnnIndex.drift(spark, root)
        .orderBy(col("n_now").desc).head.getAs[Int]("cell")
      val nc = graft.operators.AnnIndex.splitCell(root, fat, dim = dim)
      require(nc == k, s"split produced cell $nc, expected $k")
      val (c3, v3) = graft.operators.AnnIndex.openIndex(spark, root)
      require(c3.count() == k + 1 && v3.count() == nVecs + 10000L, "post-split table shape")
      val hits = graft.operators.AnnIndex
        .search(c3, v3, queries, nprobe = nprobe, topK = 1, dim = dim)
        .filter(col("nid") === col("qid") - 1).count()
      println(s"[ivfsq-scale] post-split top1-recall=$hits/${queries.count()}")
      require(hits >= (queries.count() * 0.95).toLong, "post-split recall floor")
    }

    // ------------------------------------------------------------------
    // APPEND ECONOMICS (the small-file story): every upsert batch adds
    // one file set per touched cell, so 100 small batches fragment the
    // directories ~100x and the serve-side file-open/task overhead
    // degrades with them; compact() folds each cell back to one file
    // under the committed-stage swap and serve latency returns to the
    // pre-storm line. Measured so the claim "flat after storm+compact
    // vs degrading without" is a number, not a doc comment.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // LIVE file count = the committed manifest's entries (what serving
    // actually opens); the directory also holds replaced files awaiting
    // the retention horizon, which are cost-free to readers
    def corpusFiles(): Long =
      graft.table.Snapshot.latest(fs, s"$root/corpus").map(_.entries.size.toLong)
        .getOrElse {
          val it = Files.walk(java.nio.file.Paths.get(s"$root/corpus"))
          try it.filter(_.toString.endsWith(".parquet")).count() finally it.close()
        }
    def serveSec(tag: String): Double = {
      val (c, v) = graft.operators.AnnIndex.openIndex(spark, root)
      val t0 = System.nanoTime()
      graft.operators.AnnIndex.search(c, v, queries, nprobe = nprobe, topK = 1, dim = dim)
        .write.mode("overwrite").format("noop").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[ivfsq-scale] serve[$tag%-12s] sec=$s%.1f files=${corpusFiles()}%d")
      s
    }
    val preStorm = serveSec("pre-storm")
    val stormBase = newBase + 1000000L
    time("upsert storm (100 x 200)") {
      for (i <- 0 until 100) {
        val b0 = stormBase + i * 200L
        val batch = spark.range(b0, b0 + 200L).select(col("id").as("vec_id"))
          .select(col("vec_id"), vec.as("e"))
        graft.operators.AnnIndex.upsert(root, batch, dim = dim)
      }
    }
    val postStorm = serveSec("post-storm")
    time("compact every fragmented cell") {
      val cells = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/corpus"))
        .filter(_.isDirectory).map(_.getPath.getName)
        .collect { case n if n.startsWith("cell=") => n.stripPrefix("cell=").toInt }
      cells.foreach { c =>
        val (b, a) = graft.operators.AnnIndex.compact(root, c)
        if (b > 1) require(a == 1, s"compact($c) left $a files")
      }
    }
    val postCompact = serveSec("post-compact")
    println(f"[ivfsq-scale] serve sec pre-storm=$preStorm%.1f " +
      f"post-storm=$postStorm%.1f post-compact=$postCompact%.1f")
    require(corpusFiles() <= k + 2L,
      "compaction did not fold the storm's append files")
    locally { // the storm's rows all survived the compaction
      val (_, v) = graft.operators.AnnIndex.openIndex(spark, root)
      require(v.count() == nVecs + 10000L + 20000L, "post-compact corpus count")
    }

    // DELETE at scale: retract the whole storm (20k ids) — discovery is
    // one (vec_id, cell) column-pruned scan, the rewrite touches only
    // the cells holding the ids (here: all, after the uniform storm),
    // each through the committed-stage swap.
    time("delete 20k (cell-scoped)") {
      import spark.implicits._
      val ids = spark.range(stormBase, stormBase + 20000L)
        .select(col("id").as("vec_id"))
      val n = graft.operators.AnnIndex.delete(root, ids)
      require(n == 20000L, s"delete retracted $n of 20000")
    }
    locally {
      val (c4, v4) = graft.operators.AnnIndex.openIndex(spark, root)
      require(v4.count() == nVecs + 10000L, "post-delete corpus count")
      require(v4.filter(col("vec_id") >= stormBase).count() == 0L, "storm ids still served")
    }

    // MERGE: fold the smallest cell into its nearest neighbour — a file
    // MOVE plus a centroid-table swap, no rewrite — and require planted
    // recall to hold through the post-merge table.
    time("merge smallest cell") {
      val small = graft.operators.AnnIndex.drift(spark, root)
        .orderBy(col("n_now").asc).head.getAs[Int]("cell")
      val dst = graft.operators.AnnIndex.mergeCell(root, small)
      println(s"[ivfsq-scale] merged cell=$small into cell=$dst")
      val (c5, v5) = graft.operators.AnnIndex.openIndex(spark, root)
      require(c5.count() == k && v5.count() == nVecs + 10000L, "post-merge table shape")
      val hits = graft.operators.AnnIndex
        .search(c5, v5, queries, nprobe = nprobe, topK = 1, dim = dim)
        .filter(col("nid") === col("qid") - 1).count()
      println(s"[ivfsq-scale] post-merge top1-recall=$hits/${queries.count()}")
      require(hits >= (queries.count() * 0.95).toLong, "post-merge recall floor")
    }
    spark.stop()
  }
}
