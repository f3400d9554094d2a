package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.{Media, MonteCarlo, TextKit, VectorKit}
import graft.operators.{Graph, GraphPaths}

class OperatorsSpec extends AnyFunSuite with Matchers with SparkSessionSetup {

  test("Graph.transitiveClosure computes full ancestry of a chain") {
    import spark.implicits._
    // chain 4 -> 3 -> 2 -> 1
    val edges = Seq((4L, 3L), (3L, 2L), (2L, 1L)).toDF("child", "parent")
    val closure = Graph.transitiveClosure(edges)
      .as[(Long, Long)].collect().toSet
    closure shouldBe Set(
      (4L, 3L), (4L, 2L), (4L, 1L),
      (3L, 2L), (3L, 1L),
      (2L, 1L)
    )
  }

  test("the driver and distributed closures agree on a multi-parent DAG") {
    import spark.implicits._
    // parents of k: k div 2 and k div 3 — overlap-heavy, re-derivations
    // exercise the distributed anti-join dedup and its two-sided delta
    // composition
    val edges = (2 to 200).map(k => (k.toLong, (k / 2).toLong))
      .concat((3 to 200).map(k => (k.toLong, (k / 3).toLong)))
      .toDF("child", "parent")
    val onDriver = Graph.transitiveClosure(edges)
    GraphPaths.onDriver(onDriver) shouldBe true
    val driver = onDriver.as[(Long, Long)].collect().toSet
    val distributed = GraphPaths.distributed(edges).as[(Long, Long)].collect().toSet
    driver shouldBe distributed
    driver.size should be > 200 // sanity: closure strictly larger than edge set
  }

  test("both closure paths and rootPaths throw rather than return a truncated result") {
    import spark.implicits._
    // chain of depth 8; one round cannot finish it. A silent return
    // here would be a WRONG closure with no error — the guard must be
    // the same on the driver walk, the distributed loop and rootPaths.
    val edges = (2 to 9).map(k => (k.toLong, k - 1L)).toDF("child", "parent")
    GraphPaths.onDriver(Graph.transitiveClosure(edges)) shouldBe true
    an[IllegalStateException] should be thrownBy
      Graph.transitiveClosure(edges, maxRounds = 1).count()
    an[IllegalStateException] should be thrownBy
      GraphPaths.distributed(edges, maxRounds = 1).count()
    an[IllegalStateException] should be thrownBy
      Graph.rootPaths(edges, maxDepth = 2).count()
    // and the guard is BOUNDARY-exact, not early: maxRounds == 3 ==
    // ceil(log2(8)) completes the depth-8 closure on its final
    // permitted round (the convergence check never runs), and the
    // probe must recognize completeness rather than throw
    Graph.transitiveClosure(edges, maxRounds = 3).count() shouldBe 36
    GraphPaths.distributed(edges, maxRounds = 3).count() shouldBe 36
    Graph.transitiveClosure(edges, maxRounds = 4).count() shouldBe 36
    GraphPaths.distributed(edges, maxRounds = 4).count() shouldBe 36
  }

  test("the driver closure gives the distributed closure's rows and schema on seeded graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(12)
    val random = Seq.fill(150)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val chains = for (c <- 0L until 3L; i <- 0L until 7L) yield (c * 100 + i, c * 100 + i + 1)
    val graphs: Seq[(String, DataFrame, Boolean)] = Seq(
      ("chains", chains.toDF("child", "parent"), true),
      ("binary tree", (2L to 63L).map(k => (k, k / 2)).toDF("child", "parent"), true),
      ("div2/div3 DAG", (2L to 120L).flatMap(k => Seq((k, k / 2), (k, k / 3))).filter(_._2 > 0)
        .toDF("child", "parent"), true),
      ("cycles and self-loops", Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 5L), (6L, 5L),
        (7L, 8L), (8L, 7L)).toDF("child", "parent"), true),
      ("seeded random graph", random.toDF("child", "parent"), true),
      ("duplicate edges", (chains ++ chains ++ chains.take(5)).toDF("child", "parent"), true),
      ("null endpoints", Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(2L), None),
        (None, Some(3L)), (Some(3L), Some(4L)), (Some(4L), None), (None, None), (Some(5L), None))
        .toDF("child", "parent"), true),
      ("string keys", random.map { case (c, p) => (s"n$c", s"n$p") }.toDF("child", "parent"), true),
      ("int child, long parent", random.map { case (c, p) => (c.toInt, p) }.toDF("child", "parent"),
        false),
      ("double keys", random.map { case (c, p) => (c * 0.5, p * 0.5) }.toDF("child", "parent"),
        false),
      ("collated string keys", random.map { case (c, p) => (s"N$c", s"n$p") }.toDF("c", "p")
        .select(collate(col("c"), "UTF8_LCASE").as("child"), collate(col("p"), "UTF8_LCASE")
          .as("parent")), false))
    for ((name, edges, driverPath) <- graphs) withClue(s"$name: ") {
      val closure = Graph.transitiveClosure(edges)
      val distributed = GraphPaths.distributed(edges)
      GraphPaths.onDriver(closure) shouldBe driverPath
      closure.schema shouldBe distributed.schema
      closure.collect().toSet shouldBe distributed.collect().toSet
      closure.count() shouldBe closure.distinct().count()
      distributed.count() shouldBe distributed.distinct().count()
    }
  }

  test("a driver walk that passes the pair cap falls back and returns the full closure") {
    import spark.implicits._
    // a depth-8 chain closes to 36 pairs
    val edges = (2 to 9).map(k => (k.toLong, k - 1L)).toDF("child", "parent")
    val full = Graph.transitiveClosure(edges).as[(Long, Long)].collect().toSet
    full should have size 36
    val atCap = GraphPaths.capped(edges, maxEdges = 8, maxPairs = 36)
    GraphPaths.onDriver(atCap) shouldBe true
    for (capped <- Seq(GraphPaths.capped(edges, maxEdges = 8, maxPairs = 35),
                       GraphPaths.capped(edges, maxEdges = 7, maxPairs = 36))) {
      GraphPaths.onDriver(capped) shouldBe false
      capped.as[(Long, Long)].collect().toSet shouldBe full
    }
  }

  test("a closure under the gate runs at most 2 Spark jobs, the caller's count() included") {
    // a scan that needs a job: the gate collects it in one; the one-
    // partition result counts in another, with no exchange
    val edges = spark.range(2, 400).select(col("id").as("child"), expr("id div 2").as("parent"))
    var pairs = 0L
    jobsOf { pairs = Graph.transitiveClosure(edges).count() } should be <= 2
    pairs shouldBe (2L until 400L).map(k => 63 - java.lang.Long.numberOfLeadingZeros(k)).sum
  }

  test("MinHashLsh finds the near-dup pair and rejects the distinct docs") {
    import spark.implicits._
    import graft.operators.MinHashLsh
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "the quick brown fox jumps over the lazy dog tonight maybe"), // near-dup of 1
      (3L, "completely different words in this document about spark sql"),
      (4L, "short doc") // below shingle length: dropped in prepare
    ).toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.TextKit.tokens(col("text")).as("w"))
    val prepared = MinHashLsh.prepare(docs, "doc_id", "w")
    prepared.select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L)
    val cand = MinHashLsh.candidates(prepared, "doc_id")
    val verified = MinHashLsh.verify(prepared, cand, "doc_id", tau = 0.5)
      .select(col("d1"), col("d2")).as[(Long, Long)].collect().toSet
    verified shouldBe Set((1L, 2L))
  }

  test("KmvSketch estimate is exact below k and partition-invariant above") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    import graft.functions.KmvSketch
    val kmv = udaf(new KmvSketch(16, graft.functions.TextKit.HashP), Encoders.scalaLong)
    // below k: estimate == exact distinct count, duplicates ignored
    val small = Seq(5L, 9L, 5L, 123L, 9L).toDF("h")
    small.agg(kmv(col("h"))).as[Double].head() shouldBe 3.0
    // above k: the merge path (8 partitions) must be bit-identical to
    // the single-partition sequential fold — sorted-merge-take-k is
    // exact, unlike a lossy sketch union
    val big = (1 to 5000).map(i => (i * 2654435761L) % 2147483647L).toDF("h")
    val one = big.repartition(1).agg(kmv(col("h"))).as[Double].head()
    val eight = big.repartition(8).agg(kmv(col("h"))).as[Double].head()
    eight shouldBe one
    // sanity: within 30% of the true distinct count at k=16
    one should be (5000.0 +- 1500.0)
  }

  test("chunk-window math: boundary token counts produce the documented chunk counts") {
    import spark.implicits._
    import graft.queries.TextQueries
    // the PRODUCTION chunk-count expression (TextQueries.chunkCount,
    // W=16/S=12) at the boundaries a fixture-driven oracle may never
    // hit, against an independent scalar formula
    val W = TextQueries.ChunkW
    val S = TextQueries.ChunkS
    def nc(n: Int): Int = if (n <= W) 1 else math.ceil((n - W).toDouble / S).toInt + 1
    nc(0) shouldBe 1      // empty doc: one empty chunk
    nc(W) shouldBe 1      // exactly one window
    nc(W + 1) shouldBe 2  // one token past: second (overlapping) window
    nc(W + S) shouldBe 2  // second window exactly full
    nc(W + S + 1) shouldBe 3
    val df = Seq(0, 1, W - 1, W, W + 1, W + S, W + S + 1, 40, 100)
      .map(n => (n, Seq.fill(n)("t"))).toDF("n", "toks")
    val got = df.select(col("n"), TextQueries.chunkCount(col("toks")).as("nc"))
      .as[(Int, Int)].collect().toMap
    got.foreach { case (n, v) => v shouldBe nc(n) }
  }

  test("PrefixSum.runningSum matches the sequential prefix sum across partitions") {
    import spark.implicits._
    import graft.operators.PrefixSum
    val df = Seq((3L, 5L), (1L, 2L), (2L, 7L), (5L, 1L), (4L, 4L)).toDF("k", "n")
    val out = PrefixSum.runningSum(df, Seq(col("k").asc), "n", "cum", numPartitions = 3)
      .select(col("k"), col("cum")).as[(Long, Long)].collect().toMap
    out shouldBe Map(1L -> 2L, 2L -> 9L, 3L -> 14L, 4L -> 18L, 5L -> 19L)
  }

  test("PrefixSum.runningSum rejects a non-Long value column at the API boundary") {
    import spark.implicits._
    import graft.operators.PrefixSum
    // an Int value column used to surface as a ClassCastException deep
    // inside a task (the fold reads with getLong); now it fails fast
    // with the column name and the required cast in the message
    val df = Seq((1L, 2), (2L, 3)).toDF("k", "n")
    val e = the[IllegalArgumentException] thrownBy
      PrefixSum.runningSum(df, Seq(col("k").asc), "n", "cum")
    e.getMessage should include ("'n' must be LongType")
    e.getMessage should include ("int")
  }

  test("Graph.ancestorsPerNode aggregates sorted ancestor lists") {
    import spark.implicits._
    val edges = Seq((3L, 2L), (2L, 1L)).toDF("child", "parent")
    val rows = Graph.ancestorsPerNode(edges).as[(Long, Seq[Long])].collect().toMap
    rows(3L) shouldBe Seq(1L, 2L)
    rows(2L) shouldBe Seq(1L)
  }

  test("AsOfJoin.leftAsOf picks the latest right row at-or-before, inclusive") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    val left = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (2L, 5L, "l3")).toDF("k", "t", "lv")
    val right = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (3L, 1L, "r1")).toDF("k", "t", "rv")
    val out = AsOfJoin.leftAsOf(left, right, Seq("k"), "t", "t")
      .select(col("lv"), col("matched").getField("rv").as("rv"))
      .as[(String, Option[String])].collect().toMap
    out("l1") shouldBe Some("r10") // same-instant right row matches (inclusive)
    out("l2") shouldBe Some("r15") // latest at-or-before
    out("l3") shouldBe None        // no right row for key 2
  }

  test("ConnectedComponents.labels finds transitive min-label components") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // components: {1,2,3} (chain), {7,9}, singleton edges only
    val edges = Seq((2L, 1L), (3L, 2L), (9L, 7L)).toDF("a", "b")
    val out = ConnectedComponents.labels(edges).as[(Long, Long)].collect().toMap
    out(1L) shouldBe 1L
    out(2L) shouldBe 1L
    out(3L) shouldBe 1L
    out(7L) shouldBe 7L
    out(9L) shouldBe 7L
  }

  test("StarContraction.labels matches propagation on shallow graphs") {
    import spark.implicits._
    import graft.operators.{ConnectedComponents, StarContraction}
    // mixed shapes: chain {1,2,3}, pair {7,9}, triangle {10,11,12}
    // with a bridge to {13}
    val edges = Seq(
      (2L, 1L), (3L, 2L), (9L, 7L),
      (10L, 11L), (11L, 12L), (12L, 10L), (12L, 13L)).toDF("a", "b")
    val star = StarContraction.labels(edges).as[(Long, Long)].collect().toMap
    val prop = ConnectedComponents.labels(edges).as[(Long, Long)].collect().toMap
    star shouldBe prop
    star(13L) shouldBe 10L
  }

  test("StarContraction.labels is boundary-exact at maxRounds exhaustion") {
    import spark.implicits._
    import graft.operators.StarContraction
    // root-first star edges rewrite to the canonical fixpoint in
    // exactly ONE round, so maxRounds = 1 exhausts with changed=true
    // on an already-stable set — the confirming probe must return the
    // correct labels, not throw
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val out = StarContraction.labels(edges, maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    out shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    // a genuinely unconverged graph at the same bound must still throw
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    an[IllegalStateException] should be thrownBy
      StarContraction.labels(chain, maxRounds = 1).count()
  }

  test("StarContraction.labels handles diameters far beyond propagation reach") {
    import spark.implicits._
    import graft.operators.{ConnectedComponents, StarContraction}
    // two chains of diameter 1000 — O(log n) alternations for star
    // contraction; min-label propagation's boundary-exact guard must
    // THROW at maxRounds = 20 on the same input
    val chain = (0L until 1000L).map(i => (i, i + 1)) ++
      (5000L until 6000L).map(i => (i, i + 1))
    val edges = chain.toDF("a", "b")
    val out = StarContraction.labels(edges).as[(Long, Long)].collect()
    out.length shouldBe 2002
    out.filter(_._1 <= 1000L).map(_._2).distinct shouldBe Array(0L)
    out.filter(_._1 >= 5000L).map(_._2).distinct shouldBe Array(5000L)
    an[IllegalStateException] should be thrownBy
      ConnectedComponents.labels(edges, maxRounds = 20).count()
  }

  test("RangeJoin.pointInInterval pairs points with containing intervals") {
    import spark.implicits._
    import java.sql.Timestamp
    import graft.operators.RangeJoin
    def ts(h: Int) = new Timestamp(h * 3600000L)
    val points = Seq((1L, ts(1)), (2L, ts(5)), (3L, ts(10))).toDF("pid", "t")
    val ivs = Seq(("a", ts(0), ts(6)), ("b", ts(4), ts(11)), ("c", ts(20), ts(21)))
      .toDF("iv", "s", "e")
    val out = RangeJoin.pointInInterval(points, "t", ivs, "s", "e", binSeconds = 3600)
      .select("iv", "pid").as[(String, Long)].collect().toSet
    out shouldBe Set(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L))
  }

  test("Graph.descendantsPerNode reverses the closure") {
    import spark.implicits._
    val edges = Seq((3L, 2L), (2L, 1L)).toDF("child", "parent")
    val rows = Graph.descendantsPerNode(edges).as[(Long, Seq[Long])].collect().toMap
    rows(1L) shouldBe Seq(2L, 3L)
    rows(2L) shouldBe Seq(3L)
  }

  test("Graph.nodeDocument builds all four relation lists in one pass") {
    import spark.implicits._
    // diamond: 4 -> {2, 3} -> 1
    val edges = Seq((4L, 2L), (4L, 3L), (2L, 1L), (3L, 1L)).toDF("child", "parent")
    val docs = Graph.nodeDocument(edges)
      .as[(Long, Seq[Long], Seq[Long], Seq[Long], Seq[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // (ancestors, descendants, children, parents)
    docs(1L) shouldBe ((Seq(), Seq(2L, 3L, 4L), Seq(2L, 3L), Seq()))
    docs(2L) shouldBe ((Seq(1L), Seq(4L), Seq(4L), Seq(1L)))
    docs(4L) shouldBe ((Seq(1L, 2L, 3L), Seq(), Seq(), Seq(2L, 3L)))
  }

  test("Graph.rootPaths finds every child-first path to a root") {
    import spark.implicits._
    // diamond: 4 -> {2, 3} -> 1
    val edges = Seq((4L, 2L), (4L, 3L), (2L, 1L), (3L, 1L)).toDF("child", "parent")
    val paths = Graph.rootPaths(edges).as[(Long, Seq[Long])].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    paths(4L) shouldBe Set(Seq(4L, 2L, 1L), Seq(4L, 3L, 1L))
    paths(2L) shouldBe Set(Seq(2L, 1L))
  }

  test("ColumnKit.saltedSum matches the direct aggregate") {
    import spark.implicits._
    import graft.functions.ColumnKit
    val df = (1L to 1000L).map(i => (i % 3, i, i * 0.5)).toDF("k", "row_id", "v")
    val direct = df.groupBy("k")
      .agg(sum(col("v").cast("decimal(18,4)")).cast("decimal(38,2)").cast("double").as("sum_v"))
      .as[(Long, Double)].collect().toMap
    val salted = ColumnKit.saltedSum(df, Seq("k"), "v", saltFrom = "row_id", salts = 8)
      .as[(Long, Double)].collect().toMap
    salted shouldBe direct
  }

  test("ColumnKit.castArrayToStruct casts anonymous structs to a schema") {
    import spark.implicits._
    import graft.functions.ColumnKit
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", StringType), StructField("n", LongType)))
    val df = Seq(Tuple1(Seq(("a", 1)))).toDF("xs")
      .select(transform(col("xs"), x =>
        struct(x.getField("_1").as("id"), x.getField("_2").as("n"))).as("xs"))
      .select(ColumnKit.castArrayToStruct(col("xs"), schema).as("xs"))
    df.schema.fields.head.dataType shouldBe ArrayType(schema)
    df.select(explode(col("xs")).as("x")).select("x.id", "x.n")
      .as[(String, Long)].head shouldBe ("a", 1L)
  }

  test("Word2Vec model save/load round-trips (ML sink/source)") {
    import spark.implicits._
    import graft.functions.EmbeddingModel
    val corpus = Seq(Seq("a", "b", "c"), Seq("a", "c", "d")).toDF("tokens")
    val model = EmbeddingModel.train(corpus, "tokens", vectorSize = 4, windowSize = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-w2v").toString
    model.write.overwrite().save(s"$dir/m")
    val back = org.apache.spark.ml.feature.Word2VecModel.load(s"$dir/m")
    back.getVectors.count() shouldBe model.getVectors.count()
  }

  test("TextKit.charHash matches a reference fold") {
    import spark.implicits._
    val got = Seq("ab").toDF("s").select(TextKit.charHash(col("s"))).head.getLong(0)
    got shouldBe (97L * 31 + 98) % TextKit.HashP
  }

  test("TextKit.shingles produces distinct space-joined n-grams") {
    import spark.implicits._
    val got = Seq(Seq("a", "b", "c", "a", "b", "c")).toDF("w")
      .select(TextKit.shingles(col("w"), 3).as("s")).as[Seq[String]].head
    got should contain theSameElementsAs Seq("a b c", "b c a", "c a b")
  }

  test("TextKit.shinglesKernel matches the pure-column shingles") {
    import spark.implicits._
    val df = Seq(Seq("a", "b", "c", "a", "b", "c", "d")).toDF("w")
    val colVersion = df.select(TextKit.shingles(col("w"), 3).as("s")).as[Seq[String]].head
    val kernel = df.select(TextKit.shinglesKernel(3)(col("w")).as("s")).as[Seq[String]].head
    kernel.toSet shouldBe colVersion.toSet
    // short inputs produce empty, not an error
    Seq(Seq("a", "b")).toDF("w")
      .select(TextKit.shinglesKernel(3)(col("w"))).as[Seq[String]].head shouldBe empty
  }

  test("TextKit.minhashSignature is a per-permutation minimum") {
    import spark.implicits._
    val hashes = Seq(Seq(5L, 11L, 23L)).toDF("hs")
    val sig = hashes.select(TextKit.minhashSignature(col("hs"), 8).as("sig"))
      .as[Seq[Long]].head
    sig should have length 8
    val (a, b) = TextKit.permCoefficients(8)
    val expected = (0 until 8).map(i => Seq(5L, 11L, 23L).map(h => (a(i) * h + b(i)) % TextKit.HashP).min)
    sig shouldBe expected
  }

  test("TextKit.minhashBands matches the pure-column signature path") {
    import spark.implicits._
    val hs = Seq(5L, 11L, 23L, 999L)
    val sigCol = Seq(hs).toDF("hs")
      .select(TextKit.minhashSignature(col("hs"), 8).as("sig")).as[Seq[Long]].head
    val bandsUdf = Seq(hs).toDF("hs")
      .select(TextKit.minhashBands(8, 2)(col("hs")).as("b")).as[Seq[Long]].head
    val expected = (0 until 4).map { j =>
      var acc = 1125899906842597L
      acc = acc * 31 + sigCol(2 * j)
      acc * 31 + sigCol(2 * j + 1)
    }
    bandsUdf shouldBe expected
  }

  test("TextKit.sortedIntersectCount merges sorted arrays") {
    import spark.implicits._
    val df = Seq((Seq("a", "b", "c", "e"), Seq("b", "c", "d"))).toDF("x", "y")
    df.select(TextKit.sortedIntersectCount(col("x"), col("y"))).head.getInt(0) shouldBe 2
  }

  test("VectorKit.cosine of identical vectors is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 2.0))).toDF("a", "b", "c")
    val r = df.select(
      VectorKit.cosine(col("a"), col("b")).as("same"),
      VectorKit.cosine(col("a"), col("c")).as("orth")
    ).head
    r.getDouble(0) shouldBe 1.0 +- 1e-12
    r.getDouble(1) shouldBe 0.0 +- 1e-12
  }

  test("VectorKit.hyperplaneBucket is deterministic and within range") {
    import spark.implicits._
    val planes = VectorKit.randomSignPlanes(numPlanes = 4, dim = 3)
    val df = Seq(Seq(1.0, -2.0, 0.5), Seq(1.0, -2.0, 0.5)).toDF("v")
    val buckets = df.select(VectorKit.hyperplaneBucket(col("v"), planes)).collect().map(_.getLong(0))
    buckets(0) shouldBe buckets(1)
    buckets(0) should (be >= 0L and be < 16L)
  }

  test("VectorKit corpus-scaled planes: prefix property, integer ladder, gated bucket") {
    import spark.implicits._
    // prefix property: a larger plane budget only APPENDS planes — the
    // corpus-scaled signature relies on this to keep small corpora
    // bit-identical to the historical fixed-k signature
    val big = VectorKit.randomSignPlanes(VectorKit.SemDedupMaxPlanes, dim = 64)
    val small = VectorKit.randomSignPlanes(4, dim = 64)
    big.take(4).map(_.toSeq).toSeq shouldBe small.map(_.toSeq).toSeq
    // integer ladder: smallest p with n <= 64*2^p, clamped to [4, 24]
    val cases = Seq(0L -> 4, 500L -> 4, 1024L -> 4, 1025L -> 5, 2000L -> 5,
      1000000L -> 14, (64L << 24) -> 24, Long.MaxValue -> 24)
    val ladder = cases.toDF("n", "expect")
      .withColumn("np", VectorKit.planeCount(col("n"), VectorKit.SemDedupTarget,
        VectorKit.SemDedupMinPlanes, VectorKit.SemDedupMaxPlanes))
      .collect()
    ladder.foreach(r => withClue(s"n=${r.getLong(0)}: ")(r.getInt(2) shouldBe r.getInt(1)))
    // SQL mirror is generated from the same ladder definition
    val sql = VectorKit.planeCountSql("n", 64L, 4, 24)
    sql should include("WHEN n <= 1024 THEN 4")
    sql should include(s"WHEN n <= ${64L << 23} THEN 23")
    sql should include("ELSE 24 END")
    // gated bucket at np = k equals the fixed k-plane bucket
    val vecs = Seq.tabulate(8)(i => Seq.tabulate(64)(j => math.sin(i * 64 + j + 1))).toDF("v")
    val fixed = vecs.select(VectorKit.hyperplaneBucket(col("v"), small).as("b"))
    val gated = vecs.select(
      VectorKit.hyperplaneBucketScaled(col("v"), big, lit(4)).as("b"))
    fixed.collect().map(_.getLong(0)).toSeq shouldBe gated.collect().map(_.getLong(0)).toSeq
  }

  test("MonteCarlo.criticalValue is deterministic in the seed and positive") {
    val v1 = MonteCarlo.criticalValue(100, 50, Seq(100L, 200L, 300L), 1000, 0.95, seed = 7L)
    val v2 = MonteCarlo.criticalValue(100, 50, Seq(100L, 200L, 300L), 1000, 0.95, seed = 7L)
    val v3 = MonteCarlo.criticalValue(100, 50, Seq(100L, 200L, 300L), 1000, 0.95, seed = 8L)
    v1 shouldBe v2
    v1 should be > 0.0
    // different seed gives a (almost surely) different estimate
    v1 should not be v3
  }

  test("seeded sample is reproducible and near the target fraction") {
    // §2.2 random sampling (reference openfda/stage/StratifiedSampling
    // .scala:32-33)
    val df = spark.range(10000)
    val a = df.sample(withReplacement = false, 0.1, seed = 42).count()
    val b = df.sample(withReplacement = false, 0.1, seed = 42).count()
    a shouldBe b
    a.toDouble shouldBe 1000.0 +- 200.0
  }

  test("repartitionByRange yields range-disjoint partitions") {
    // §2.6 (reference backend/Interaction.scala:440)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max, min, spark_partition_id}
    val ranges = spark.range(0, 1000)
      .repartitionByRange(4, col("id"))
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").agg(min("id").as("lo"), max("id").as("hi"))
      .orderBy("lo")
      .as[(Int, Long, Long)].collect()
    ranges.length shouldBe 4
    ranges.sliding(2).foreach { case Array((_, _, hi1), (_, lo2, _)) => hi1 should be < lo2 }
  }

  test("Media.extractFeatures parses real container headers per batch") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world", "srcA", "en", 11L), // odd id -> JPEG container
      (2L, "bonjour",     "srcA", "fr", 7L)   // even id -> PNG container
    ).toDF("doc_id", "text", "source", "lang", "n_chars")
    val feats = Media.extractFeatures(Media.fromDocuments(spark, docs))
      .collect().sortBy(_.doc_id)
    feats should have length 2
    val jpeg = feats(0)
    jpeg.format shouldBe "jpeg"
    jpeg.byte_len shouldBe (11L + 15) // SOI+SOF0 header + payload
    jpeg.width shouldBe Media.fixtureWidth(11)
    jpeg.height shouldBe Media.fixtureHeight(11)
    jpeg.n_frames shouldBe (1 + 11 % 16)
    val png = feats(1)
    png.format shouldBe "png"
    png.byte_len shouldBe (7L + 33) // signature+IHDR + payload
    png.width shouldBe Media.fixtureWidth(7)
    png.height shouldBe Media.fixtureHeight(7)
  }

  test("Media.parseHeader reads PNG/JPEG/GIF dimensions and rejects junk") {
    Media.parseHeader(Media.pngContainer(640, 480, Array[Byte](1, 2, 3))) shouldBe
      Some(Media.MediaHeader("png", 640, 480))
    Media.parseHeader(Media.jpegContainer(320, 200, Array[Byte]())) shouldBe
      Some(Media.MediaHeader("jpeg", 320, 200))
    // GIF89a, 13x10 logical screen
    val gif = "GIF89a".getBytes("US-ASCII") ++ Array[Byte](13, 0, 10, 0, 0, 0, 0)
    Media.parseHeader(gif) shouldBe Some(Media.MediaHeader("gif", 13, 10))
    Media.parseHeader("not an image".getBytes) shouldBe None
    Media.parseHeader(Array[Byte]()) shouldBe None
  }

  test("Media GIF block-walker counts frames through real container structure") {
    val gif = Media.gifAnimContainer(64, 48, nFrames = 7, payload = "tail".getBytes)
    Media.countGifFrames(gif) shouldBe 7
    Media.parseHeader(gif) shouldBe Some(Media.MediaHeader("gif", 64, 48))
    // an extension block before the frames must be skipped, not counted
    val withExt = gif.take(13) ++
      Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0) ++ // graphic control ext
      gif.drop(13)
    Media.countGifFrames(withExt) shouldBe 7
    Media.countGifFrames("GIF89a".getBytes) shouldBe 0
    Media.countGifFrames("junk".getBytes) shouldBe 0
    Media.countGifFrames(Media.pngContainer(2, 2, Array[Byte]())) shouldBe 0
  }

  test("Bpe trains deterministic merges and encode reconstructs the word") {
    import graft.functions.Bpe
    val merges = Bpe.train(Seq("low" -> 5L, "lower" -> 2L, "lowest" -> 2L), 10)
    merges.nonEmpty shouldBe true
    // by-value counting + total tie-break: input order never matters
    Bpe.train(Seq("lowest" -> 2L, "low" -> 5L, "lower" -> 2L), 10) shouldBe merges
    val rk = Bpe.ranks(merges)
    for (w <- Seq("low", "lower", "lowest", "slower", "zzz")) {
      // lossless: pieces concatenate back to the word (+ the EOW mark)
      Bpe.encode(w, rk).mkString shouldBe (w + Bpe.Eow)
    }
    // the most frequent word trains all the way to a single piece
    Bpe.encode("low", rk) shouldBe Seq("low" + Bpe.Eow)
    // unmergeable OOV stays at chars + EOW (the oracle's fallback value)
    Bpe.encode("zzz", rk).length shouldBe 4
  }

  test("PNG pixel codec round-trips through a real zlib stream and all five filters") {
    def px(x: Int, y: Int): (Int, Int, Int) =
      (((7 * x + 13 * y + 5) % 256), ((3 * x + 11 * y + 99) % 256), ((x + y * y) % 256))
    // h = 8 >= 5: every filter type (None/Sub/Up/Average/Paeth) is hit
    val w = 9; val h = 8
    val png = Media.pngPixelContainer(w, h, px, "trailing doc text".getBytes("UTF-8"))
    // header parser agrees (the PNG container is genuine)
    Media.parseHeader(png).get shouldBe Media.MediaHeader("png", w, h)
    val (dw, dh, sr, sg, sb, mn, mx) = Media.pngDecodeStats(png).get
    (dw, dh) shouldBe ((w, h))
    val pts = for (y <- 0 until h; x <- 0 until w) yield px(x, y)
    sr shouldBe pts.map(_._1.toLong).sum
    sg shouldBe pts.map(_._2.toLong).sum
    sb shouldBe pts.map(_._3.toLong).sum
    mn shouldBe pts.map(p => p._1 + p._2 + p._3).min
    mx shouldBe pts.map(p => p._1 + p._2 + p._3).max

    // INDEPENDENT decoder agreement: the JDK's own ImageIO reads the
    // container (real CRCs, real zlib) and sees the same pixels — our
    // encoder/decoder pair cannot be wrong in a mutually-cancelling way
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    img.getWidth shouldBe w
    img.getHeight shouldBe h
    for ((x, y) <- Seq((0, 0), (w - 1, h - 1), (4, 5), (2, 7))) {
      val rgb = img.getRGB(x, y)
      val got = (((rgb >> 16) & 0xff), ((rgb >> 8) & 0xff), (rgb & 0xff))
      got shouldBe px(x, y)
    }
  }

  test("pngDecodeStats reads grayscale and RGBA PNGs written by an INDEPENDENT encoder") {
    // the reverse of the ImageIO round-trip above: the JDK encoder
    // writes the container (color types 0 and 6 — layouts our own
    // encoder never produces), our decoder must agree on every stat
    def enc(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val w = 7; val h = 6
    // grayscale: v(x,y) deterministic
    val gray = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      gray.getRaster.setSample(x, y, 0, (17 * x + 31 * y) % 256)
    val (gw, gh, gr, gg, gb, gmn, gmx) = Media.pngDecodeStats(enc(gray)).get
    (gw, gh) shouldBe ((w, h))
    val gv = for (y <- 0 until h; x <- 0 until w) yield (17 * x + 31 * y) % 256
    gr shouldBe gv.map(_.toLong).sum
    gg shouldBe gr; gb shouldBe gr
    gmn shouldBe gv.min * 3; gmx shouldBe gv.max * 3

    // RGBA: alpha varies per pixel and must NOT leak into the stats
    val rgba = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    def px(x: Int, y: Int) = ((5 * x + y) % 256, (x + 9 * y) % 256, (3 * x + 7 * y) % 256)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y)
      val a = (13 * x + 29 * y) % 256
      rgba.setRGB(x, y, (a << 24) | (r << 16) | (g << 8) | b)
    }
    val (aw, ah, ar, ag, ab, amn, amx) = Media.pngDecodeStats(enc(rgba)).get
    (aw, ah) shouldBe ((w, h))
    val pts = for (y <- 0 until h; x <- 0 until w) yield px(x, y)
    ar shouldBe pts.map(_._1.toLong).sum
    ag shouldBe pts.map(_._2.toLong).sum
    ab shouldBe pts.map(_._3.toLong).sum
    amn shouldBe pts.map(p => p._1 + p._2 + p._3).min
    amx shouldBe pts.map(p => p._1 + p._2 + p._3).max
  }

  test("pngDecodeStats rejects hostile blobs without throwing") {
    // fuzz: arbitrary bytes (deterministic LCG), truncated real PNGs
    val png = Media.pngPixelContainer(6, 6, (x, y) => (x * 40 % 256, y * 40 % 256, 7), Array.empty)
    for (cut <- Seq(1, 8, 20, 33, png.length / 2, png.length - 5))
      Media.pngDecodeStats(png.take(cut)) shouldBe None
    var seed = 12345L
    for (len <- Seq(0, 7, 64, 513)) {
      val junk = Array.fill(len) { seed = seed * 6364136223846793005L + 1442695040888963407L; (seed >> 33).toByte }
      Media.pngDecodeStats(junk) shouldBe None
    }
    // a corrupted DEFLATE byte inside IDAT: detected, None not garbage
    val broken = png.clone()
    broken(8 + 25 + 8 + 10) = (broken(8 + 25 + 8 + 10) ^ 0x55).toByte
    Media.pngDecodeStats(broken) shouldBe None
    // crafted IHDR declaring a billion-pixel image: rejected by the
    // allocation cap BEFORE any buffer is sized
    val bomb = png.clone()
    val bb = java.nio.ByteBuffer.wrap(bomb)
    bb.putInt(16, 1 << 29).putInt(20, 1 << 20)
    Media.pngDecodeStats(bomb) shouldBe None
    // undefined filter type: re-deflate a raw image with filter 7
    val raw = new Array[Byte]((1 + 3 * 2) * 1)
    raw(0) = 7
    val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
    val buf = new Array[Byte](256); val n = d.deflate(buf); d.end()
    val idat = buf.take(n)
    val out = java.nio.ByteBuffer.allocate(8 + 25 + 12 + idat.length + 12)
    out.put(png.take(8)) // signature
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(2).putInt(1).put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    out.putInt(13).put("IHDR".getBytes("US-ASCII")).put(ihdr.array()).putInt(0)
    out.putInt(idat.length).put("IDAT".getBytes("US-ASCII")).put(idat).putInt(0)
    out.putInt(0).put("IEND".getBytes("US-ASCII")).putInt(0)
    Media.pngDecodeStats(out.array()) shouldBe None
  }

  test("CDC chunking: boundaries are content-defined — a prefix edit preserves all later chunks") {
    import spark.implicits._
    import graft.functions.TextKit
    // deterministic 600-char base text with enough entropy for several
    // boundaries under (w=16, divisor=64)
    val base = (0 until 120).map { i =>
      val h = math.abs(i * 2654435761L % 97)
      s"w$h"
    }.mkString(" ")
    val prefix = "INSERTED-PREFIX-EDIT "
    val df = Seq((1L, base), (2L, prefix + base)).toDF("doc_id", "text")
      .select(col("doc_id"),
        TextKit.cdcBoundaries(col("text"), 16, 64).as("bs"),
        TextKit.cdcChunks(col("text"), 16, 64).as("cs"))
    val rows = df.collect().map(r =>
      r.getLong(0) -> (
        r.getSeq[Int](1),
        r.getSeq[org.apache.spark.sql.Row](2).map(c => (c.getInt(0), c.getInt(1), c.getLong(2)))))
      .toMap
    val (bs1, cs1) = rows(1L)
    val (bs2, cs2) = rows(2L)
    withClue("the fixture text must actually produce boundaries for the property to bite: ") {
      bs1.size should be >= 2
    }
    // every base boundary persists, shifted by exactly the edit length
    // (its window is w chars of unchanged content)
    val p = prefix.length
    bs1.map(_ + p).toSet.subsetOf(bs2.toSet) shouldBe true
    // chunks fully after the first base boundary are IDENTICAL in
    // content hash — only the chunk containing the edit changed
    val stable1 = cs1.drop(1).map(_._3)
    val h2 = cs2.map(_._3).toSet
    stable1.foreach(h => h2 should contain(h))
    // spans reconstruct the text exactly: contiguous, full coverage
    for ((_, cs) <- Seq(1L -> cs1, 2L -> cs2)) {
      cs.head._1 shouldBe 1
      cs.sliding(2).foreach {
        case Seq((s1, l1, _), (s2, _, _)) => s2 shouldBe (s1 + l1)
        case _ =>
      }
    }
    cs1.map(_._2).sum shouldBe base.length
    cs2.map(_._2).sum shouldBe (base.length + p)
    // degenerate inputs: shorter than one window -> a single chunk
    val tiny = Seq((3L, "short")).toDF("doc_id", "text")
      .select(TextKit.cdcChunks(col("text"), 16, 64).as("cs"))
      .head.getSeq[org.apache.spark.sql.Row](0)
    tiny.size shouldBe 1
    tiny.head.getInt(1) shouldBe 5
  }

  test("Bpe byte fallback: in-vocab words keep merges, OOV decomposes to UTF-8 bytes") {
    import graft.functions.Bpe
    val vocab = Set("low", "lower", "lowest")
    val merges = Bpe.train(vocab.toSeq.sorted.map(_ -> 1L), 10)
    val rk = Bpe.ranks(merges)
    // closed-vocabulary path is the plain trained encode
    for (w <- vocab)
      Bpe.encodeWithByteFallback(w, vocab, rk) shouldBe Bpe.encode(w, rk)
    // OOV — ASCII, emoji, CJK, combining marks — takes the byte path:
    // one <0xHH> piece per UTF-8 byte plus EOW, so piece count is
    // exactly utf8_bytes + 1 (the closed form the oracle replays)
    for (w <- Seq("slower", "zzz", "café", "中文", "👍", "á")) {
      val pieces = Bpe.encodeWithByteFallback(w, vocab, rk)
      pieces.length shouldBe (w.getBytes("UTF-8").length + 1)
      pieces.last shouldBe Bpe.Eow
      // byte pieces can never collide with learned symbols, and the
      // decomposition is lossless: parse the <0xHH> pieces back
      val bytes = pieces.dropRight(1).map { p =>
        p should fullyMatch regex "<0x[0-9A-F]{2}>"
        Integer.parseInt(p.substring(3, 5), 16).toByte
      }
      new String(bytes.toArray, "UTF-8") shouldBe w
    }
  }

  test("Media.parseWav walks real RIFF chunks and rejects junk") {
    val pcm = Array.tabulate(5)(i => (i * 100 - 200).toShort)
    val wav = Media.wavContainer(16000, pcm, "trailing doc text".getBytes("UTF-8"))
    val info = Media.parseWav(wav).get
    info.audioFormat shouldBe 1 // PCM fmt tag
    info.sampleRate shouldBe 16000
    info.channels shouldBe 1
    info.bitsPerSample shouldBe 16
    info.dataLen shouldBe 10
    // signed LE16 samples survive the round trip (incl. negatives)
    val back = Array.tabulate(5) { j =>
      val o = info.dataOffset + 2 * j
      ((wav(o) & 0xff) | (wav(o + 1).toInt << 8)).toShort
    }
    back shouldBe pcm
    // odd-length trailing payload gets a pad byte; the walk must still
    // terminate cleanly (parse again from the same bytes)
    Media.parseWav(Media.wavContainer(8000, pcm, Array[Byte](1, 2, 3))) should not be empty
    Media.parseWav("RIFFjunk".getBytes) shouldBe None
    Media.parseWav("not audio at all".getBytes) shouldBe None
    Media.parseWav(Array[Byte]()) shouldBe None
    Media.parseWav(Media.pngContainer(2, 2, Array[Byte]())) shouldBe None
    // truncated data chunk (declared longer than the bytes): reject
    val truncated = wav.take(wav.length - 30)
    Media.parseWav(truncated) shouldBe None
    // crafted chunk size near Int.MaxValue: the Long walk must reject
    // it (no wraparound into a negative offset, no throw)
    val overflow = wav.clone()
    val bb = java.nio.ByteBuffer.wrap(overflow).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(16, 0x7FFFFFF0) // declared fmt-chunk size
    Media.parseWav(overflow) shouldBe None
    // and a huge declared data size must fail the Long bounds check
    val hugeData = wav.clone()
    val db = java.nio.ByteBuffer.wrap(hugeData).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    db.putInt(40, 0x7FFFFFF0) // declared data-chunk size (offset 36+4)
    Media.parseWav(hugeData) shouldBe None
    // a fmt chunk DECLARING size < 16 must be treated as unparseable,
    // not have its rate/channels/bits read from the next chunk's bytes
    val smallFmt = wav.clone()
    java.nio.ByteBuffer.wrap(smallFmt).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(16, 8) // declared fmt-chunk size
    Media.parseWav(smallFmt) shouldBe None
  }

  test("Media.parseBmp + bmpPixelStats decode real pixels and reject junk") {
    import spark.implicits._
    // 3x2 image, pixel (x,y) = (x*10+y, 100+x, 200+y): exercises the
    // bottom-up row order, the 4-byte row padding (3*3=9 -> stride 12),
    // the BGR channel order, and trailing payload tolerance
    val bmp = Media.bmpContainer(3, 2, (x, y) => (x * 10 + y, 100 + x, 200 + y),
      "trailing doc text".getBytes("UTF-8"))
    val info = Media.parseBmp(bmp).get
    info.width shouldBe 3
    info.height shouldBe 2
    info.rowStride shouldBe 12
    val stats = Media.bmpPixelStats(
      Seq(Media.MediaRecord(1L, bmp, "s", "en", 1L)).toDS()).collect()(0)
    stats.n_pixels shouldBe 6
    // sums over x in 0..2, y in 0..1 of each channel formula
    stats.sum_r shouldBe (0 until 3).flatMap(x => (0 until 2).map(y => x * 10 + y)).sum
    stats.sum_g shouldBe (0 until 3).flatMap(x => (0 until 2).map(y => 100 + x)).sum
    stats.sum_b shouldBe (0 until 3).flatMap(x => (0 until 2).map(y => 200 + y)).sum
    stats.min_lum shouldBe (0 + 100 + 200) // pixel (0,0)
    stats.max_lum shouldBe (21 + 102 + 201) // pixel (2,1)
    // rejection cases: junk, empty, other containers, truncation
    Media.parseBmp("not an image".getBytes) shouldBe None
    Media.parseBmp(Array[Byte]()) shouldBe None
    Media.parseBmp(Media.pngContainer(2, 2, Array[Byte]())) shouldBe None
    Media.parseBmp(bmp.take(53)) shouldBe None
    Media.parseBmp(bmp.take(54 + 5)) shouldBe None // pixel array truncated
    def patched(off: Int, v: Int): Array[Byte] = {
      val b = bmp.clone()
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(off, v)
      b
    }
    // non-24bpp / compressed / top-down layouts the pixel reader does
    // not understand are an honest None, never a mis-decode
    Media.parseBmp(patched(28, 8 | (1 << 16))) shouldBe None // 8bpp (planes stay 1)
    Media.parseBmp(patched(30, 1)) shouldBe None // BI_RLE8
    Media.parseBmp(patched(22, -2)) shouldBe None // negative = top-down
    // crafted dims near Int.MaxValue must fail the Long bounds check,
    // not overflow into an in-range product (the parseWav lesson)
    Media.parseBmp(patched(18, 0x40000000)) shouldBe None
    val crafted = patched(18, 0x10000)
    Media.parseBmp(java.nio.ByteBuffer.wrap(crafted.clone())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(22, 0x10000).array()) shouldBe None
  }

  test("Media.audioFeatures drops parseable but non-conforming WAVs (stereo/8-bit/non-PCM)") {
    import spark.implicits._
    val pcm = Array.tabulate(8)(i => (i * 50).toShort)
    val good = Media.wavContainer(8000, pcm, Array[Byte]())
    // fmt field offsets inside the container: audioFormat @20,
    // channels @22, bitsPerSample @34
    def patched(off: Int, v: Short): Array[Byte] = {
      val b = good.clone()
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).putShort(off, v)
      b
    }
    val recs = Seq(
      Media.MediaRecord(1L, good, "s", "en", 1L),
      Media.MediaRecord(2L, patched(22, 2), "s", "en", 1L),  // stereo
      Media.MediaRecord(3L, patched(34, 8), "s", "en", 1L),  // 8-bit
      Media.MediaRecord(4L, patched(20, 3), "s", "en", 1L)   // IEEE-float fmt tag
    ).toDS()
    // every patched container still PARSES (the walker reports what
    // the fmt chunk says)...
    Media.parseWav(patched(22, 2)).get.channels shouldBe 2
    Media.parseWav(patched(34, 8)).get.bitsPerSample shouldBe 8
    Media.parseWav(patched(20, 3)).get.audioFormat shouldBe 3
    // ...but only the conforming record is scored
    val feats = Media.audioFeatures(recs, frameLen = 4).collect()
    feats.map(_.doc_id).toSeq shouldBe Seq(1L)
  }

  test("Media.audioFeatures frames PCM with a partial tail and exact RMS") {
    import spark.implicits._
    val docs = Seq(
      (3L, "some text", "srcA", "en", 9L), // n_samples = 160*(1+9%4)+(9%7)*10 = 340
      (4L, "other",     "srcB", "fr", 6L)  // n_samples = 160*(1+6%4)+(6%7)*10 = 540
    ).toDF("doc_id", "text", "source", "lang", "n_chars")
    val feats = Media.audioFeatures(Media.fromDocumentsAudio(spark, docs), frameLen = 160)
      .collect().sortBy(_.doc_id)
    feats should have length 2
    val a = feats(0)
    a.sample_rate shouldBe Media.fixtureSampleRate(9)
    a.n_samples shouldBe 340
    a.n_frames shouldBe 3 // 160 + 160 + 20-sample partial tail
    a.duration_ms shouldBe (340L * 1000 / a.sample_rate).toInt
    // RMS of frame 0 recomputed independently from the fixture waveform
    val expected = math.sqrt(
      (0 until 160).map { i => val v = Media.fixtureSample(3L, i).toLong; v * v }.sum.toDouble / 160)
    a.first_rms shouldBe expected
    a.max_rms should be >= a.first_rms
    feats(1).n_frames shouldBe 4 // 540 = 3 full + 60-sample tail
  }

  test("Media.sampleFrameIndices and resizeFit implement the sampling/fit contracts") {
    Media.sampleFrameIndices(10, 4) shouldBe Seq(0, 4, 8)
    Media.sampleFrameIndices(1, 4) shouldBe Seq(0)
    Media.sampleFrameIndices(0, 4) shouldBe Seq()
    Media.resizeFit(640, 480, 224) shouldBe ((224, 168))
    Media.resizeFit(480, 640, 224) shouldBe ((168, 224))
    Media.resizeFit(100, 100, 224) shouldBe ((224, 224))
    Media.resizeFit(0, 0, 224) shouldBe ((0, 0))
  }

  test("PPJoin prefix filter prunes skewed-shingle candidates and stays exact") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Skewed fixture: every doc shares one hot 3-gram ("x y z ...");
    // only docs 100/101 are true near-dups. The plain shingle join
    // generates a candidate pair for EVERY doc pair (hot-shingle hub);
    // the prefix filter (tau=0.5) must keep the true pair and prune
    // most of the hub.
    val tau = 0.5
    val docs = ((0 until 30).map { i =>
      (i.toLong, s"x y z unique${i}a unique${i}b unique${i}c unique${i}d unique${i}e")
    } ++ Seq(
      (100L, "p q r s t u v w"),
      (101L, "p q r s t u v different")
    )).toDF("doc_id", "text")
    val w = TextKit.tokens(col("text"))
    val ex = docs
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), TextKit.shinglesKernel(3)(col("w")).as("ss"))
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(col("ss")).as("n"),
        explode(col("ss")).as("s"))
    val plainCand = ex.as("x")
      .join(ex.as("y"), col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    val df = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("s").asc)
    val prefixes = ex.join(df, "s")
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <= col("n") - ceil(lit(tau) * col("n")) + 1)
      .select(col("doc_id"), col("s"))
    val prefixCand = prefixes.as("x")
      .join(prefixes.as("y"), col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct()
    val nPrefix = prefixCand.count()
    // all 30 hub docs pair with each other in the plain join
    plainCand should be >= (30L * 29 / 2)
    nPrefix should be < plainCand / 4
    // losslessness: the true near-dup pair survives the filter
    prefixCand.filter(col("d1") === 100 && col("d2") === 101).count() shouldBe 1L
  }
}

package operators {

  import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
  import org.apache.spark.sql.execution.LogicalRDD

  /** Test access to [[Graph]]'s `private[operators]` closure paths. */
  object GraphPaths {
    def distributed(edges: DataFrame, maxRounds: Int = 20): DataFrame =
      Graph.distributedClosure(edges, maxRounds)

    def capped(edges: DataFrame, maxEdges: Int, maxPairs: Long): DataFrame =
      Graph.transitiveClosure(edges, 20, maxEdges, maxPairs)

    /** Whether `closure` is the driver path's one-partition relation. */
    def onDriver(closure: DataFrame): Boolean = closure.queryExecution.analyzed match {
      case r: LogicalRDD => r.outputPartitioning == SinglePartition
      case _ => false
    }
  }
}
