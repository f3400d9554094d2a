package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph ancestry.
  *
  * The reference computes ontology ancestors/descendants by collecting
  * the whole graph to the driver into jgrapht
  * (etl/backend/graph/GraphNode.scala:44-49,56-80) — O(V+E) driver
  * memory, a hard wall at 100 TB. This operator re-expresses the same
  * semantics as a distributed transitive closure over DataFrames.
  *
  * Three closure algorithms, all log-or-depth bounded rounds of
  * shuffle joins, all spec-verified equal (OperatorsSpec), all
  * measured against each other at sf0.1 (tools.ClosureCompare):
  * smart path-doubling (delta ∘ closure, the default), plain
  * path-doubling (closure ∘ closure, best on overlap-heavy DAGs at
  * local scale), and semi-naive frontier iteration (delta ∘ edges,
  * for incremental-delta workloads). Ontology DAGs are shallow
  * (depth < 20), so the doubling variants converge in <= 5 rounds.
  *
  * Scale notes:
  *  - every round is one shuffle join on the frontier key plus a
  *    distinct (second shuffle); both partition on the same key space;
  *  - `localCheckpoint` truncates the exponentially-growing plan
  *    lineage; on a real cluster use `checkpoint` with a reliable
  *    checkpoint dir instead (comment marks the swap);
  *  - the driver only sees a per-round count (the convergence test),
  *    never the graph itself.
  */
object Graph {

  /** Compact a just-checkpointed iteration frontier: coalesce its
    * cached partitions to ceil(rows / rowsPerPart) so downstream scans
    * and join map-sides don't pay per-task fixed costs (~0.2-0.3 s of
    * scheduler/broadcast-deserialize/codegen-setup per task measured
    * by tools.QueryProfile on q_graph_ancestry_dag: 582 tasks, 108 s
    * of task CPU for ~1 M result pairs). Scale-adaptive, not a local
    * tune: the divisor keeps ~2M narrow rows (~64 MB) per partition,
    * so a 1B-pair delta still runs 500-way parallel while a 100k-pair
    * round collapses to one task. coalesce() is applied AFTER the
    * checkpoint, so the delta's own computation (join + distinct +
    * anti-join) keeps its full shuffle parallelism — only the
    * already-materialized cache reads compact. (guide §2.2: fewer,
    * larger partitions; §2.4: task-count, not data, was the cost.)
    */
  private[operators] def compactFrontier(
      ck: DataFrame,
      rows: Long,
      rowsPerPart: Long = 2000000L): DataFrame = {
    val parts = ck.rdd.getNumPartitions
    val target = math.max(1L, math.min(parts.toLong, (rows + rowsPerPart - 1) / rowsPerPart)).toInt
    if (target < parts) ck.coalesce(target) else ck
  }

  /** Stored size in bytes of a just-`localCheckpoint()`'d frame, read
    * from the driver's block-manager storage listing — NO Spark job
    * (measured ~0.2 ms vs ~175 ms for the count() job it replaces; the
    * r19 verdict's own A/B showed the per-round count() probes REGRESS
    * the small iterative loops at fixture scale). The status store is
    * listener-fed, so a short bounded poll covers the (unobserved in
    * practice: 0 polls across every probe run) event-bus lag; `None`
    * when the entry never appears or never covers every partition —
    * callers then skip compaction rather than pay a job or size from
    * partial info.
    */
  private[operators] def cachedFrontierBytes(ck: DataFrame): Option[Long] =
    try {
      val rddId = ck.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }
      rddId.flatMap { id =>
        val sc = ck.sparkSession.sparkContext
        val want = ck.rdd.getNumPartitions
        def look() = sc.getRDDStorageInfo.find(_.id == id)
        var info = look()
        var polls = 0
        def complete = info.exists(_.numCachedPartitions >= want)
        while (!complete && polls < 10) {
          Thread.sleep(3); polls += 1; info = look()
        }
        // partial info would under-size the frontier: skip instead
        info.filter(_ => complete).map(i => i.memSize + i.diskSize).filter(_ > 0L)
      }
    } catch {
      case _: InterruptedException => Thread.currentThread().interrupt(); None
      case scala.util.control.NonFatal(_) => None
    }

  /** [[compactFrontier]] sized from the checkpoint's OBSERVED cached
    * bytes (guide §1: gate on measured size) instead of a row count —
    * the sizing job disappears, which is exactly the overhead the r19
    * round's own A/B flagged on dedup_clusters_incremental/_deep.
    * 128 MB of cached deserialized rows per partition ≈ the 2M-narrow-
    * rows target of the row form (measured ~80 B/row cached); rows
    * carrying arrays are heavier per row and automatically land at
    * proportionally fewer rows per partition. Scale-adaptive like the
    * row form: a 64 GB delta keeps ~500 partitions.
    */
  private[operators] def compactFrontierAuto(
      ck: DataFrame,
      bytesPerPart: Long = 128L << 20): DataFrame =
    cachedFrontierBytes(ck) match {
      case Some(bytes) =>
        val parts = ck.rdd.getNumPartitions
        val target =
          math.max(1L, math.min(parts.toLong, (bytes + bytesPerPart - 1) / bytesPerPart)).toInt
        if (target < parts) ck.coalesce(target) else ck
      case None => ck
    }

  /** Full ancestor closure of a child->parent edge list.
    *
    * The default routes to [[transitiveClosureSmart]] — measured
    * fastest on tree-like graphs and never catastrophically worse
    * (tools.ClosureCompare numbers in each variant's doc). Callers on
    * overlap-heavy DAGs can pick [[transitiveClosureDoubling]], which
    * measured marginally faster there.
    *
    * @param edges DataFrame with exactly two columns: (child, parent).
    * @return DataFrame(node, ancestor): every (n, a) with a path n -> a.
    */
  def transitiveClosure(edges: DataFrame, maxRounds: Int = 20): DataFrame =
    transitiveClosureSmart(edges, maxRounds)

  /** Plain path-doubling closure: each round joins the closure-so-far
    * with ITSELF, so reachable distance doubles per round. Log-many
    * rounds, but the self-join re-derives every already-known pair
    * each round before the distinct — [[transitiveClosureSmart]]
    * composes off the delta instead and skips that re-derivation.
    * Kept as the measurement baseline (no registry query pins it
    * since the round-7 re-pin of q_graph_ancestry_dag to smart); the
    * current numbers for all three variants live in
    * [[transitiveClosureSmart]]'s scaladoc (single source of truth).
    */
  def transitiveClosureDoubling(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    val Array(childCol, parentCol) = edges.columns
    val base = edges
      .select(col(childCol).as("node"), col(parentCol).as("ancestor"))
      .distinct()
      .localCheckpoint() // cluster: .checkpoint() against a reliable dir
    var size = base.count()
    var closure = compactFrontier(base, size)
    var rounds = 0
    var grown = true
    while (grown && rounds < maxRounds) {
      val next = closure
        .as("a")
        .join(closure.as("b"), col("a.ancestor") === col("b.node"))
        .select(col("a.node").as("node"), col("b.ancestor").as("ancestor"))
      val merged = closure.union(next).distinct().localCheckpoint()
      val mergedSize = merged.count()
      grown = mergedSize > size
      closure = compactFrontier(merged, mergedSize)
      size = mergedSize
      rounds += 1
    }
    // The final round still added pairs, so completeness is unknown: a
    // silent return could hand the caller a truncated closure. Probe
    // boundary-EXACTLY (the ConnectedComponents guard pattern) instead
    // of throwing eagerly — one more composition, checked with a
    // limit-1 isEmpty, decides whether the loop stopped exactly at
    // convergence (legal: maxRounds == ceil(log2(depth))) or truncated.
    if (grown) {
      val probe = closure
        .as("a")
        .join(closure.as("b"), col("a.ancestor") === col("b.node"))
        .select(col("a.node").as("node"), col("b.ancestor").as("ancestor"))
        .join(closure, Seq("node", "ancestor"), "left_anti")
      if (!probe.isEmpty)
        throw new IllegalStateException(
          s"transitiveClosureDoubling: pairs beyond the computed closure exist after " +
            s"$maxRounds rounds; raise maxRounds")
    }
    closure
  }

  /** Semi-naive FRONTIER closure: the depth-rounds/narrow-join
    * alternative to path-doubling, kept for measurement and for the
    * regime where it wins (deep closure already materialized, small
    * per-round deltas).
    *
    * Each round joins only the NEW pairs (the frontier) against the
    * base edge relation, then anti-joins against the closure-so-far so
    * frontiers stay disjoint — the final result is a plain unionAll of
    * checkpointed frontiers, no global distinct. Per-round shuffle is
    * O(frontier + closure-anti-side) vs doubling's O(closure x 2) join
    * + O(closure) distinct, but the round COUNT is the full depth
    * (log2 for doubling).
    *
    * MEASURED on the sf0.1 binary tree (20k nodes, depth ~14,
    * |closure| = 247,234; tools.ClosureCompare): frontier 5.7-6.5 s
    * vs plain doubling 4.8-5.9 s vs smart doubling 3.3-3.4 s — the
    * depth-many rounds of scheduling cost more than log-many wide
    * joins at this scale, so a doubling variant stays the default;
    * this shape remains correct-by-spec (OperatorsSpec equality) for
    * callers with incremental-delta workloads, where only the delta
    * re-derives.
    */
  def transitiveClosureFrontier(edges: DataFrame, maxRounds: Int = 30): DataFrame = {
    val Array(childCol, parentCol) = edges.columns
    // re-alias after every checkpoint: minting fresh attribute ids per
    // round keeps Union's constraint rewrite off stale ids when the
    // same checkpointed frame appears on both sides of the self-join
    def fresh(df: DataFrame): DataFrame =
      df.select(col("node").as("node"), col("ancestor").as("ancestor"))
    val e0 = edges
      .select(col(childCol).as("node"), col(parentCol).as("ancestor"))
      .distinct()
      .localCheckpoint() // cluster: .checkpoint() against a reliable dir
    val e = fresh(compactFrontierAuto(e0))
    var frontiers = List(e)
    var frontier = e
    var rounds = 0
    var done = frontier.isEmpty
    while (!done && rounds < maxRounds) {
      val closure = frontiers.reduce(_ union _)
      val ck = frontier
        .as("f")
        .join(e.as("g"), col("f.ancestor") === col("g.node"))
        .select(col("f.node").as("node"), col("g.ancestor").as("ancestor"))
        .distinct()
        .join(closure, Seq("node", "ancestor"), "left_anti")
        .localCheckpoint()
      // ONE flat job per round: count serves convergence AND sizing
      // (an isEmpty here pays the limit scale-up's up-to-4 sequential
      // mini-jobs on the final all-empty round — measured slower than
      // the single cached-scan count at fixture scale)
      val n = ck.count()
      if (n == 0) done = true
      else {
        val next = fresh(compactFrontier(ck, n))
        frontiers = next :: frontiers
        frontier = next
      }
      rounds += 1
    }
    // frontier advances ONE depth level per round (the doubling
    // variants cover 2^rounds) — a deeper graph would silently return
    // a truncated closure, so exhaustion is an error, not a result
    if (!done)
      throw new IllegalStateException(
        s"transitiveClosureFrontier: frontier still non-empty after $maxRounds rounds " +
          "(graph deeper than maxRounds); raise maxRounds or use transitiveClosure")
    frontiers.reduce(_ union _)
  }

  /** Smart path-doubling: log-many rounds like [[transitiveClosure]],
    * but each round composes only the DELTA (pairs first discovered
    * last round) with the closure — `delta ∘ closure ∪ closure ∘
    * delta` — instead of `closure ∘ closure`.
    *
    * Correctness: after round k the closure holds exactly the pairs
    * with shortest distance <= 2^k, and the delta those in
    * (2^(k-1), 2^k]. A pair at distance D in (2^k, 2^(k+1)] splits at
    * its path midpoint into halves of length <= 2^k (both in the
    * closure); at least one half has length > 2^(k-1) (else D <= 2^k),
    * i.e. is in the delta — so one of the two delta-joins derives it.
    *
    * Why it can beat plain doubling on overlap-heavy DAGs: the
    * closure x closure join materializes every re-derivation of every
    * already-known pair before the distinct; composing off the delta
    * skips re-deriving the old closure, so join OUTPUT (the distinct's
    * input) shrinks from O(closure x overlap) toward O(new pairs x
    * overlap). The anti-join keeps deltas disjoint, so the final
    * result is a plain unionAll, no global distinct.
    *
    * MEASURED (tools.ClosureCompare, sf0.1; round-7 re-measurement):
    * binary tree (|closure| = 247,234): smart 3.4-4.2 s vs doubling
    * 5.0-5.1 s vs frontier 6.0-6.1 s — the re-derivation skip
    * dominates, smart is the [[transitiveClosure]] default.
    * Multi-parent DAG (div2+div3 parents, |closure| = 897,357):
    * doubling 6.6-6.7 s, frontier 6.5-6.8 s, smart 6.3-7.3 s — a
    * statistical tie (the host-contention noise band swamps the
    * spread), so the tie-breaker is the scale argument: smart's
    * per-round join output is O(new pairs) where doubling's is
    * O(closure), and q_graph_ancestry_dag re-pinned to smart in
    * round 7 on that basis.
    */
  def transitiveClosureSmart(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    def fresh(df: DataFrame): DataFrame =
      df.select(col("node").as("node"), col("ancestor").as("ancestor"))
    val e0 = edges
      .select(col(edges.columns(0)).as("node"), col(edges.columns(1)).as("ancestor"))
      .distinct()
      .localCheckpoint() // cluster: .checkpoint() against a reliable dir
    val e = fresh(compactFrontierAuto(e0))
    var frontiers = List(e)
    var delta = e
    var rounds = 0
    var done = delta.isEmpty
    while (!done && rounds < maxRounds) {
      val closure = frontiers.reduce(_ union _)
      val forward = delta
        .as("d")
        .join(closure.as("c"), col("d.ancestor") === col("c.node"))
        .select(col("d.node").as("node"), col("c.ancestor").as("ancestor"))
      // Round 1 has delta == closure == e, so the backward join would
      // recompute the identical e-compose-e pair set — skip it and
      // save a full shuffle join on the first (largest-relative) round.
      val composed =
        if (rounds == 0) forward
        else forward.union(
          closure
            .as("c")
            .join(delta.as("d"), col("c.ancestor") === col("d.node"))
            .select(col("c.node").as("node"), col("d.ancestor").as("ancestor")))
      val ck = composed
        .distinct()
        .join(closure, Seq("node", "ancestor"), "left_anti")
        .localCheckpoint()
      // ONE flat job per round: count serves convergence AND sizing
      // (an isEmpty here pays the limit scale-up's up-to-4 sequential
      // mini-jobs on the final all-empty round — measured slower than
      // the single cached-scan count at fixture scale)
      val n = ck.count()
      if (n == 0) done = true
      else {
        val next = fresh(compactFrontier(ck, n))
        frontiers = next :: frontiers
        delta = next
      }
      rounds += 1
    }
    // Truncation guard, boundary-exact: every discovered pair IS in
    // `frontiers` — a non-empty delta at exhaustion only means the
    // convergence check never ran, not that pairs are missing. Probe
    // with one more delta-composition (exactly what the next round
    // would derive): empty -> the loop stopped precisely at
    // convergence, return; non-empty -> the union would omit real
    // pairs, throw.
    if (!done) {
      val closure = frontiers.reduce(_ union _)
      val probe = delta
        .as("d")
        .join(closure.as("c"), col("d.ancestor") === col("c.node"))
        .select(col("d.node").as("node"), col("c.ancestor").as("ancestor"))
        .union(
          closure
            .as("c")
            .join(delta.as("d"), col("c.ancestor") === col("d.node"))
            .select(col("c.node").as("node"), col("d.ancestor").as("ancestor")))
        .join(closure, Seq("node", "ancestor"), "left_anti")
      if (!probe.isEmpty)
        throw new IllegalStateException(
          s"transitiveClosureSmart: pairs beyond the computed closure exist after " +
            s"$maxRounds rounds; raise maxRounds")
    }
    frontiers.reduce(_ union _)
  }

  /** Ancestor list per node (the reference's GraphNodeDocument shape,
    * GraphNode.scala:22-30): node -> sorted array of ancestors.
    */
  def ancestorsPerNode(edges: DataFrame): DataFrame =
    transitiveClosure(edges)
      .groupBy(col("node"))
      .agg(sort_array(collect_set(col("ancestor"))).as("ancestors"))

  /** Descendant closure: the same algorithm over reversed edges
    * (GraphNode.scala computes descendants from the jgrapht DAG).
    */
  def descendantsPerNode(edges: DataFrame): DataFrame = {
    val Array(childCol, parentCol) = edges.columns
    transitiveClosure(edges.select(col(parentCol).as("child"), col(childCol).as("parent")))
      .groupBy(col("node"))
      .agg(sort_array(collect_set(col("ancestor"))).as("descendants"))
  }

  /** The reference's full GraphNodeDocument shape (GraphNode.scala:
    * 19-25: ancestors, descendants, children, parents per node),
    * assembled distributedly in ONE aggregation pass: the closure
    * (read in both directions — (n, a) in the ancestor closure <=>
    * n is a descendant of a) and the direct edges (both directions)
    * union into a single tagged (node, other, tag) relation, and one
    * groupBy(node) with four conditional collect_sets builds all four
    * lists. One shuffle on the node key instead of four aggregates
    * full-outer-joined three times. Nodes missing a relation get an
    * empty array (the root has no ancestors, leaves no descendants).
    */
  def nodeDocument(edges: DataFrame): DataFrame = {
    val Array(childCol, parentCol) = edges.columns
    val e = edges
      .select(col(childCol).as("child"), col(parentCol).as("parent"))
      .distinct()
    val closure = transitiveClosure(e)
    val tagged = closure
      .select(col("node"), col("ancestor").as("other"), lit(0).as("tag"))
      .union(closure.select(col("ancestor"), col("node"), lit(1)))
      .union(e.select(col("parent"), col("child"), lit(2)))
      .union(e.select(col("child"), col("parent"), lit(3)))
    def collectTag(tag: Int, as: String): Column =
      sort_array(collect_set(when(col("tag") === tag, col("other")))).as(as)
    tagged
      .groupBy(col("node"))
      .agg(
        collectTag(0, "ancestors"),
        collectTag(1, "descendants"),
        collectTag(2, "children"),
        collectTag(3, "parents")
      )
  }

  /** Root paths: for each node, every path to a root (a node with no
    * parent), as a child-first array (the reference's
    * `path: Seq[Seq[String]]`, GraphNode.scala:26,63-80).
    *
    * SMART path-doubling enumeration (the delta-composition of
    * [[transitiveClosureSmart]], forward-only): the path relation
    * holds (node, head, path); each round composes only the DELTA
    * (paths first built last round) as PREFIX with the closure as
    * suffix. Unlike reachability, a path's length is a fixed property,
    * so the canonical-split argument needs only the forward join: a
    * path of length l in (2^k, 2^(k+1)] splits at position exactly 2^k
    * into a prefix of length 2^k — in the delta, which holds all
    * lengths in (2^(k-1), 2^k] — and a closure suffix of length
    * <= 2^k. Still ceil(log2(depth)) rounds, but the join re-derives
    * only new paths, not the whole relation (the tree-closure
    * measurement: smart 3.3-3.4 s vs plain 4.8-5.0 s, and the path
    * relation on a tree IS the closure). Path count bounds
    * tractability: shallow ontology-like DAGs only — path count is
    * exponential in general.
    */
  def rootPaths(edges: DataFrame, maxDepth: Int = 25): DataFrame = {
    val Array(childCol, parentCol) = edges.columns
    val e = edges.select(col(childCol).as("child"), col(parentCol).as("parent")).distinct()
    val roots = e.select(col("parent").as("n")).distinct()
      .join(e.select(col("child").as("n")).distinct(), Seq("n"), "left_anti")
    val maxRounds = math.ceil(math.log(maxDepth.toDouble) / math.log(2.0)).toInt + 1
    def fresh(df: DataFrame): DataFrame =
      df.select(col("node").as("node"), col("head").as("head"), col("path").as("path"))
    val base0 = e.select(col("child").as("node"), col("parent").as("head"),
        array(col("child"), col("parent")).as("path"))
      .localCheckpoint() // cluster: .checkpoint() against a reliable dir
    // path rows carry arrays — the byte-based sizing lands them at
    // proportionally fewer rows per partition automatically
    val base = fresh(compactFrontierAuto(base0))
    var frontiers = List(base)
    var delta = base
    var rounds = 0
    var done = delta.isEmpty
    while (!done && rounds < maxRounds) {
      val closure = frontiers.reduce(_ union _)
      val composed = delta.as("a")
        .join(closure.as("b"), col("a.head") === col("b.node"))
        .select(
          col("a.node").as("node"),
          col("b.head").as("head"),
          concat(col("a.path"), slice(col("b.path"), lit(2), size(col("b.path")) - 1)).as("path")
        )
        .distinct()
      val ck = composed.join(closure, Seq("node", "head", "path"), "left_anti").localCheckpoint()
      // one flat count job per round (see transitiveClosureSmart);
      // path rows carry arrays — compact at a lower rows/partition
      val n = ck.count()
      if (n == 0) done = true
      else {
        val next = fresh(compactFrontier(ck, n, rowsPerPart = 250000L))
        frontiers = next :: frontiers
        delta = next
      }
      rounds += 1
    }
    // Truncation guard, boundary-exact (see transitiveClosureSmart):
    // probe one more prefix-composition; non-empty means paths beyond
    // the computed relation exist and the root filter below would
    // silently drop every node whose only root path exceeds maxDepth.
    if (!done) {
      val closure = frontiers.reduce(_ union _)
      val probe = delta.as("a")
        .join(closure.as("b"), col("a.head") === col("b.node"))
        .select(
          col("a.node").as("node"),
          col("b.head").as("head"),
          concat(col("a.path"), slice(col("b.path"), lit(2), size(col("b.path")) - 1)).as("path"))
        .join(closure, Seq("node", "head", "path"), "left_anti")
      if (!probe.isEmpty)
        throw new IllegalStateException(
          s"rootPaths: paths beyond the computed relation exist after $maxRounds rounds " +
            s"(graph deeper than maxDepth=$maxDepth); raise maxDepth")
    }
    frontiers.reduce(_ union _)
      .join(roots, col("head") === col("n"))
      .select(col("node"), col("path"))
  }
}
