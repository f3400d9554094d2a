package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.Streaming

/** `table_rw`: one client replays a seeded mix of writes and reads on
  * one graft table, hive-partitioned by `shard = key % shards`. Every
  * read, write count and change feed is checked against a reference
  * model of the table kept here, and every verb's new generations
  * against the commits it should make (each verb is one atomic
  * generation when it changes anything). */
final class TableRw extends Workload {
  import TableRw._

  private var script: Seq[Seq[JsonNode]] = Nil
  private var shards = 0
  private var table: String = _
  private var cursor = 0
  private var batchId = 0L
  /** Generations the verbs run so far should have committed. */
  private var commits = 0L
  private var baseGen = 0L
  /** Verbs whose observed new generations differ from their expected. */
  private val offCommits = mutable.ArrayBuffer.empty[String]
  private val model = mutable.TreeMap.empty[Long, Rec]
  /** Row images the last delete/merge/update removed and added. */
  private var lastChange: (Seq[Rec], Seq[Rec]) = (Nil, Nil)
  private val seen = mutable.Map.empty[String, Long]
  private var userBytes = 0L
  private var bytesWritten = 0L
  private val filesScanned = mutable.ArrayBuffer.empty[Double]
  private val decodeMs = mutable.ArrayBuffer.empty[Double]

  private def fs(ctx: Ctx): FileSystem =
    new org.apache.hadoop.fs.Path(table).getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)

  private def latestGen(ctx: Ctx): Long = Streaming.manifestGenerations(fs(ctx), table).lastOption.getOrElse(0L)

  private def frame(ctx: Ctx, rows: Seq[Rec]): DataFrame =
    ctx.spark.createDataFrame(rows.map(r => Row(r.key, r.version, r.v, r.name, shardOf(r.key))).asJava,
      Schema)

  private def shardOf(key: Long): Int = (key % shards).toInt

  /** The first warm pass often still runs at the JIT's pace (the verbs
    * generate new code every pass); the median of three warm passes
    * keeps such a pass out of `warm_pass_s`. */
  override def minWarm: Int = 3

  /** Set-up writes the initial table, which also warms the session up. */
  override def init(ctx: Ctx): Unit = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(s"${ctx.inputs}/script.json"))
    shards = root.get("shards").asInt
    script = root.get("blocks").elements().asScala.map(_.elements().asScala.toSeq).toSeq
    table = s"${ctx.out}/table"
    val init = ctx.spark.read.parquet(s"${ctx.inputs}/initial.parquet").collect()
      .map(r => Rec(r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    init.foreach(r => model(r.key) = r)
    // the bootstrap path for a fresh table: a plain partitioned write,
    // then one manifest commit from the full listing
    frame(ctx, init.toSeq).write.partitionBy("shard").parquet(table)
    baseGen = Streaming.writeManifest(fs(ctx), table)
    account()
    bytesWritten = 0L
  }

  /** One pass replays the next block of the script. */
  def pass(ctx: Ctx): Unit = {
    require(cursor < script.size, "op script exhausted")
    val block = script(cursor)
    cursor += 1
    block.foreach { o =>
      val kind = o.get("op").asText
      val gen0 = latestGen(ctx)
      val expected = if (kind == "background") background(ctx) else run(ctx, kind, o)
      val gen1 = latestGen(ctx)
      commits += expected
      if (!commitsOk(gen0, gen1, expected)) offCommits += s"$kind (pass ${ctx.pass}): ${gen1 - gen0}"
      account()
      if (ctx.probe.isDefined && gen1 > gen0) {
        val t0 = System.nanoTime()
        Streaming.manifestEntries(fs(ctx), table, gen1)
        decodeMs += (System.nanoTime() - t0) / 1e6
      }
    }
  }

  private def rowsOf(o: JsonNode): Seq[Rec] = o.get("rows").elements().asScala.map { r =>
    Rec(r.get(0).asLong, r.get(1).asLong, r.get(2).asDouble, r.get(3).asText)
  }.toSeq

  private def inRange(lo: Long, hi: Long): Seq[Rec] = model.range(lo, hi + 1).values.toSeq

  /** Runs one script operation; returns the generations it should
    * commit. */
  private def run(ctx: Ctx, kind: String, o: JsonNode): Long = {
    val spark = ctx.spark
    kind match {
      case "upsert" =>
        val rows = rowsOf(o)
        batchId += 1
        ctx.op("upsert", "write", "streaming") {
          Streaming.upsertPartitionedBatch(table, "key", "version", "shard")(frame(ctx, rows), batchId)
        }(_ => true)
        rows.foreach(r => model(r.key) = r)
        userBytes += rows.map(_.bytes).sum
        1L
      case "delete" =>
        val (lo, hi) = (o.get("lo").asLong, o.get("hi").asLong)
        val gone = inRange(lo, hi)
        ctx.op("delete", "write", "streaming") {
          Streaming.deleteWhere(spark, table, col("key").between(lo, hi))
        }(_ == gone.size)
        gone.foreach(r => model.remove(r.key))
        lastChange = (gone, Nil)
        if (gone.isEmpty) 0L else 1L
      case "merge" =>
        val rows = rowsOf(o)
        val matched = rows.flatMap(r => model.get(r.key))
        ctx.op("merge", "write", "streaming") {
          Streaming.mergeInto(spark, table, frame(ctx, rows), "t.key = s.key",
            whenMatchedUpdate = Some(Map("version" -> "s.version", "val" -> "s.val", "name" -> "s.name")),
            whenNotMatchedInsert = Some(Map.empty), stagePartitionBy = Seq("shard"))
        }(s => s.matched == matched.size && s.inserted == rows.size - matched.size)
        rows.foreach(r => model(r.key) = r)
        lastChange = (matched, rows)
        userBytes += rows.map(_.bytes).sum
        1L
      case "update" =>
        val (lo, hi) = (o.get("lo").asLong, o.get("hi").asLong)
        val delta = o.get("delta").asDouble
        val before = inRange(lo, hi)
        val after = before.map(r => r.copy(v = r.v + delta))
        ctx.op("update", "write", "streaming") {
          Streaming.updateWhere(spark, table, col("key").between(lo, hi),
            Map("val" -> (col("val") + lit(delta))), stagePartitionBy = Seq("shard"))
        }(_ == before.size)
        after.foreach(r => model(r.key) = r)
        lastChange = (before, after)
        userBytes += after.map(_.bytes).sum
        if (before.isEmpty) 0L else 1L
      case "point" =>
        val key = o.get("key").asLong
        ctx.op("point_read", "read", "streaming") {
          val df = Streaming.readCommittedPoint(spark, table, "key", key)
          (df.collect(), df)
        } { case (rows, df) =>
          filesScanned += scannedFiles(df)
          same(rows, model.get(key).toSeq)
        }
        0L
      case "range" =>
        val (lo, hi) = (o.get("lo").asLong, o.get("hi").asLong)
        ctx.op("range_read", "read", "streaming") {
          Streaming.readCommittedRange(spark, table, "key", lo, hi).collect()
        }(same(_, inRange(lo, hi)))
        0L
      case "scan" =>
        ctx.op("scan", "read", "streaming")(Streaming.readCommitted(spark, table).collect())(
          same(_, model.values.toSeq))
        0L
      case "cdc" =>
        val g = latestGen(ctx)
        ctx.op("cdc_read", "read", "streaming") {
          Streaming.readChangeFeed(spark, table, g - 1, g).map(_.collect()).getOrElse(Array.empty[Row])
        } { rows =>
          val (del, ins) = rows.partition(_.getAs[String]("_change_type") == "delete")
          same(del, lastChange._1) && same(ins, lastChange._2)
        }
        0L
      case "connector" =>
        ctx.op("connector_read", "read", "sources") {
          spark.read.format("graft").load(table).collect()
        }(same(_, model.values.toSeq))
        0L
    }
  }

  /** Maintenance between commits: compaction and the bloom index
    * commit once when they compact or index anything; vacuum only
    * deletes orphans. Returns the generations they should commit. */
  private def background(ctx: Ctx): Long = {
    val spark = ctx.spark
    val compacted = ctx.op("compact", "background", "streaming")(
      Streaming.compactShards(spark, table, "shard"))(_ >= 0)
    val indexed = ctx.op("bloom_build", "background", "streaming")(
      Streaming.buildBloomIndex(spark, table, "key"))(_ >= 0)
    ctx.op("vacuum", "background", "streaming") {
      Streaming.vacuum(spark, table, olderThanMs = 0L, dryRun = false)
    }(_ => true)
    Seq(compacted, indexed).count(_.exists(_ > 0)).toLong
  }

  /** Add the bytes of files that appeared under the table since the
    * last look (data, manifests, sidecars). */
  private def account(): Unit =
    walk(Paths.get(table)).foreach { case (p, size) =>
      if (!seen.get(p).contains(size)) { bytesWritten += size; seen(p) = size }
    }

  private def scannedFiles(df: DataFrame): Double =
    AqePlans.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .flatMap(_.metrics.get("numFiles")).map(_.value.toDouble).sum

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val finalRows = Streaming.readCommitted(spark, table).collect()
    ctx.check("final_table", same(finalRows, model.values.toSeq), s"${finalRows.length} rows")
    val hist = Streaming.tableHistory(spark, table).orderBy(col("generation").desc).first()
    val newest = hist.getAs[Long]("generation")
    ctx.check("history_generations", newest == baseGen + commits && offCommits.isEmpty,
      s"newest generation $newest, expected $baseGen + $commits commits" +
        (if (offCommits.isEmpty) "" else s"; verbs with other generation counts: ${offCommits.mkString(", ")}"))
    ctx.check("history_live_rows", hist.getAs[Long]("live_rows") == model.size,
      s"live_rows ${hist.getAs[Long]("live_rows")} vs model ${model.size}")
    Streaming.vacuum(spark, table, olderThanMs = 0L, dryRun = false)
    val disk = walk(Paths.get(table)).map(_._2).sum
    val plain = Paths.get(ctx.out, "plain")
    frame(ctx, model.values.toSeq).coalesce(1).write.mode("overwrite").parquet(plain.toString)
    val plainBytes = walk(plain).collect { case (p, s) if p.endsWith(".parquet") => s }.sum
    ctx.info("table.user_mb") = userBytes / 1048576.0
    ctx.info("table.bytes_written_mb") = bytesWritten / 1048576.0
    ctx.info("table.write_amp") = bytesWritten.toDouble / userBytes
    ctx.info("table.space_amp") = disk.toDouble / plainBytes
    ctx.info("table.live_files") = hist.getAs[Long]("live_files")
    ctx.info("table.live_rows") = model.size
    ctx.info("table.commits") = commits
    ctx.info("table.files_scanned_per_point_read") = filesScanned.toSeq
    ctx.info("table.manifest_decode_ms") = decodeMs.toSeq
  }

  private def same(rows: Array[Row], want: Seq[Rec]): Boolean = TableRw.same(rows, want, shards)
}

/** Plan traversal that descends into adaptive query stages. */
object AqePlans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

object TableRw {
  /** A verb expected to commit `expected` generations moved the newest
    * one from `gen0` to exactly `gen0 + expected`. */
  def commitsOk(gen0: Long, gen1: Long, expected: Long): Boolean = gen1 - gen0 == expected

  /** Compare rows read back (key, version, val, name, shard, ...) with
    * model records, as sorted sequences; every shard must be
    * `key % shards`. */
  def same(rows: Array[Row], want: Seq[Rec], shards: Int): Boolean = {
    val got = rows.map { r =>
      val key = r.getAs[Long]("key")
      // the connector surfaces integral partition values as bigint
      if (r.getAs[Number]("shard").longValue != key % shards) return false
      Rec(key, r.getAs[Long]("version"), r.getAs[Double]("val"), r.getAs[String]("name"))
    }.sortBy(r => (r.key, r.version))
    got.toSeq == want.sortBy(r => (r.key, r.version))
  }

  final case class Rec(key: Long, version: Long, v: Double, name: String) {
    /** Bytes of user data: three 8-byte numbers, a 4-byte shard and the name. */
    def bytes: Long = 28L + name.length
  }

  val Schema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("val", DoubleType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("shard", IntegerType, nullable = false)))

  def walk(root: Path): Seq[(String, Long)] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
      finally s.close()
    }
}
