package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, FSDataInputStream, Path}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.Streaming
import graft.table.Snapshot

/** `Snapshot` is the one reader of the manifest dir: a walk over a range
  * equals independent loads of each generation (across checkpoint
  * boundaries, delete vectors, bloom retags and compaction removes), a
  * dirs-restricted load is the full load filtered, a pruned generation
  * refuses, and one load lists the dir once, probes nothing and opens
  * each manifest file at most once.
  */
class SnapshotSpec extends AnyFunSuite with Matchers with SparkSessionSetup {

  private def fs: FileSystem =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Records the calls a load makes on the filesystem it is handed. */
  private class CountingFs(inner: FileSystem) extends FilterFileSystem(inner) {
    val listed = mutable.ArrayBuffer.empty[Path]
    val probed = mutable.ArrayBuffer.empty[Path]
    val opened = mutable.ArrayBuffer.empty[Path]
    override def listStatus(p: Path): Array[FileStatus] = { listed += p; super.listStatus(p) }
    override def exists(p: Path): Boolean = { probed += p; super.exists(p) }
    override def getFileStatus(p: Path): FileStatus = { probed += p; super.getFileStatus(p) }
    override def open(p: Path, bufferSize: Int): FSDataInputStream = {
      opened += p
      super.open(p, bufferSize)
    }
  }

  private def upsert(target: String, keys: Range, version: Long): Unit = {
    import spark.implicits._
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(
      keys.map(k => (k.toLong, s"p$version-$k", version, k % 4))
        .toDF("id", "payload", "v", "shard"),
      version)
  }

  /** A table driven to generation 18: checkpoints at 1, 8 and 16, and
    * a delete-vector delete, a bloom retag and a compaction (which
    * removes files) on both sides of checkpoint 16.
    */
  private def drive(target: String): Unit = {
    (1 to 9).foreach(v => upsert(target, (v * 10) until (v * 10 + 40), v))
    Streaming.deleteWhere(spark, target, col("id") % 7 === 3) should be > 0L // 10
    Streaming.buildBloomIndex(spark, target, "id") should be > 0 // 11
    Streaming.compactShards(spark, target, "shard") should be > 0 // 12: absorbs the vectors
    (13 to 16).foreach(v => upsert(target, (v * 5) until (v * 5 + 10), v))
    Streaming.deleteWhere(spark, target, col("id") % 11 === 5) should be > 0L // 17
    Streaming.buildBloomIndex(spark, target, "id") should be > 0 // 18
  }

  test("walk equals independent loads across checkpoints; latest, dirs and pruning agree") {
    val target = Files.createTempDirectory("graft-snapshot").toString + "/t"
    drive(target)
    val listing = Snapshot.list(fs, target)
    // the chain anchor (checkpoint 8) and everything after it survive
    listing.gens shouldBe (8L to 18L)
    listing.checkpoints shouldBe Seq(8L, 16L)
    val walk = Snapshot.walk(fs, target, 8L, 18L)
    walk.map(_.gen) shouldBe (8L to 18L)
    walk.foreach { s =>
      withClue(s"generation ${s.gen}: ") {
        s shouldBe Snapshot.at(fs, target, s.gen)
        s.isCheckpoint shouldBe listing.checkpoints.contains(s.gen)
        s.committedAtMs shouldBe listing.committedAtMs(s.gen).get
      }
    }
    val latest = Snapshot.latest(fs, target).get
    latest shouldBe Snapshot.at(fs, target, 18L)
    // the verbs really exercised tags and removes
    latest.hasDeleteVectors shouldBe true
    all(latest.entries.filterNot(_.isEmptyFile).map(_.blooms.keySet)) should contain("id")
    walk.zip(walk.tail).exists { case (a, b) => !a.paths.toSet.subsetOf(b.paths.toSet) } shouldBe
      true
    latest.rowCount shouldBe Some(Streaming.readCommitted(spark, target).count())
    // a dirs-restricted load is the full load filtered to those dirs
    val dirs = Set("shard=1", "shard=3")
    Seq(10L, 12L, 16L, 18L).foreach { g =>
      val full = Snapshot.at(fs, target, g)
      withClue(s"generation $g: ") {
        Snapshot.at(fs, target, g, Some(dirs)) shouldBe
          full.copy(entries = full.entries.filter(e => dirs(e.dir)))
      }
    }
    // a pruned generation refuses loudly
    val e = intercept[IllegalStateException](Snapshot.at(fs, target, 3L))
    e.getMessage should include("not retained")
    e.getMessage should include("retention horizon")
  }

  test("one load lists the manifest dir once, probes nothing, opens each file at most once") {
    val target = Files.createTempDirectory("graft-snapshot-io").toString + "/t"
    drive(target)
    val mdir = Snapshot.manifestDir(target)
    def check(what: String)(load: FileSystem => Unit): Unit = {
      val counting = new CountingFs(fs)
      load(counting)
      withClue(s"$what: ") {
        counting.listed.count(_ == mdir) shouldBe 1
        counting.probed shouldBe empty
        counting.opened.filter(_.getParent == mdir) should not be empty
        counting.opened.groupBy(identity).values.map(_.size).max shouldBe 1
      }
    }
    check("Snapshot.latest")(cfs => Snapshot.latest(cfs, target).get.gen shouldBe 18L)
    check("Streaming.manifestEntries")(cfs =>
      Streaming.manifestEntries(cfs, target, 17L) should not be empty)
    check("Snapshot.walk")(cfs => Snapshot.walk(cfs, target, 8L, 18L) should have size 11)
  }
}
