package graft

import java.nio.file.{Files, Paths}
import java.util.EnumSet
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{CreateFlag, FileSystem, FilterFileSystem, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.GraftLocalFileSystem
import graft.streaming.Streaming
import graft.table.{Commit, Snapshot}

/** The local disk under a `faulty://` scheme that counts the driver's
  * mutating calls (create, rename, delete, mkdirs, setTimes) once armed
  * and throws [[FaultyFs.InjectedCrash]] at call k. From call k on
  * every mutating call throws, on every thread, until it is disarmed:
  * the writer is dead, so not even its `finally` blocks change the
  * disk. Calls from Spark's task threads are not counted (they are the
  * executors', not the driver's). A call from any other driver thread
  * (the commit pool) is held in flight, deaf to interrupts as a slow
  * store's call is: 5 ms, plus 5 ms for every call already in flight,
  * so that calls started later end later and a verb that throws at its
  * first failed call while later ones still run shows it.
  */
class FaultyFs extends GraftLocalFileSystem.Raw {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def getScheme: String = "faulty"

  private def mutating[T](call: => T): T = {
    val pooled = FaultyFs.mutation()
    val before = FaultyFs.inFlight.getAndIncrement()
    try {
      if (pooled) {
        val until = System.nanoTime() + 5000000L * (before + 1)
        while (System.nanoTime() < until) LockSupport.parkNanos(until - System.nanoTime())
      }
      call
    } finally FaultyFs.inFlight.decrementAndGet()
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutating(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutating(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutating(super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutating(super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = mutating(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean = mutating(super.delete(p, recursive))
  override def mkdirs(p: Path): Boolean = mutating(super.mkdirs(p))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    mutating(super.mkdirs(p, permission))
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
    mutating(super.setTimes(p, mtime, atime))
}

object FaultyFs {
  final class InjectedCrash(k: Long) extends java.io.IOException(s"injected crash at call $k")

  private val calls = new AtomicLong(0)
  private val inFlight = new AtomicInteger(0)
  @volatile private var armed = false
  @volatile private var crashAt = Long.MaxValue
  @volatile private var armedBy: Thread = _

  /** Count from zero, crashing at call `k` (never for Long.MaxValue). */
  def arm(k: Long): Unit = {
    calls.set(0); crashAt = k; armedBy = Thread.currentThread(); armed = true
  }

  /** Stop counting and crashing. */
  def disarm(): Unit = armed = false

  /** Mutating calls running now, on any thread. */
  def running: Int = inFlight.get()

  /** The driver's mutating calls since the last [[arm]]. */
  def counted: Long = calls.get()

  /** Counts the call and throws from the crash point on; true for a
    * counted call off the arming thread (a commit-pool call).
    */
  private def mutation(): Boolean = armed && {
    val executor = Thread.currentThread().getName.startsWith("Executor task launch worker")
    val k = if (executor) calls.get() else calls.incrementAndGet()
    if (k >= crashAt) throw new InjectedCrash(k)
    !executor && Thread.currentThread() != armedBy
  }
}

/** Crash enumeration for the commit protocol: a writer that dies at ANY
  * mutating filesystem call of `deleteWhere` (the delete-vector path),
  * `compactShards` or the bootstrap commit (the first `commitStage` on
  * a directory of plain parquet) leaves a table that recovery heals to
  * exactly the generation before or after the verb, whose every
  * retained entry names a file on disk, where no deleted row comes
  * back, and whose manifest dir holds nothing a retained generation
  * cannot reach once the sweep runs past the abandonment window. Also
  * pins the mutating calls of one replacing commit: tombstones live
  * only in the generation file, so no `del-` file is written, renamed
  * or deleted.
  */
class CommitFaultSpec extends AnyFunSuite with Matchers with SparkSessionSetup {

  private lazy val faulty: FileSystem = {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    // the CAS on a scheme without an atomic fail-if-exists rename: one
    // JVM-wide lock around check-and-publish (ConcurrentCommitSpec's
    // coordinator shape)
    Commit.registerClaimPrimitive("faulty", new Commit.ClaimPrimitive {
      private val lock = new Object
      def claim(fs: FileSystem, tmp: Path, dst: Path): Boolean = lock.synchronized {
        if (fs.exists(dst)) false else fs.rename(tmp, dst)
      }
    })
    new Path("faulty:///tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  private def local: FileSystem =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(ids: Seq[Long], version: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    ids.map(k => (k, s"p$version-$k", version, k % 4)).toDF("id", "payload", "v", "shard")
  }

  private def upsert(target: String, ids: Seq[Long], version: Long): Unit =
    Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(rows(ids, version), version)

  private def read(target: String): Seq[(Long, String)] = {
    import spark.implicits._
    Streaming.readCommitted(spark, target).select("id", "payload").as[(Long, String)]
      .collect().toSeq.sorted
  }

  /** The latest generation, 0 for a directory with no manifest. */
  private def latest(target: String): Long = Snapshot.list(faulty, target).latest.getOrElse(0L)

  private def localPath(target: String): java.nio.file.Path =
    Paths.get(new Path(target).toUri.getPath)

  /** Copy the table, its manifest dir if any and nothing else to a new
    * root.
    */
  private def copyTable(from: String, prefix: String): String = {
    val to = "faulty://" + Files.createTempDirectory(prefix).toString + "/t"
    for (suffix <- Seq("", ".__manifests") if Files.exists(localPath(from + suffix))) {
      val src = localPath(from + suffix)
      val dst = localPath(to + suffix)
      Files.walk(src).iterator().asScala.foreach { p =>
        Files.copy(p, dst.resolve(src.relativize(p).toString))
      }
    }
    to
  }

  /** Every file and dir of the table, its siblings (stages, lease) and
    * its manifest dir, aged past the abandonment window.
    */
  private def backdate(target: String): Unit = {
    val aged = System.currentTimeMillis() - Commit.StageAbandonedMs - 60000
    val t = localPath(target)
    Files.list(t.getParent).iterator().asScala.toSeq.foreach { sibling =>
      Files.walk(sibling).iterator().asScala.toSeq.foreach(p =>
        faulty.setTimes(new Path("faulty://" + p.toString), aged, -1))
    }
  }

  /** The manifest-dir names no retained generation reaches. */
  private def unreachable(target: String): Seq[String] = {
    val listing = Snapshot.list(faulty, target)
    val cutoff = listing.latest.get - Snapshot.ManifestKeep
    val floor = listing.checkpoints.filter(_ <= cutoff).maxOption.getOrElse(Long.MinValue)
    val mFiles = listing.checkpoints.filter(_ >= floor)
      .flatMap(g => listing.checkpointRefs(g).map(_.file)).toSet
    val sidecars = listing.walkAll()
      .flatMap(_.entries.flatMap(e => e.dv.map(_.sidecar) ++ e.blooms.values)).toSet
    listing.files.filterNot(f => f.gen.exists(_ >= floor) || mFiles(f.name) || sidecars(f.name))
      .map(_.name).sorted
  }

  private val extraRows: Seq[(Long, String)] = Seq(5000L, 5004L, 5008L).map(k => (k, s"p9-$k"))

  /** One parquet file of `ids` (all in shard 0) at `version`. */
  private def shard0File(ids: Seq[Long], version: Long): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-fault-file").toString + "/x"
    rows(ids, version).coalesce(1).write.partitionBy("shard").parquet(dir)
    Files.list(Paths.get(dir, "shard=0")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
  }

  /** One parquet file of [[extraRows]], for the commit every crashed
    * copy takes after its recovery.
    */
  private lazy val extraFile: java.nio.file.Path = shard0File(extraRows.map(_._1), 9L)

  /** Stage `file` as shard 0's only file at `target<stageName>`. */
  private def stageShard0(target: String, stageName: String, file: java.nio.file.Path): Unit = {
    val stage = localPath(target + stageName).resolve("shard=0")
    Files.createDirectories(stage)
    Files.copy(file, stage.resolve(s"part${stageName.replace(".__stage", "")}.parquet"))
  }

  /** Append [[extraFile]] to shard 0 through a hand-staged commit. */
  private def commitExtra(target: String): Unit = {
    stageShard0(target, ".__stage-extra", extraFile)
    Commit.commitStage(faulty, target, Set.empty, latest(target), ".__stage-extra")
  }

  /** Run `verb` on a copy of `base` (at generation g, rows `before`),
    * crashing at every mutating call k of its clean run (which ends at
    * generation g+1 with rows `after`). Each crashed copy is recovered,
    * takes one more commit and is swept past the abandonment window.
    * Returns the number of crash points.
    */
  private def enumerateCrashes(base: String, after: Seq[(Long, String)])(
      verb: String => Unit): Long = {
    val g = latest(base)
    val before = read(base)
    val clean = copyTable(base, "graft-fault-clean")
    FaultyFs.arm(Long.MaxValue)
    try verb(clean) finally FaultyFs.disarm()
    val calls = FaultyFs.counted
    (latest(clean), read(clean)) shouldBe ((g + 1, after))
    for (k <- 1L to calls) withClue(s"crash at mutating call $k of $calls: ") {
      val t = copyTable(base, "graft-fault")
      FaultyFs.arm(k)
      try verb(t)
      catch {
        case NonFatal(_) =>
          withClue("the verb threw while a commit-pool thread was still changing the disk: ") {
            FaultyFs.running shouldBe 0
          }
      } finally FaultyFs.disarm()
      backdate(t)
      Commit.recoverAbandonedStages(faulty, t)
      Commit.recoverStage(faulty, t)
      val healed = read(t)
      withClue("the pinned read is generation g or g+1 exactly: ") {
        Seq((g, before), (g + 1, after)) should contain((latest(t), healed))
      }
      commitExtra(t)
      backdate(t)
      Streaming.vacuum(spark, t, olderThanMs = 0L, dryRun = false)
      withClue("no deleted row comes back: ") { read(t) shouldBe (healed ++ extraRows).sorted }
      val listing = Snapshot.list(faulty, t)
      val mdir = Snapshot.manifestDir(t)
      for (gen <- listing.gens if gen > listing.latest.get - Snapshot.ManifestKeep;
           e <- listing.at(gen).entries) withClue(s"generation $gen, entry ${e.path}: ") {
        faulty.exists(new Path(s"$t/${e.path}")) shouldBe true
        (e.dv.map(_.sidecar) ++ e.blooms.values).foreach(s =>
          faulty.exists(new Path(mdir, s)) shouldBe true)
      }
      withClue("no temp or unreachable file is left in the manifest dir: ") {
        unreachable(t) shouldBe empty
      }
    }
    calls
  }

  /** A 4-shard table at generation 7: a seed, then six upserts that
    * each replace one shard (so every later commit ages tombstones out).
    */
  private lazy val base7: String = {
    faulty // registers the scheme and its claim primitive
    val t = "faulty://" + Files.createTempDirectory("graft-fault-base").toString + "/t"
    upsert(t, 0L until 200L, 1L)
    (2L to 7L).foreach(v => upsert(t, (v % 4) until 200L by 4, v))
    latest(t) shouldBe 7L
    t
  }

  private def deleted(rs: Seq[(Long, String)]): Seq[(Long, String)] =
    rs.filterNot(_._1 % 10 == 3)

  test("a deleteWhere crashed at ANY mutating call heals to generation g or g+1, " +
      "and the sweep leaves nothing unreachable") {
    // generation 8 is a checkpoint: the crash points cover its per-dir
    // manifests as well as the sidecar, the delta and the prune
    val points = enumerateCrashes(base7, deleted(read(base7))) { t =>
      Streaming.deleteWhere(spark, t, col("id") % 10 === 3)
    }
    info(s"$points crash points")
    // exact: a redundant mutating call (such as deleting the writer's
    // brand-new .__stage-<token>) adds a crash point and fails this
    points shouldBe 27L
  }

  test("a compactShards crashed at ANY mutating call heals to generation g or g+1, " +
      "and the sweep leaves nothing unreachable") {
    // delete vectors make shards 1 and 3 fragmented, and compaction
    // retires their sidecar
    val base = copyTable(base7, "graft-fault-base8")
    Streaming.deleteWhere(spark, base, col("id") % 10 === 3) should be > 0L
    val points = enumerateCrashes(base, read(base)) { t =>
      Streaming.compactShards(spark, t, "shard") shouldBe 2
    }
    info(s"$points crash points")
    // exact: deleting .__stage again after recoverStage would add one
    points shouldBe 25L
  }

  test("a bootstrap commit crashed at ANY mutating call heals to no manifest or " +
      "generation 1, and the sweep leaves nothing unreachable") {
    faulty // registers the scheme and its claim primitive
    // a directory of plain parquet, no manifest: the first commit reads
    // every file's footer to seed its checkpoint
    val base = "faulty://" + Files.createTempDirectory("graft-fault-plain").toString + "/t"
    rows(0L until 200L, 1L).write.partitionBy("shard").parquet(base)
    val shard0 = 0L until 200L by 4
    val replacement = shard0File(shard0, 2L)
    val after = (read(base).filterNot(_._1 % 4 == 0) ++ shard0.map(k => (k, s"p2-$k"))).sorted
    val points = enumerateCrashes(base, after) { t =>
      stageShard0(t, ".__stage", replacement)
      Commit.commitStage(faulty, t, Set("shard=0"), 0L)
    }
    info(s"$points crash points")
    // exact: the plan (create, rename), the staged file's move, the
    // manifest dir, four per-dir manifests and the checkpoint, the
    // claim, the stage; each create also counts its parent's mkdirs
    points shouldBe 17L
  }

  test("a writer that dies between its CAS and its prune leaks that horizon's " +
      "tombstones until vacuum runs past the chain floor") {
    val target = Files.createTempDirectory("graft-fault-prune").toString + "/t"
    val shard0 = 0L until 200L by 4
    upsert(target, 0L until 200L, 1L)
    (2L to 4L).foreach(v => upsert(target, shard0, v))
    // gen 2 replaced gen 1's shard-0 file; gen 5's prune would delete it
    val leaked = new Path(s"$target/${Snapshot.at(local, target, 1L, Some(Set("shard=0"))).paths.head}")
    Commit.registerClaimPrimitive("file", new Commit.ClaimPrimitive {
      def claim(fs: FileSystem, tmp: Path, dst: Path): Boolean =
        if (fs.exists(dst)) false
        else {
          require(fs.rename(tmp, dst))
          if (dst.getName.startsWith("inc-")) throw new IllegalStateException("died after the CAS")
          true
        }
    })
    try intercept[IllegalStateException](upsert(target, shard0, 5L))
    finally Commit.unregisterClaimPrimitive("file")
    latestGenOf(target) shouldBe 5L
    (6L to 10L).foreach(v => upsert(target, shard0, v))
    Streaming.vacuum(spark, target, olderThanMs = 0L, dryRun = false)
    withClue("checkpoint 1 still anchors the retained chain and lists it: ") {
      local.exists(leaked) shouldBe true
    }
    upsert(target, shard0, 11L) // the chain floor moves to checkpoint 8
    Streaming.vacuum(spark, target, olderThanMs = 0L, dryRun = false)
    withClue("no retained manifest names it any more: ") { local.exists(leaked) shouldBe false }
    read(target) shouldBe (0L until 200L).map(k => (k, if (k % 4 == 0) s"p11-$k" else s"p1-$k"))
  }

  /** Records the mutating calls made through it. */
  private class CountingFs(inner: FileSystem) extends FilterFileSystem(inner) {
    val mutations = mutable.ArrayBuffer.empty[String]
    private def note(call: String, p: Path): Unit = mutations += s"$call ${p.getName}"
    override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
      note("create", f)
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def rename(src: Path, dst: Path): Boolean = { note("rename", dst); super.rename(src, dst) }
    override def delete(p: Path, recursive: Boolean): Boolean = {
      note("delete", p)
      super.delete(p, recursive)
    }
    override def mkdirs(p: Path, permission: FsPermission): Boolean = {
      note("mkdirs", p)
      super.mkdirs(p, permission)
    }
    override def setTimes(p: Path, mtime: Long, atime: Long): Unit = {
      note("setTimes", p)
      super.setTimes(p, mtime, atime)
    }
  }

  test("one replacing commit makes 7 mutating calls and never writes a del- file") {
    val target = Files.createTempDirectory("graft-fault-count").toString + "/t"
    val shard0 = 0L until 200L by 4
    upsert(target, 0L until 200L, 1L)
    // gens 2-4 each replace shard 0, so gen 2 carries one tombstone
    (2L to 4L).foreach(v => upsert(target, shard0, v))
    val tombstoned = Snapshot.at(local, target, 1L, Some(Set("shard=0"))).paths
    tombstoned should have size 1
    rows(shard0, 5L).coalesce(1).write.partitionBy("shard").parquet(target + ".__stage")
    val counting = new CountingFs(local)
    Commit.commitStage(counting, target, Set("shard=0"), 4L)
    // the plan (create, rename), the staged file's move, the delta
    // (create, and the claim's delete of its temp name), gen 2's
    // tombstone, the stage. The parent commit made 10: it also wrote
    // the tombstones to a del- file (create, rename) and deleted that
    // file when it aged gen 2 out.
    withClue(counting.mutations.mkString("\n")) {
      counting.mutations should have size 7
      counting.mutations.filter(_.contains("del-")) shouldBe empty
    }
    latestGenOf(target) shouldBe 5L
    local.exists(new Path(s"$target/${tombstoned.head}")) shouldBe false
    local.listStatus(Snapshot.manifestDir(target)).map(_.getPath.getName)
      .filter(_.contains("del-")) shouldBe empty
    read(target) shouldBe rows(0L until 200L, 1L).collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.map { case (k, p) => if (k % 4 == 0) (k, s"p5-$k") else (k, p) }.sorted
  }

  private def latestGenOf(target: String): Long = Snapshot.list(local, target).latest.get
}
