package graft

import java.nio.file.{Files, Paths}
import java.util.EnumSet
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
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
  * first failed call while later ones still run shows it. Instead of
  * crashing, a counted call can first run a hook ([[FaultyFs.hookAt]]):
  * another writer acting between two calls of this one. A rename
  * refuses an existing destination file, as HDFS's does.
  */
class FaultyFs extends GraftLocalFileSystem.Raw {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def getScheme: String = "faulty"

  private def mutating[T](p: Path)(call: => T): T = {
    val pooled = FaultyFs.mutation(p)
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
    mutating(f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutating(f)(super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutating(f)(super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutating(f)(super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    mutating(dst)(!isExistingFile(dst) && super.rename(src, dst))
  private def isExistingFile(p: Path): Boolean =
    try super.getFileStatus(p).isFile catch { case _: java.io.FileNotFoundException => false }
  override def delete(p: Path, recursive: Boolean): Boolean =
    mutating(p)(super.delete(p, recursive))
  override def mkdirs(p: Path): Boolean = mutating(p)(super.mkdirs(p))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    mutating(p)(super.mkdirs(p, permission))
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
    mutating(p)(super.setTimes(p, mtime, atime))
}

object FaultyFs {
  final class InjectedCrash(k: Long) extends java.io.IOException(s"injected crash at call $k")

  private val calls = new AtomicLong(0)
  private val inFlight = new AtomicInteger(0)
  @volatile private var armed = false
  @volatile private var crashAt = Long.MaxValue
  @volatile private var armedBy: Thread = _
  private val hook = new AtomicReference[((Long, Path) => Boolean, () => Unit)]()

  /** Count from zero, crashing at call `k` (never for Long.MaxValue). */
  def arm(k: Long): Unit = {
    calls.set(0); crashAt = k; armedBy = Thread.currentThread(); armed = true
  }

  /** Count from zero, never crashing; at the first counted call k on
    * path p for which `at(k, p)` holds, run `body` once on the calling
    * thread, then make the call.
    */
  def hookAt(at: (Long, Path) => Boolean)(body: => Unit): Unit = {
    hook.set((at, () => body)); arm(Long.MaxValue)
  }

  /** Stop counting, crashing and hooking. */
  def disarm(): Unit = { armed = false; hook.set(null) }

  /** Mutating calls running now, on any thread. */
  def running: Int = inFlight.get()

  /** The driver's mutating calls since the last [[arm]]. */
  def counted: Long = calls.get()

  /** Counts the call, runs a due hook and throws from the crash point
    * on; true for a counted call off the arming thread (a commit-pool
    * call).
    */
  private def mutation(p: Path): Boolean = armed && {
    val executor = Thread.currentThread().getName.startsWith("Executor task launch worker")
    val k = if (executor) calls.get() else calls.incrementAndGet()
    if (k >= crashAt) throw new InjectedCrash(k)
    val h = hook.get()
    if (!executor && h != null && h._1(k, p) && hook.compareAndSet(h, null)) h._2()
    !executor && Thread.currentThread() != armedBy
  }

  /** The CAS on a scheme without an atomic fail-if-exists rename: one
    * JVM-wide lock around check-and-publish (ConcurrentCommitSpec's
    * coordinator shape).
    */
  private val claim = new Commit.ClaimPrimitive {
    def claim(fs: FileSystem, tmp: Path, dst: Path): Boolean = synchronized {
      if (fs.exists(dst)) false else fs.rename(tmp, dst)
    }
  }

  /** The `faulty://` filesystem, with its scheme's claim registered. */
  def of(spark: org.apache.spark.sql.SparkSession): FileSystem = {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    Commit.registerClaimPrimitive("faulty", claim)
    new Path("faulty:///tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
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

  private lazy val faulty: FileSystem = FaultyFs.of(spark)

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
    Commit.commitStage(faulty, target, Set.empty, latest(target),
      new Path(target + ".__stage-extra"))
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
      Commit.recover(faulty, t)
      val healed = read(t)
      withClue("the pinned read is generation g or g+1 exactly: ") {
        Seq((g, before), (g + 1, after)) should contain((latest(t), healed))
      }
      commitExtra(t)
      backdate(t)
      Streaming.vacuum(spark, t, olderThanMs = 0L, dryRun = false)
      withClue("no deleted row comes back: ") { read(t) shouldBe (healed ++ extraRows).sorted }
      assertEntriesOnDisk(t)
      withClue("no temp or unreachable file is left in the manifest dir: ") {
        unreachable(t) shouldBe empty
      }
    }
    calls
  }

  /** Every entry of every retained generation names a file on disk. */
  private def assertEntriesOnDisk(t: String): Unit = {
    val listing = Snapshot.list(faulty, t)
    val mdir = Snapshot.manifestDir(t)
    for (gen <- listing.gens if gen > listing.latest.get - Snapshot.ManifestKeep;
         e <- listing.at(gen).entries) withClue(s"generation $gen, entry ${e.path}: ") {
      faulty.exists(new Path(s"$t/${e.path}")) shouldBe true
      (e.dv.map(_.sidecar) ++ e.blooms.values).foreach(s =>
        faulty.exists(new Path(mdir, s)) shouldBe true)
    }
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
    // brand-new .__stage-<token>, or one by the recovery that runs
    // first on this clean table) adds a crash point and fails this
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
    // exact: a mutating call by the recovery that runs first on this
    // clean table, or a lease, would add one. With the table lease
    // (create, claim, release rename, delete) and the shared stage's
    // unconditional delete it was 25.
    points shouldBe 19L
  }

  /** Shard 0 of [[base7]] rewritten at version 8. */
  private val shard0 = 0L until 200L by 4

  private def shard0At8(rs: Seq[(Long, String)]): Seq[(Long, String)] =
    (rs.filterNot(_._1 % 4 == 0) ++ shard0.map(k => (k, s"p8-$k"))).sorted

  test("an upsertPartitionedBatch crashed at ANY mutating call heals to generation g " +
      "or g+1, and the sweep leaves nothing unreachable") {
    val points = enumerateCrashes(base7, shard0At8(read(base7))) { t => upsert(t, shard0, 8L) }
    info(s"$points crash points")
    // exact, like the others: the staged write's job commit, the plan,
    // the move, the checkpoint and its per-dir manifests, the claim,
    // the prune and the stage
    points shouldBe 25L
  }

  test("a second roller at ANY mutating call of a writer's commit lands its plan once, " +
      "and the writer returns normally") {
    // the writer: a hand-staged commit replacing shard 0 at gen 8 (a
    // checkpoint, so the calls cover its per-dir manifests too); the
    // roller: the recovery entry, run to completion before call k
    val g = latest(base7)
    val after = shard0At8(read(base7))
    val replacement = shard0File(shard0, 8L)
    def commit(t: String): Unit =
      Commit.commitStage(faulty, t, Set("shard=0"), g, new Path(t + ".__stage-roller"))
    val clean = copyTable(base7, "graft-roller-clean")
    stageShard0(clean, ".__stage-roller", replacement)
    FaultyFs.arm(Long.MaxValue)
    try commit(clean) finally FaultyFs.disarm()
    val calls = FaultyFs.counted
    for (k <- 1L to calls) withClue(s"second roller at mutating call $k of $calls: ") {
      val t = copyTable(base7, "graft-roller")
      stageShard0(t, ".__stage-roller", replacement)
      var rolled = false
      FaultyFs.hookAt((n, _) => n == k) { rolled = true; Commit.recover(faulty, t) }
      try commit(t) finally FaultyFs.disarm()
      rolled shouldBe true
      (latest(t), read(t)) shouldBe ((g + 1, after))
      val listing = Snapshot.list(faulty, t)
      listing.gens.filter(listing.header(_).plan.contains("roller")) shouldBe Seq(g + 1)
      faulty.exists(new Path(t + ".__stage-roller")) shouldBe false
      assertEntriesOnDisk(t)
    }
    info(s"$calls mutating calls")
  }

  test("an updateWhere whose plan a second roller lands applies its change once, " +
      "even under a later commit to the same dirs") {
    import spark.implicits._
    def readV(t: String): Seq[(Long, String, Long)] =
      Streaming.readCommitted(spark, t).select("id", "payload", "v")
        .as[(Long, String, Long)].collect().toSeq.sorted
    val g = latest(base7)
    val before = readV(base7)
    def update(t: String): Unit =
      Streaming.updateWhere(spark, t, col("id") % 10 === 3, Map("v" -> (col("v") + 1)),
        stagePartitionBy = Seq("shard")) shouldBe 20L
    // the mutating calls of its commit: from the plan's rename on
    var planCall = 0L
    val clean = copyTable(base7, "graft-roller-update-clean")
    FaultyFs.hookAt { (k, p) =>
      if (planCall == 0L && p.getName == Commit.StageCommitMarker) planCall = k
      false
    }(())
    try update(clean) finally FaultyFs.disarm()
    val calls = FaultyFs.counted
    planCall should be > 0L
    // the plan id is the stage's whole-UUID token
    Snapshot.list(faulty, clean).header(g + 1).plan.map(_.length) shouldBe Some(36)
    for (k <- planCall to calls) withClue(s"second roller at mutating call $k of $calls: ") {
      val t = copyTable(base7, "graft-roller-update")
      var overlapped = false
      FaultyFs.hookAt((n, _) => n == k) {
        Commit.recover(faulty, t)
        // the plan has landed: a later commit changes a dir it read
        if (latest(t) == g + 1) {
          Streaming.deleteWhere(spark, t, col("id") === 1L) shouldBe 1L
          overlapped = true
        }
      }
      try update(t) finally FaultyFs.disarm()
      latest(t) shouldBe (if (overlapped) g + 2 else g + 1)
      readV(t) shouldBe before.collect {
        case (id, p, v) if id != 1L || !overlapped => (id, p, if (id % 10 == 3) v + 1 else v)
      }
      assertEntriesOnDisk(t)
    }
    info(s"${calls - planCall + 1} mutating calls from the plan's rename")
  }

  test("a checkpoint attempt whose listing a concurrent prune outran loses its CAS " +
      "instead of failing") {
    // base7 is checkpoint 1 and deltas 2-7; the listing is taken before
    // anything is read through it, as a writer's listing is before its
    // window is read
    val t = copyTable(base7, "graft-fault-stale")
    val stale = Snapshot.list(faulty, t)
    // gens 8-11 land; gen 11's prune moves the chain floor to
    // checkpoint 8, deleting checkpoint 1 and the deltas after it
    (8L to 11L).foreach(v => upsert(t, 1L until 200L by 4, v))
    Snapshot.list(faulty, t).checkpoints shouldBe Seq(8L)
    val postState = Snapshot.at(faulty, t, 11L, Some(Set("shard=0"))).entries.groupBy(_.dir)
    Commit.tryCommitManifest(faulty, stale, 8L, postState, Nil, Nil) shouldBe false
    latest(t) shouldBe 11L
    withClue("the lost attempt wrote nothing: ") { unreachable(t) shouldBe empty }
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
      stageShard0(t, ".__stage-boot", replacement)
      Commit.commitStage(faulty, t, Set("shard=0"), 0L, new Path(t + ".__stage-boot"))
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
    rows(shard0, 5L).coalesce(1).write.partitionBy("shard").parquet(target + ".__stage-count")
    val counting = new CountingFs(local)
    Commit.commitStage(counting, target, Set("shard=0"), 4L,
      new Path(target + ".__stage-count"))
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
