package graft.table

import java.io.FileNotFoundException

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}

/** One committed generation of a graft table: its live entries in
  * replay order, its own commit's header, and when it committed (the
  * Iceberg `Snapshot`, or Delta's log replayed to one version). Built by
  * one replay of the checkpoint chain ([[Listing.at]], [[Listing.walk]]);
  * every metadata question below is answered from it without touching
  * the filesystem.
  *
  * `dirs` names every directory the base checkpoint references plus
  * those the chain's adds name: a superset of the live directories
  * (a dir emptied by a delta may linger), known without loading any
  * per-dir manifest, so a dirs-restricted load still sees the layout.
  */
final case class Snapshot(
    gen: Long,
    entries: Vector[ManifestEntry],
    header: CommitHeader,
    committedAtMs: Long,
    isCheckpoint: Boolean,
    dirs: Set[String]
) {
  import Snapshot._

  def paths: Vector[String] = entries.map(_.path)

  lazy val byPath: Map[String, ManifestEntry] = entries.iterator.map(e => e.path -> e).toMap

  def hasDeleteVectors: Boolean = entries.exists(_.dv.isDefined)

  /** Per-directory LIVE row counts (footer rows minus delete-vector
    * positions).
    */
  def dirRowCounts: Map[String, Long] =
    entries.groupMapReduce(_.dir)(_.liveRows)(_ + _)

  /** `SELECT COUNT(*)` from the footer counts recorded at commit. */
  def rowCount: Long = entries.iterator.map(_.liveRows).sum

  /** MIN/MAX of `column` from the zone maps, with the column kind
    * (`l`/`d`/`s`). None whenever the answer cannot be proven from
    * metadata: a row-carrying entry without bounds that is not provably
    * all-null, delete vectors (a recorded extreme may be a deleted
    * row), or kinds mixed by schema drift. Zero-row entries are vacuous.
    */
  def minMax(column: String): Option[(String, String, Char)] = {
    val lines = entries.filterNot(_.isEmptyFile)
    if (lines.isEmpty || lines.exists(_.dv.isDefined)) None
    else {
      // an all-null file (null count == rows) is vacuous too
      val perFile = lines.filterNot { l =>
        l.bounds.range(column).isEmpty && l.bounds.nulls(column).contains(l.rows)
      }.map(_.bounds.range(column))
      if (perFile.isEmpty || perFile.exists(_.isEmpty)) None
      else {
        val bs = perFile.flatten
        val kind = bs.head._1
        if (bs.exists(_._1 != kind)) None
        else {
          def lt(a: String, b: String): Boolean = kind match {
            case 'l' => a.toLong < b.toLong
            case 'd' => a.toDouble < b.toDouble
            case _ => utf8Lt(a, b)
          }
          Some((bs.map(_._2).reduce((a, b) => if (lt(a, b)) a else b),
            bs.map(_._3).reduce((a, b) => if (lt(a, b)) b else a), kind))
        }
      }
    }
  }

  /** Null count of `column`: exact when every row-carrying entry
    * records one and no entry carries delete vectors (a deleted row may
    * be one of the counted nulls).
    */
  def nullCount(column: String): Option[Long] = {
    val lines = entries.filterNot(_.isEmptyFile)
    if (lines.exists(_.dv.isDefined)) None
    else {
      val per = lines.map(_.bounds.nulls(column))
      if (lines.nonEmpty && per.exists(_.isEmpty)) None
      else Some(per.flatten.sum)
    }
  }

  /** The share of row-carrying entries that carry a bloom tag for
    * `column` (files rewritten since the last build lose theirs).
    */
  def bloomCoverage(column: String): Double = {
    val lines = entries.filterNot(_.isEmptyFile)
    if (lines.isEmpty) 1.0
    else lines.count(_.blooms.contains(column)).toDouble / lines.size
  }

  /** CLUSTERING DEPTH of a long/double `column`: sum of per-file range
    * lengths over the domain length — the expected number of files a
    * point probe reads (~1.0 freshly clustered). None when any entry
    * lacks bounds, the column is a string, or the domain is one point.
    */
  def clusteringDepth(column: String): Option[Double] = {
    val per = entries.map(_.bounds.range(column))
    if (per.isEmpty || per.exists(_.isEmpty)) None
    else {
      val bs = per.flatten
      def num(k: Char, s: String): Double = if (k == 'l') s.toLong.toDouble else s.toDouble
      if (bs.exists(_._1 == 's')) None
      else {
        val spans = bs.map { case (k, mn, mx) => (num(k, mn), num(k, mx)) }
        val lo = spans.map(_._1).min
        val hi = spans.map(_._2).max
        if (hi <= lo) None
        else Some(spans.map { case (a, b) => b - a }.sum / (hi - lo))
      }
    }
  }

  /** Zone-map pruning with CLOSED ranges: the entries whose recorded
    * bounds can overlap every `(column, lo, hi)`. An entry without
    * bounds for a column is kept; a bound whose type does not fit the
    * column's kind refuses (IllegalArgumentException) — a fractional
    * bound on an integral column would prune files holding matches.
    */
  def rangeKept(predicates: Seq[(String, Any, Any)]): Vector[ManifestEntry] =
    entries.filter { l =>
      predicates.forall { case (column, lo, hi) =>
        l.bounds.range(column).forall { case (k, mn, mx) => overlaps(k, mn, mx, lo, hi) }
      }
    }
}

/** One `listStatus` of a table's manifest dir: every file's name,
  * length and mtime, and the generations they commit. Every load
  * through one listing reads each manifest file at most once (files
  * are immutable, so the decoded lines are kept for the listing's
  * lifetime — one table call).
  *
  * A checkpoint `gen-N` is a manifest LIST: `@ dir\tm-file` references
  * to per-directory manifests, plus its own commit's delta lines. A
  * delta `inc-N` holds the `+`/`-`/`~` lines against generation N-1.
  * Every file opens with its commit's `# ` header lines. A file that
  * holds any other layout (a checkpoint of plain entry lines, an entry
  * with no row count) is refused, naming the file.
  */
final class Listing private[table] (
    fs: FileSystem,
    val target: String,
    val files: Vector[ManifestFile]
) {
  private val dir = Snapshot.manifestDir(target)

  // a generation's file; in the dual-name window (`gen-N` beside
  // `inc-N`) the checkpoint stands for N
  private val genFile: Map[Long, ManifestFile] =
    files.filter(_.gen.isDefined).sortBy(_.isCheckpoint).map(f => f.gen.get -> f).toMap

  /** The retained generations, ascending. */
  val gens: Vector[Long] = genFile.keys.toVector.sorted

  val checkpoints: Vector[Long] = files.filter(_.isCheckpoint).flatMap(_.gen).sorted

  def latest: Option[Long] = gens.lastOption

  /** Commit time: the mtime of the generation's file, written once and
    * never rewritten, so the rename instant is the commit instant.
    */
  def committedAtMs(gen: Long): Option[Long] = genFile.get(gen).map(_.mtimeMs)

  private val decoded = new java.util.concurrent.ConcurrentHashMap[String, Vector[ManifestLine]]()

  private def read(name: String): Vector[ManifestLine] =
    decoded.computeIfAbsent(name, _ => {
      val in = fs.open(new Path(dir, name))
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      try text.split("\n").iterator.filter(_.nonEmpty).map(ManifestLine.decode).toVector
      catch { case e: IllegalStateException => unknownLayout(name, e.getMessage) }
    })

  private def unknownLayout(name: String, layout: String): Nothing =
    throw new IllegalStateException(
      s"manifest file ${new Path(dir, name)}: $layout — not the graft table format")

  private def refuse(gen: Long, cause: Throwable = null): Nothing =
    throw new IllegalStateException(
      s"manifest generation $gen of $target is not retained " +
        s"(retained: ${gens.mkString(",")}) — " +
        s"the retention horizon is ${Snapshot.ManifestKeep} generations", cause)

  /** Refuse a generation whose DATA FILES may already be GC'd: the
    * retention POLICY is ManifestKeep generations behind the latest,
    * even when the manifest file itself survives as a chain anchor.
    */
  def requireWithinHorizon(gen: Long): Unit = {
    val last = latest.getOrElse(
      throw new IllegalStateException(s"$target has no committed manifest"))
    if (gen <= last - Snapshot.ManifestKeep)
      throw new IllegalStateException(
        s"manifest generation $gen of $target is not retained " +
          s"(latest $last, horizon ${Snapshot.ManifestKeep} generations) — its replaced " +
          "files may already be deleted")
  }

  /** Generation `gen`'s commit header; empty when it is not retained,
    * pruned since this listing included.
    */
  def header(gen: Long): CommitHeader =
    genFile.get(gen).fold(CommitHeader())(f =>
      try headerOf(read(f.name)) catch { case _: FileNotFoundException => CommitHeader() })

  // header lines lead every manifest file
  private def headerOf(lines: Seq[ManifestLine]): CommitHeader =
    CommitHeader.of(lines.takeWhile(_.isInstanceOf[ManifestLine.Header]))

  /** A retained checkpoint's per-dir manifest references; a plain
    * entry line is the flat checkpoint layout, which no reader knows.
    */
  def checkpointRefs(gen: Long): Seq[ManifestLine.Ref] = {
    val name = Snapshot.checkpointName(gen)
    read(name).collect {
      case r: ManifestLine.Ref => r
      case ManifestLine.Entry(e) =>
        unknownLayout(name, s"flat checkpoint (plain entry line for ${e.path})")
    }
  }

  /** The lines of generation `gen`'s own commit, whose `+`/`-`/`~` lines
    * are its delta. None when that delta is unknowable — the file is
    * gone, or a `# rebuild` (a wholesale swap) — and a conflict scan
    * must then refuse conservatively.
    */
  def changes(gen: Long): Option[Seq[ManifestLine]] =
    genFile.get(gen)
      .flatMap(f => try Some(read(f.name)) catch { case _: FileNotFoundException => None })
      .filterNot(lines => CommitHeader.of(lines).rebuild)

  /** The directories the commits in (`from`, `to`] touched (a `~`
    * retag changes a dir's live rows without touching its file set, so
    * it counts); None when any of those deltas is unknowable.
    */
  def changedDirs(from: Long, to: Long): Option[Set[String]] =
    ((from + 1) to to).foldLeft(Option(Set.empty[String])) { (acc, g) =>
      for (a <- acc; lines <- changes(g)) yield a ++ lines.iterator.collect {
        case ManifestLine.Add(e) => e.dir
        case ManifestLine.Remove(p) => Manifest.dirOf(p)
        case ManifestLine.Modify(e) => e.dir
      }
    }

  /** The paths any of `gens` references in `dirs`; a generation whose
    * chain is pruned while this listing is read references none.
    */
  def referencedPaths(gens: Seq[Long], dirs: Set[String]): Set[String] =
    gens.flatMap { g =>
      try at(g, Some(dirs)).paths catch { case _: IllegalStateException => Nil }
    }.toSet

  /** Generation `gen`, restricted to `dirs` (None = all): O(requested
    * dirs' entries + #dir refs + window deltas) — the manifest-list read
    * path a shard-scoped verb takes on a table of millions of files.
    * Refuses loudly for a pruned or never-committed generation.
    */
  def at(gen: Long, dirs: Option[Set[String]] = None): Snapshot = walk(gen, gen, dirs).head

  /** Every retained generation, from one replay (empty for none). */
  def walkAll(dirs: Option[Set[String]] = None): Vector[Snapshot] =
    latest.fold(Vector.empty[Snapshot])(walk(gens.head, _, dirs))

  /** Every generation in [`from`, `to`] from ONE replay: the nearest
    * checkpoint at or below `from`, then each delta in turn (a
    * checkpoint inside the range is loaded as the new base, exactly as
    * `at` would load it).
    */
  def walk(from: Long, to: Long, dirs: Option[Set[String]] = None): Vector[Snapshot] = {
    require(from <= to, s"walk from generation $from past $to")
    if (!genFile.contains(from)) refuse(from)
    def wanted(d: String): Boolean = dirs.forall(_.contains(d))
    def load(gen: Long, name: String): Vector[ManifestLine] =
      try read(name) catch { case e: FileNotFoundException => refuse(gen, e) }
    val entries = mutable.LinkedHashMap.empty[String, ManifestEntry]
    var seen = Set.empty[String]
    val out = Vector.newBuilder[Snapshot]
    var g = checkpoints.filter(_ <= from).lastOption.getOrElse(refuse(from))
    while (g <= to) {
      // every generation after the base must be retained — a hole means
      // the chain was pruned out from under us; a failure before `from`
      // refuses `from` itself
      val asked = math.max(g, from)
      val f = genFile.getOrElse(g, refuse(asked))
      val lines = load(asked, f.name)
      if (f.isCheckpoint) {
        entries.clear()
        val refs = checkpointRefs(g)
        seen = refs.iterator.map(_.dir).toSet
        Snapshot.inParallel(refs.filter(r => wanted(r.dir)))(r => load(asked, r.file))
          .foreach(_.foreach {
            case ManifestLine.Entry(e) => entries(e.path) = e
            case _ => ()
          })
      } else lines.foreach {
        case ManifestLine.Add(e) =>
          seen += e.dir
          if (wanted(e.dir)) entries(e.path) = e
        case ManifestLine.Remove(p) => entries.remove(p)
        // same path, new entry (a delete-vector or bloom tag landed) —
        // distinct from `+` so followers never read it as added
        case ManifestLine.Modify(e) => if (wanted(e.dir)) entries(e.path) = e
        case _: ManifestLine.Header => ()
        case line => throw new IllegalStateException(
          s"malformed delta line in ${f.name} of $target: '${line.encode}'")
      }
      if (g >= from)
        out += Snapshot(g, entries.values.toVector, headerOf(lines), f.mtimeMs,
          f.isCheckpoint, seen)
      g += 1
    }
    out.result()
  }
}

/** One file of a manifest dir as a listing saw it. */
final case class ManifestFile(name: String, length: Long, mtimeMs: Long) {
  def isCheckpoint: Boolean = name.startsWith("gen-")

  /** The generation a checkpoint or delta commits. */
  def gen: Option[Long] =
    if (isCheckpoint || name.startsWith("inc-")) name.substring(4).toLongOption else None
}

object Snapshot {
  /** Generations retained for pinned readers: a reader holding
    * generation g scans paths guaranteed present until the table
    * advances ManifestKeep generations past g (each generation's
    * replaced files are deleted only when that generation is pruned).
    */
  val ManifestKeep = 3

  /** Sibling directory holding manifest generations — OUTSIDE the
    * table dir, so data-file listings never see them.
    */
  def manifestDir(target: String): Path = new Path(target + ".__manifests")

  def checkpointName(gen: Long): String = f"gen-$gen%012d"

  def deltaName(gen: Long): String = f"inc-$gen%012d"

  /** The one `listStatus` a table call makes of the manifest dir; an
    * absent dir lists empty.
    */
  def list(fs: FileSystem, target: String): Listing = {
    val files =
      try fs.listStatus(manifestDir(target)).iterator
        .map(st => ManifestFile(st.getPath.getName, st.getLen, st.getModificationTime)).toVector
      catch { case _: FileNotFoundException => Vector.empty }
    new Listing(fs, target, files)
  }

  def at(fs: FileSystem, target: String, gen: Long, dirs: Option[Set[String]] = None): Snapshot =
    list(fs, target).at(gen, dirs)

  /** The latest generation; None for a table with no manifest. */
  def latest(fs: FileSystem, target: String): Option[Snapshot] = {
    val l = list(fs, target)
    l.latest.map(l.at(_))
  }

  /** The latest generation of a table a verb of this module wrote;
    * `doing` names the refused action when there is none.
    */
  def requireLatest(fs: FileSystem, target: String, doing: String): Snapshot =
    latest(fs, target).getOrElse(throw new IllegalStateException(
      s"cannot $doing $target: no committed manifest (not maintained by this module)"))

  def walk(fs: FileSystem, target: String, from: Long, to: Long): Vector[Snapshot] =
    list(fs, target).walk(from, to)

  /** A directory name's hive partition chain, `col=value(/col=value)*`,
    * values hive-unescaped (`%xx` sequences, as `partitionBy` writes
    * them; the null sentinel is null). None for any other name, the
    * table root ("") included.
    */
  def partitionChain(dir: String): Option[Seq[(String, String)]] =
    if (dir.isEmpty) None
    else {
      val segs = dir.split('/').toSeq.map(_.split("=", 2) match {
        case Array(c, v) if c.matches("[A-Za-z_][A-Za-z0-9_]*") => Some(c -> hiveUnescape(v))
        case _ => None
      })
      if (segs.forall(_.isDefined)) Some(segs.flatten) else None
    }

  /** The partition columns of a table whose data directories are
    * `dirs`, as a table's layout is written down: in its directory
    * names (Delta keeps them as `metaData.partitionColumns`, Iceberg as
    * a partition spec). The one column chain every dir names
    * ([[partitionChain]]); Nil when no dir is hive-shaped (a flat
    * table). A mix (some dirs hive-shaped and some not, or two column
    * chains) is no layout, and is refused naming `target`.
    */
  def partitionColumns(target: String, dirs: Iterable[String]): Seq[String] = {
    val chains = dirs.toSeq.distinct.map(d => d -> partitionChain(d))
    val colSeqs = chains.flatMap(_._2).map(_.map(_._1)).distinct
    if (colSeqs.isEmpty) Nil
    else if (colSeqs.size == 1 && chains.forall(_._2.isDefined)) colSeqs.head
    else throw new IllegalArgumentException(
      s"$target has an inconsistent partition layout (directories: " +
        s"${chains.map(_._1).sorted.take(5).mkString(", ")} ...) — every directory must be " +
        "a col=value(/col=value)* chain over one column sequence, or none may be")
  }

  private def hiveUnescape(v: String): String =
    if (v == "__HIVE_DEFAULT_PARTITION__") null
    else if (!v.contains('%')) v
    else try java.net.URLDecoder.decode(v.replace("+", "%2B"), "UTF-8")
    catch { case _: IllegalArgumentException => v }

  /** Parallelism of independent manifest and commit FS operations
    * (per-dir manifest reads and writes, staged-file renames, footer
    * reads): N of them cost O(N / threads) round-trips.
    */
  private val PoolThreads = 16

  /** `items.map(f)` on up to [[PoolThreads]] threads. A failed `f`
    * fails the batch loudly, but only once no call is left running:
    * the ops not yet started are cancelled, the running ones awaited,
    * then the first failure (in item order) is rethrown, so the caller
    * never races a pool thread still renaming or creating files.
    */
  private[graft] def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.size <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(PoolThreads, items.size))
      try {
        val futures = items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = f(a)
        }))
        pool.shutdown()
        try futures.map(fu =>
          try fu.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
        catch {
          case NonFatal(e) =>
            futures.foreach(_.cancel(false))
            try pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
            catch { case _: InterruptedException => Thread.currentThread().interrupt() }
            throw e
        }
      } finally pool.shutdownNow()
    }

  /** The `entries` whose recorded bounds can overlap every open-ended
    * `(column, lo, hi)` range (None = that side unbounded). Lossless:
    * an unboundable column or a bound/kind type mismatch keeps the
    * file — pruning is never a correctness dependency.
    */
  def zoneKept(
      entries: Seq[ManifestEntry],
      predicates: Seq[(String, Option[Any], Option[Any])]
  ): Seq[ManifestEntry] =
    if (predicates.isEmpty) entries
    else entries.filter { e =>
      predicates.forall { case (column, lo, hi) =>
        e.bounds.range(column) match {
          case None => true
          case Some((k, mn, mx)) =>
            try overlapsOpen(k, mn, mx, lo, hi)
            catch { case _: IllegalArgumentException => true } // type drift: keep
        }
      }
    }

  /** The `entries` that can hold rows satisfying `column IS [NOT] NULL`,
    * from the recorded null counts. Lossless: a file without the
    * statistic is kept, and deletion never adds a null or a non-null.
    */
  def nullKept(entries: Seq[ManifestEntry], column: String, isNull: Boolean): Seq[ManifestEntry] =
    entries.filter { l =>
      val nc = l.bounds.nulls(column)
      if (isNull) nc.forall(_ > 0L)
      else l.bounds.range(column).isDefined || nc.forall(_ < l.rows)
    }

  private def overlapsOpen(
      kind: Char, mn: String, mx: String, lo: Option[Any], hi: Option[Any]): Boolean =
    kind match {
      case 'l' =>
        lo.forall(v => mx.toLong >= asLong(v)) && hi.forall(v => mn.toLong <= asLong(v))
      case 'd' =>
        lo.forall(v => mx.toDouble >= asDouble(v)) && hi.forall(v => mn.toDouble <= asDouble(v))
      case _ =>
        lo.forall(v => !utf8Lt(mx, v.toString)) && hi.forall(v => !utf8Lt(v.toString, mn))
    }

  private def overlaps(kind: Char, mn: String, mx: String, lo: Any, hi: Any): Boolean =
    kind match {
      case 'l' => !(mx.toLong < asLong(lo) || mn.toLong > asLong(hi))
      case 'd' => !(mx.toDouble < asDouble(lo) || mn.toDouble > asDouble(hi))
      case _ => !(utf8Lt(mx, lo.toString) || utf8Lt(hi.toString, mn))
    }

  /** [[overlaps]] with string-rendered query bounds (a commit plan's
    * key-envelope lines).
    */
  private[graft] def overlapsRendered(
      kind: Char, mn: String, mx: String, lo: String, hi: String): Boolean =
    kind match {
      case 'l' => !(mx.toLong < lo.toLong || mn.toLong > hi.toLong)
      case 'd' => !(mx.toDouble < lo.toDouble || mn.toDouble > hi.toDouble)
      case _ => !(utf8Lt(mx, lo) || utf8Lt(hi, mn))
    }

  /** UNSIGNED UTF-8 byte-wise string order — the order parquet's
    * binary statistics are computed in AND the order Spark's
    * UTF8String filter comparisons use. Scala's String `<` (UTF-16
    * code units) diverges from both above the BMP, which would
    * mis-prune a file whose bounds straddle a surrogate pair.
    */
  private[graft] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private[graft] def asLong(v: Any): Long = v match {
    case n: Byte => n.toLong
    case n: Short => n.toLong
    case n: Int => n.toLong
    case n: Long => n
    case other => throw new IllegalArgumentException(
      s"zone-map bound for an integral column must be integral, got " +
        s"$other (${other.getClass.getName}) — a fractional bound would " +
        "prune files that hold matching rows")
  }

  private[graft] def asDouble(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue
    case other => throw new IllegalArgumentException(
      s"zone-map bound for a floating column must be numeric, got $other")
  }
}
