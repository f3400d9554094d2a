package graft.table

import java.net.{URLDecoder, URLEncoder}

/** The text format of a graft table's manifest files, and the only code
  * that knows it. Every line is decoded once into a typed value and
  * encoded back byte-identically (the Iceberg manifest entry / Delta
  * `add` action shape, over tab-separated text).
  *
  * An ENTRY line is `path\trows[\tbounds][\ttag]*`:
  *
  *  - `rows`: the file's footer row count, always present: a line
  *    without one is refused;
  *  - `bounds`: the zone map, a comma-joined list of
  *    `name:kind:min:max[:nulls]` tokens (every part URL-encoded; kind
  *    `l` integral, `d` floating, `s` string, `z` all-null with empty
  *    min/max). Present only after `rows`, possibly empty;
  *  - tags: `sh:<hash>` (the file's schema fingerprint),
  *    `dv:<sidecar>:<n>` (a delete vector of n positions),
  *    `bl:<column>:<sidecar>` (a bloom filter), kept in written order;
  *    an unrecognised field is kept verbatim.
  *
  * A bounds token has at least three colons and a tag at most two, so a
  * field after `rows` is told apart by shape, never by a prefix that a
  * column named `dv`, `sh` or `bl` could fake.
  */
object Manifest {
  private[table] def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private[table] def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  /** The directory half of a table-relative path ("" at the root). */
  def dirOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }
}

/** One column's zone-map statistics: `kind` `l`/`d`/`s`, or `z` when
  * every row is null (min and max then empty); `nulls` is None when
  * some chunk lacked the statistic.
  */
final case class ColumnStats(kind: Char, min: String, max: String, nulls: Option[Long])

/** An entry's zone map, held as its encoded field and decoded on first
  * use, so path-only readers never pay the URL decoding. `field` None
  * means the line has no bounds field at all (distinct from an empty
  * one).
  */
final case class Bounds(field: Option[String]) {
  import Manifest.dec

  lazy val columns: Map[String, ColumnStats] = field match {
    case None | Some("") => Map.empty
    case Some(f) => f.split(',').iterator.flatMap { tok =>
      tok.split(":", -1) match {
        case Array(n, k, lo, hi) if k.length == 1 =>
          Some(dec(n) -> ColumnStats(k.head, dec(lo), dec(hi), None))
        case Array(n, k, lo, hi, nc) if k.length == 1 =>
          Some(dec(n) -> ColumnStats(k.head, dec(lo), dec(hi), nc.toLongOption))
        case _ => None
      }
    }.toMap
  }

  /** `column`'s (kind, min, max) when the file recorded values for it. */
  def range(column: String): Option[(Char, String, String)] =
    columns.get(column).collect { case s if s.kind != 'z' => (s.kind, s.min, s.max) }

  /** `column`'s null count, when every chunk recorded one. */
  def nulls(column: String): Option[Long] = columns.get(column).flatMap(_.nulls)
}

object Bounds {
  val Absent: Bounds = Bounds(None)

  /** Encode `columns` in the given order. */
  def of(columns: Seq[(String, ColumnStats)]): Bounds = {
    import Manifest.enc
    Bounds(Some(columns.map { case (n, s) =>
      s"${enc(n)}:${s.kind}:${enc(s.min)}:${enc(s.max)}" + s.nulls.fold("")(c => s":$c")
    }.mkString(",")))
  }

  private[table] def isField(s: String): Boolean = {
    val end = { val c = s.indexOf(','); if (c < 0) s.length else c }
    var colons = 0
    var i = s.indexOf(':')
    while (i >= 0 && i < end && colons < 3) { colons += 1; i = s.indexOf(':', i + 1) }
    s.isEmpty || colons == 3
  }
}

sealed trait Tag {
  import Tag._
  def encode: String = this match {
    case SchemaHash(h) => s"sh:$h"
    case Dv(sidecar, n) => s"dv:$sidecar:$n"
    case Bloom(column, sidecar) => s"bl:${Manifest.enc(column)}:$sidecar"
    case Unknown(raw) => raw
  }
}

object Tag {
  /** The file's own parquet-schema fingerprint (8 hex chars). */
  final case class SchemaHash(hash: String) extends Tag
  /** A delete vector: `sidecar` is a manifest-dir parquet of (rel, pos)
    * deleted row positions covering the file COMPLETELY (a re-delete
    * unions the prior positions into its new sidecar); `n` their count.
    */
  final case class Dv(sidecar: String, n: Long) extends Tag
  /** A bloom filter over `column`: `sidecar` is a manifest-dir parquet
    * of (rel, m, k, bits) rows.
    */
  final case class Bloom(column: String, sidecar: String) extends Tag
  final case class Unknown(raw: String) extends Tag

  /** A known tag is `xx:<a>` or `xx:<a>:<b>` with no comma; anything
    * else, or a bloom column not in the encoder's own spelling, is
    * Unknown. Parsed with indexOf: this runs for every field of every
    * manifest line read.
    */
  def decode(f: String): Tag = {
    val c1 = f.indexOf(':')
    val c2 = f.indexOf(':', c1 + 1)
    if (c1 != 2 || f.indexOf(',') >= 0 || (c2 >= 0 && f.indexOf(':', c2 + 1) >= 0)) Unknown(f)
    else if (f.startsWith("sh") && c2 < 0 && f.length > 3) SchemaHash(f.substring(3))
    else if (f.startsWith("dv") && c2 > 3 && isCount(f.substring(c2 + 1)))
      Dv(f.substring(3, c2), f.substring(c2 + 1).toLong)
    else if (f.startsWith("bl") && c2 >= 3 && c2 < f.length - 1) {
      val col = f.substring(3, c2)
      val decoded =
        if (isPlain(col)) Some(col)
        else scala.util.Try(Manifest.dec(col)).toOption.filter(Manifest.enc(_) == col)
      decoded.fold[Tag](Unknown(f))(Bloom(_, f.substring(c2 + 1)))
    } else Unknown(f)
  }

  /** Only characters the URL codec leaves alone: `s` is its own
    * encoding, so a bloom column needs no round trip through the codec.
    */
  private def isPlain(s: String): Boolean = {
    var i = 0
    while (i < s.length && {
      val ch = s.charAt(i)
      ch < 128 && (Character.isLetterOrDigit(ch) || ".-*_".indexOf(ch.toInt) >= 0)
    }) i += 1
    i == s.length
  }

  /** A count as the encoder writes it: decimal digits, no leading zero. */
  private[table] def isCount(s: String): Boolean = {
    var i = 0
    while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
    i == s.length && i > 0 && (i == 1 || s.charAt(0) != '0') &&
      (i < 19 || s.toLongOption.isDefined)
  }
}

/** One live data file of a manifest generation, with its footer row
  * count.
  */
final case class ManifestEntry(
    path: String,
    rows: Long,
    bounds: Bounds,
    tags: Seq[Tag]
) {
  def dir: String = Manifest.dirOf(path)

  def dv: Option[Tag.Dv] = tags.collectFirst { case d: Tag.Dv => d }

  def schemaHash: Option[String] = tags.collectFirst { case Tag.SchemaHash(h) => h }

  /** Indexed column -> bloom sidecar. */
  def blooms: Map[String, String] = tags.collect { case Tag.Bloom(c, s) => c -> s }.toMap

  /** Footer rows minus delete-vector positions. */
  def liveRows: Long = rows - dv.fold(0L)(_.n)

  /** A schema-bearing file with zero rows (an emptied shard's file). */
  def isEmptyFile: Boolean = rows == 0L

  /** This entry with its delete-vector tag replaced (or appended). */
  def withDv(sidecar: String, n: Long): ManifestEntry =
    copy(tags = tags.filterNot(_.isInstanceOf[Tag.Dv]) :+ Tag.Dv(sidecar, n))

  /** This entry with `column`'s bloom tag replaced (or appended). */
  def withBloom(column: String, sidecar: String): ManifestEntry =
    copy(tags = tags.filterNot {
      case Tag.Bloom(c, _) => c == column
      case _ => false
    } :+ Tag.Bloom(column, sidecar))

  def encode: String = {
    val sb = new java.lang.StringBuilder(path).append('\t').append(rows)
    bounds.field.foreach(b => sb.append('\t').append(b))
    tags.foreach(t => sb.append('\t').append(t.encode))
    sb.toString
  }
}

object ManifestEntry {

  /** Decode an entry line; a line with no row count after the path is
    * the stat-less layout, which no reader knows, and is refused.
    */
  def decode(line: String): ManifestEntry = {
    val f = line.split("\t", -1)
    if (f.length < 2 || !Tag.isCount(f(1)))
      throw new IllegalStateException(s"stat-less manifest entry (no row count): '$line'")
    val hasBounds = f.length > 2 && Bounds.isField(f(2))
    ManifestEntry(f(0), f(1).toLong,
      if (hasBounds) Bounds(Some(f(2))) else Bounds.Absent,
      f.iterator.drop(if (hasBounds) 3 else 2).map(Tag.decode).toList)
  }
}

/** One line of a manifest FILE. A checkpoint (`gen-N`) holds header
  * lines, `@ dir\tm-file` references to per-directory manifests, and
  * its own commit's delta; a delta (`inc-N`) holds header lines and
  * `+ ` add, `- ` remove and `~ ` modify lines; a per-directory
  * manifest holds plain entry lines.
  */
sealed trait ManifestLine {
  import ManifestLine._
  def encode: String = this match {
    case Header(text) => s"# $text"
    case Ref(dir, file) => s"@ ${Manifest.enc(dir)}\t$file"
    case Add(e) => s"+ ${e.encode}"
    case Remove(path) => s"- $path"
    case Modify(e) => s"~ ${e.encode}"
    case Entry(e) => e.encode
  }
}

object ManifestLine {
  final case class Header(text: String) extends ManifestLine
  final case class Ref(dir: String, file: String) extends ManifestLine
  final case class Add(entry: ManifestEntry) extends ManifestLine
  final case class Remove(path: String) extends ManifestLine
  final case class Modify(entry: ManifestEntry) extends ManifestLine
  final case class Entry(entry: ManifestEntry) extends ManifestLine

  def decode(line: String): ManifestLine =
    if (line.length < 2 || line.charAt(1) != ' ') Entry(ManifestEntry.decode(line))
    else line.charAt(0) match {
      case '#' => Header(line.substring(2))
      case '+' => Add(ManifestEntry.decode(line.substring(2)))
      case '-' => Remove(line.substring(2))
      case '~' => Modify(ManifestEntry.decode(line.substring(2)))
      case '@' =>
        val t = line.indexOf('\t')
        Ref(Manifest.dec(line.substring(2, t)), line.substring(t + 1))
      case _ => Entry(ManifestEntry.decode(line))
    }
}

/** The `# ` header of one commit: its added files' schema fingerprint
  * (`# schema`), idempotency tag (`# tag`), per-scope transaction
  * high-water marks (`# txn <scope> <id>`, carried forward by every
  * commit), the `# rebuild` marker of a full-relist commit and the id
  * of the staged plan the commit lands (`# plan <token>`).
  */
final case class CommitHeader(
    schemaHash: Option[String] = None,
    tag: Option[String] = None,
    txns: Map[String, Long] = Map.empty,
    rebuild: Boolean = false,
    plan: Option[String] = None
) {
  def lines: Seq[ManifestLine.Header] =
    (schemaHash.map(h => s"schema $h").toSeq ++ tag.map(t => s"tag $t") ++
      txns.toSeq.sortBy(_._1).map { case (s, i) => s"txn $s $i" } ++
      (if (rebuild) Seq("rebuild") else Nil) ++
      plan.map(p => s"plan $p")).map(ManifestLine.Header)
}

object CommitHeader {
  def of(lines: Seq[ManifestLine]): CommitHeader = {
    val texts = lines.collect { case ManifestLine.Header(t) => t }
    CommitHeader(
      texts.collectFirst { case t if t.startsWith("schema ") => t.stripPrefix("schema ") },
      texts.collectFirst { case t if t.startsWith("tag ") => t.stripPrefix("tag ") },
      texts.iterator.filter(_.startsWith("txn ")).flatMap { t =>
        t.stripPrefix("txn ").split(' ') match {
          case Array(scope, id) if id.forall(c => c.isDigit || c == '-') =>
            id.toLongOption.map(scope -> _)
          case _ => None
        }
      }.toMap,
      texts.contains("rebuild"),
      texts.collectFirst { case t if t.startsWith("plan ") => t.stripPrefix("plan ") })
  }
}
