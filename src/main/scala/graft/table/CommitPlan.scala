package graft.table

import graft.table.Manifest.{dec, enc}

/** A key range that a merge's NOT-MATCHED decisions depend on: the
  * merge inserted its unmatched source rows on the premise that no live
  * row holds a key inside the envelope beyond what it scanned, so a
  * concurrent commit ADDING an entry that may hold such a key makes the
  * plan stale.
  */
sealed trait KeyEnvelope {

  /** True unless `e`'s zone map proves it holds no key inside this
    * envelope. An entry with no bounds for the column cannot prove it.
    */
  def mayHold(e: ManifestEntry): Boolean
}

object KeyEnvelope {

  /** The un-pruned envelope (a merge with an insert clause and no prune
    * columns): any added entry may hold a matching key.
    */
  case object All extends KeyEnvelope {
    def mayHold(e: ManifestEntry): Boolean = true
  }

  /** Keys of `column` in [`lo`, `hi`], rendered like zone-map bounds of
    * `kind` (`l` integral, `d` floating, `s` string).
    */
  final case class Range(column: String, kind: Char, lo: String, hi: String)
      extends KeyEnvelope {
    def mayHold(e: ManifestEntry): Boolean = e.bounds.range(column) match {
      case None => true
      case Some((bk, mn, mx)) => bk != kind || Snapshot.overlapsRendered(kind, mn, mx, lo, hi)
    }
  }
}

/** The commit plan a writer drops at its stage root once the staged
  * write is complete: the recovery pivot and the commit's whole
  * instruction set ([[Commit.commitStage]] writes it, the roll-forward
  * in [[Commit]] executes it).
  *
  *  - `readGen`: the generation the writer's read was based on (0 for a
  *    table with no committed generation). The commit conflicts when a
  *    dir it depends on changed after it;
  *  - `tag`, `txn`: the idempotency token and the per-scope transaction
  *    high-water mark riding in the commit's header;
  *  - `replacedDirs`: dirs whose previous entries this commit supersedes
  *    ("" = the table root);
  *  - `volatileDirs`: dirs whose live rows the plan read without
  *    replacing them: conflict-checked like replaced dirs, entries kept;
  *  - `envelopes`: the [[KeyEnvelope]]s of a merge's insert decisions;
  *  - `modified`: entries changed in place (delete-vector retags);
  *  - `files`: the staged data files, relative to the stage root.
  */
final case class CommitPlan(
    readGen: Long,
    files: Seq[String] = Nil,
    replacedDirs: Set[String] = Set.empty,
    volatileDirs: Set[String] = Set.empty,
    envelopes: Seq[KeyEnvelope] = Nil,
    modified: Seq[ManifestEntry] = Nil,
    tag: Option[String] = None,
    txn: Option[(String, Long)] = None
) {

  /** One line per fact, `<kind> <value>`: `B` read generation, `T` tag,
    * `X scope id` txn, `R`/`V` replaced/volatile dir, `E` envelope
    * (`*`, or `column:kind:lo:hi` with each part URL-encoded), `M`
    * modified entry line, `F` staged file. Dirs, entries and files are
    * written sorted.
    */
  def encode: String =
    (Seq(s"B $readGen") ++
      tag.toSeq.map(t => s"T $t") ++
      txn.toSeq.map { case (s, i) => s"X $s $i" } ++
      replacedDirs.toSeq.sorted.map(d => s"R $d") ++
      volatileDirs.toSeq.sorted.map(d => s"V $d") ++
      envelopes.map {
        case KeyEnvelope.All => "E *"
        case KeyEnvelope.Range(c, k, lo, hi) => s"E ${enc(c)}:$k:${enc(lo)}:${enc(hi)}"
      } ++
      modified.sortBy(_.path).map(m => s"M ${m.encode}") ++
      files.sorted.map(f => s"F $f"))
      .mkString("\n")
}

object CommitPlan {

  /** Parse a plan written by [[CommitPlan.encode]]. Empty lines are
    * skipped; a line of an unknown kind or a malformed value throws,
    * since executing a plan with a fact dropped could commit what its
    * writer never meant, and so does a plan with no `B` line, a layout
    * no reader knows.
    */
  def decode(text: String): CommitPlan = {
    def corrupt(l: String): Nothing =
      throw new IllegalStateException(s"corrupt commit plan line: $l")
    val lines = text.split("\n", -1).toVector.filter(_.nonEmpty).map { l =>
      if (l.length < 2 || l.charAt(1) != ' ' || !"BTXRVEMF".contains(l.charAt(0))) corrupt(l)
      (l.charAt(0), l.substring(2), l)
    }
    def all[A](kind: Char)(f: (String, String) => A): Vector[A] =
      lines.collect { case (`kind`, v, l) => f(v, l) }
    def long(s: String, l: String): Long = s.toLongOption.getOrElse(corrupt(l))
    CommitPlan(
      files = all('F')((v, _) => v),
      replacedDirs = all('R')((v, _) => v).toSet,
      volatileDirs = all('V')((v, _) => v).toSet,
      envelopes = all('E') {
        case ("*", _) => KeyEnvelope.All
        case (v, l) => v.split(":", -1) match {
          case Array(c, k, lo, hi) if k.length == 1 =>
            KeyEnvelope.Range(dec(c), k.head, dec(lo), dec(hi))
          case _ => corrupt(l)
        }
      },
      modified = all('M')((v, _) => ManifestEntry.decode(v)),
      tag = all('T')((v, _) => v).lastOption,
      txn = all('X') { (v, l) =>
        val i = v.lastIndexOf(' ')
        if (i <= 0) corrupt(l)
        (v.substring(0, i), long(v.substring(i + 1), l))
      }.lastOption,
      // named arguments evaluate in written order: a malformed line
      // reports itself before a missing read generation does
      readGen = all('B')(long).lastOption.getOrElse(
        throw new IllegalStateException("commit plan with no read generation (no B line)")))
  }
}
