package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.table.{Bounds, ColumnStats, CommitHeader, ManifestEntry, ManifestLine, Tag}

/** The manifest codec (`graft.table.Manifest`): every line shape of
  * the table format decodes to the expected typed values and re-encodes
  * to the same bytes, and any entry the writers can build survives an
  * encode/decode round trip — hostile column names included.
  */
class ManifestEntrySpec extends AnyFunSuite with Matchers {

  private val p = "shard=3/part-00000-1f2e.c000.snappy.parquet"
  private val bounds = "id:l:0:119:0,name:s:a%3Ab:zz:2,v:z:::120"

  // one line per shape, oldest first
  private val golden: Seq[String] = Seq(
    s"$p\t120",                                          // row count
    s"$p\t120\tid:l:0:119",                              // + bounds, pre-null-count
    s"$p\t120\t\tsh:0a1b2c3d",                           // empty bounds + schema hash
    s"$p\t120\t$bounds\tsh:0a1b2c3d",                    // full stats
    s"$p\t120\tdv:dv-000000000002-ab12cd34.parquet:7",   // DV on a pre-bounds entry
    s"$p\t120\t$bounds\tsh:0a1b2c3d\tdv:dv-3.parquet:7\tbl:id:bl-4.parquet",
    s"$p\t120\t$bounds\tsh:0a1b2c3d\tbl:id:bl-4.parquet\tdv:dv-3.parquet:7",
    s"$p\t5\tdv:l:1:5:0\tsh:0a1b2c3d",                   // a column named dv
    s"$p\t5\tsh:s:a:b,bl:l:1:2\tsh:0a1b2c3d",            // columns named sh, bl
    s"$p\t120\t$bounds\tsh:0a1b2c3d\tx-future:1",        // unknown trailing field
    "@ shard%3D3\tm-000000000008-ab12cd34-0",
    s"+ $p\t120\t$bounds\tsh:0a1b2c3d",
    s"- $p",
    s"~ $p\t120\t$bounds\tsh:0a1b2c3d\tdv:dv-3.parquet:7",
    "# schema 0a1b2c3d",
    "# tag sinkbatch-4",
    "# txn sink-a 4",
    "# rebuild")

  test("every line shape ever written re-encodes to the same bytes") {
    golden.foreach { l =>
      withClue(s"'$l': ") { ManifestLine.decode(l).encode shouldBe l }
    }
  }

  test("the golden lines decode to the values their writers meant") {
    def entry(l: String) = ManifestEntry.decode(l)
    entry(s"$p\t120") shouldBe ManifestEntry(p, 120L, Bounds.Absent, Nil)
    entry(s"$p\t120\tid:l:0:119").bounds.range("id") shouldBe Some(('l', "0", "119"))
    entry(s"$p\t120\tid:l:0:119").bounds.nulls("id") shouldBe None
    val full = entry(s"$p\t120\t$bounds\tsh:0a1b2c3d")
    full.dir shouldBe "shard=3"
    full.bounds.range("name") shouldBe Some(('s', "a:b", "zz"))
    full.bounds.nulls("name") shouldBe Some(2L)
    full.bounds.range("v") shouldBe None // all-null: count only
    full.bounds.nulls("v") shouldBe Some(120L)
    full.schemaHash shouldBe Some("0a1b2c3d")
    full.dv shouldBe None
    val dv = entry(s"$p\t120\tdv:dv-000000000002-ab12cd34.parquet:7")
    dv.dv shouldBe Some(Tag.Dv("dv-000000000002-ab12cd34.parquet", 7L))
    dv.liveRows shouldBe 113L
    entry(s"$p\t120\t$bounds\tsh:0a1b2c3d\tdv:dv-3.parquet:7\tbl:id:bl-4.parquet").blooms shouldBe
      Map("id" -> "bl-4.parquet")
    val dvCol = entry(s"$p\t5\tdv:l:1:5:0\tsh:0a1b2c3d")
    dvCol.dv shouldBe None
    dvCol.bounds.range("dv") shouldBe Some(('l', "1", "5"))
    val shBl = entry(s"$p\t5\tsh:s:a:b,bl:l:1:2\tsh:0a1b2c3d")
    shBl.schemaHash shouldBe Some("0a1b2c3d")
    shBl.blooms shouldBe empty
    shBl.bounds.range("bl") shouldBe Some(('l', "1", "2"))
    entry(s"$p\t120\t$bounds\tsh:0a1b2c3d\tx-future:1").tags.last shouldBe
      Tag.Unknown("x-future:1")
    entry(s"$p\t0\t\tsh:0a1b2c3d").isEmptyFile shouldBe true
    ManifestLine.decode("@ shard%3D3\tm-000000000008-ab12cd34-0") shouldBe
      ManifestLine.Ref("shard=3", "m-000000000008-ab12cd34-0")
    ManifestLine.decode(s"- $p") shouldBe ManifestLine.Remove(p)
    CommitHeader.of(golden.takeRight(4).map(ManifestLine.decode)) shouldBe
      CommitHeader(Some("0a1b2c3d"), Some("sinkbatch-4"), Map("sink-a" -> 4L), rebuild = true)
    CommitHeader.of(golden.takeRight(4).map(ManifestLine.decode)).lines.map(_.encode) shouldBe
      golden.takeRight(4)
  }

  test("a retag drops the entry's old tag of that kind and appends the new one") {
    val e = ManifestEntry.decode(s"$p\t120\t$bounds\tsh:h\tdv:dv-1.parquet:2\tbl:id:bl-1.parquet")
    e.withDv("dv-2.parquet", 5L).encode shouldBe
      s"$p\t120\t$bounds\tsh:h\tbl:id:bl-1.parquet\tdv:dv-2.parquet:5"
    e.withBloom("id", "bl-2.parquet").encode shouldBe
      s"$p\t120\t$bounds\tsh:h\tdv:dv-1.parquet:2\tbl:id:bl-2.parquet"
    e.withBloom("name", "bl-2.parquet").blooms shouldBe
      Map("id" -> "bl-1.parquet", "name" -> "bl-2.parquet")
  }

  // scalatestplus-scalacheck is not on the offline classpath: a fixed-
  // seed forAll over scalacheck generators, as in PropertySpec
  private def forAll[A](gen: Gen[A], cases: Int = 200)(f: A => Unit): Unit =
    (1 to cases).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val hostile = Seq("a:b", "c,d", "e\tf", "g%h", "dv", "sh", "bl",
    "sh:x", "dv:s:1", "bl:c:s", "i j+k", "ünï")
  private val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val name = Gen.frequency(2 -> Gen.oneOf(hostile), 1 -> word)
  private val text = Gen.frequency(
    1 -> Gen.oneOf("" +: hostile), 1 -> word, 1 -> Gen.posNum[Long].map(_.toString))

  private val stats: Gen[ColumnStats] = for {
    kind <- Gen.oneOf('l', 'd', 's', 'z')
    lo <- text
    hi <- text
    nulls <- Gen.option(Gen.choose(0L, 1000000L))
  } yield
    if (kind == 'z') ColumnStats('z', "", "", Some(nulls.getOrElse(0L)))
    else ColumnStats(kind, lo, hi, nulls)

  private val tag: Gen[Tag] = Gen.oneOf(
    word.map(h => Tag.SchemaHash(h)),
    Gen.zip(word, Gen.choose(0L, Long.MaxValue / 2)).map { case (s, n) => Tag.Dv(s"dv-$s.parquet", n) },
    Gen.zip(name, word).map { case (c, s) => Tag.Bloom(c, s"bl-$s.parquet") },
    word.map(w => Tag.Unknown(s"x-$w")))

  private val entry: Gen[ManifestEntry] = for {
    dir <- Gen.oneOf("", "shard=0/", "a=1/b=x%20y/")
    file <- word
    rows <- Gen.choose(0L, Long.MaxValue / 2)
    cols <- Gen.listOf(Gen.zip(name, stats)).map(_.toMap.toSeq)
    withBounds <- Gen.oneOf(true, false)
    tags <- Gen.listOf(tag)
  } yield ManifestEntry(s"$dir$file.parquet", rows,
    if (withBounds) Bounds.of(cols) else Bounds.Absent, tags)

  test("property: decode(encode(e)) == e, hostile column names included") {
    forAll(entry) { e =>
      val line = e.encode
      withClue(s"'$line': ") {
        ManifestEntry.decode(line) shouldBe e
        ManifestEntry.decode(line).bounds.columns shouldBe e.bounds.columns
        Seq(ManifestLine.Add(e), ManifestLine.Modify(e), ManifestLine.Entry(e))
          .foreach(l => ManifestLine.decode(l.encode) shouldBe l)
      }
    }
  }

  test("property: Bounds.of decodes back to its columns") {
    forAll(Gen.listOf(Gen.zip(name, stats)).map(_.toMap)) { cols =>
      Bounds.of(cols.toSeq).columns shouldBe cols
      cols.foreach { case (c, s) =>
        Bounds.of(cols.toSeq).range(c) shouldBe
          (if (s.kind == 'z') None else Some((s.kind, s.min, s.max)))
      }
    }
  }
}
