package graft.sources

/** Archive-format codecs for the ingest layer: POSIX ustar TAR and
  * WARC/1.0 — the two containers a large-scale text pipeline actually
  * reads (WARC is the CommonCrawl distribution format; tar the
  * ubiquitous dataset tarball). Both are JDK-only: tar is 512-byte
  * headers with octal fields and a real checksum, WARC is CRLF header
  * blocks with Content-Length payload framing. Writers exist for the
  * fixture side (and round-trip tests); the parsers are the product
  * path — bounds-checked, checksum/framing-validated, and tolerant:
  * a corrupt or truncated archive yields the entries that validate
  * and stops, never throws (at 100 TB a damaged archive must not
  * kill the stage) — with the SKIPPED TAIL reported, never silent.
  */
object Archive {

  // ------------------------------------------------------------------
  // TAR (POSIX ustar)
  // ------------------------------------------------------------------

  /** One parsed tar entry: name, the payload span inside the buffer,
    * and the typeflag ('0'/NUL = regular file, '5' = directory, '2' =
    * symlink, ... per ustar) — consumers ingesting documents filter to
    * regular files; a directory entry is structure, not payload.
    */
  final case class TarEntry(name: String, offset: Int, length: Int, typeflag: Char) {
    def isFile: Boolean = typeflag == '0' || typeflag == '\u0000'
  }

  private def octal(v: Long, width: Int): Array[Byte] = {
    // width-1 octal digits, NUL terminated (the ustar convention)
    val s = java.lang.Long.toOctalString(v)
    val pad = "0" * (width - 1 - s.length) + s
    (pad + "\u0000").getBytes("US-ASCII")
  }

  /** Write a POSIX ustar archive: 512-byte header per entry (name,
    * octal size/mode/mtime, REAL checksum over the header with the
    * chksum field spaced out, magic "ustar"+"00", typeflag '0'),
    * payload padded to 512, two zero blocks at the end.
    */
  def tarArchive(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      require(name.getBytes("UTF-8").length <= 100, s"tar name too long: $name")
      val hdr = new Array[Byte](512)
      val nameB = name.getBytes("UTF-8")
      System.arraycopy(nameB, 0, hdr, 0, nameB.length)
      System.arraycopy(octal(420 /* 0644 */, 8), 0, hdr, 100, 8) // mode
      System.arraycopy(octal(0, 8), 0, hdr, 108, 8) // uid
      System.arraycopy(octal(0, 8), 0, hdr, 116, 8) // gid
      System.arraycopy(octal(data.length.toLong, 12), 0, hdr, 124, 12) // size
      System.arraycopy(octal(0, 12), 0, hdr, 136, 12) // mtime
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte) // chksum spaces
      hdr(156) = '0' // typeflag: regular file
      System.arraycopy("ustar\u000000".getBytes("US-ASCII"), 0, hdr, 257, 8)
      var sum = 0L
      var i = 0
      while (i < 512) { sum += (hdr(i) & 0xff); i += 1 }
      val ck = java.lang.Long.toOctalString(sum)
      val ckPad = "0" * (6 - ck.length) + ck
      System.arraycopy(ckPad.getBytes("US-ASCII"), 0, hdr, 148, 6)
      hdr(154) = 0; hdr(155) = ' '.toByte
      out.write(hdr)
      out.write(data)
      val pad = (512 - data.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024)) // end-of-archive: two zero blocks
    out.toByteArray
  }

  /** Walk a ustar archive: validate each header's CHECKSUM (sum of
    * header bytes with the chksum field as spaces — the field that
    * catches a bit flip anywhere in the header), read the octal size,
    * and advance by the 512-padded payload. Stops at the end-of-
    * archive zero block, a failed checksum, a malformed size, or a
    * payload that runs past the buffer — returning every entry that
    * validated BEFORE the damage.
    */
  def parseTar(b: Array[Byte]): Seq[TarEntry] = {
    val entries = Seq.newBuilder[TarEntry]
    var i = 0L
    var done = false
    while (!done && i + 512 <= b.length) {
      val ii = i.toInt
      if (b(ii) == 0) done = true // zero block: end of archive
      else {
        var sum = 0L
        var j = 0
        while (j < 512) {
          sum += (if (j >= 148 && j < 156) ' '.toInt else b(ii + j) & 0xff)
          j += 1
        }
        val stored = octalField(b, ii + 148, 8)
        val size = octalField(b, ii + 124, 12)
        if (stored < 0 || stored != sum || size < 0 ||
            i + 512 + size > b.length) done = true // damaged: stop, keep the validated prefix
        else {
          var end = ii
          while (end < ii + 100 && b(end) != 0) end += 1
          entries += TarEntry(
            new String(b, ii, end - ii, "UTF-8"), ii + 512, size.toInt,
            (b(ii + 156) & 0xff).toChar)
          i += 512L + size + ((512 - size % 512) % 512)
        }
      }
    }
    entries.result()
  }

  private def octalField(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = off
    val end = off + len
    var seen = false
    while (i < end) {
      val c = b(i)
      if (c >= '0' && c <= '7') {
        v = v * 8 + (c - '0')
        if (v > Int.MaxValue) return -1 // crafted size: refuse
        seen = true
      } else if (c != ' ' && c != 0) return -1
      i += 1
    }
    if (seen) v else -1
  }

  // ------------------------------------------------------------------
  // WARC/1.0
  // ------------------------------------------------------------------

  /** One parsed WARC record: type + target URI headers and the payload
    * span (Content-Length framed, so a body containing "WARC/1.0" can
    * never split a record).
    */
  final case class WarcRecord(
      warcType: String,
      targetUri: String,
      offset: Int,
      length: Int
  )

  /** Write a WARC/1.0 file: one record per (uri, payload) with the
    * mandatory headers and exact Content-Length framing, records
    * separated by the standard CRLF CRLF trailer.
    */
  def warcArchive(records: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach { case (uri, payload) =>
      val hdr = "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
        "Content-Type: text/plain\r\n" +
        s"Content-Length: ${payload.length}\r\n" +
        "\r\n"
      out.write(hdr.getBytes("US-ASCII"))
      out.write(payload)
      out.write("\r\n\r\n".getBytes("US-ASCII"))
    }
    out.toByteArray
  }

  /** Write the `.warc.gz` layout actually distributed at scale
    * (CommonCrawl): each record is its OWN gzip member, members
    * concatenated — the shape that lets an index seek to a record's
    * byte offset and decompress just that member.
    */
  def warcArchiveGz(records: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach { case (uri, payload) =>
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(warcArchive(Seq(uri -> payload)))
      gz.finish()
    }
    out.toByteArray
  }

  /** Inflate a (possibly multi-member) gzip stream fully. The JDK's
    * GZIPInputStream transparently continues into concatenated
    * members. Returns None for a stream that is not gzip or is
    * damaged beyond the first member boundary — with everything that
    * inflated cleanly up to the damage preserved (the tolerant-parser
    * contract: a truncated tail costs the tail, not the archive).
    */
  def gunzipAll(b: Array[Byte]): Option[Array[Byte]] = {
    if (b.length < 2 || (b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x8b) None
    else {
      val out = new java.io.ByteArrayOutputStream()
      try {
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(b))
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(out.toByteArray)
      } catch {
        // mid-stream damage: keep the members that inflated whole
        case _: java.io.IOException =>
          if (out.size() > 0) Some(out.toByteArray) else None
      }
    }
  }

  /** Walk a `.warc.gz`: inflate the member chain, then the plain WARC
    * walk. The returned spans index into the INFLATED buffer, which is
    * also returned (offsets into the compressed input would be
    * meaningless to a payload reader).
    */
  def parseWarcGz(b: Array[Byte]): Option[(Array[Byte], Seq[WarcRecord])] =
    gunzipAll(b).map(inflated => (inflated, parseWarc(inflated)))

  /** Walk a WARC file: find each "WARC/1.0" version line, read the
    * CRLF header block up to the blank line, frame the payload by
    * Content-Length (mandatory — a record without it, or whose
    * declared length runs past the buffer, stops the walk), advance
    * past the record trailer. Header names are case-insensitive per
    * the spec. Damage yields the records that validated before it.
    */
  def parseWarc(b: Array[Byte]): Seq[WarcRecord] = {
    val records = Seq.newBuilder[WarcRecord]
    var i = 0L
    var done = false
    def lineEnd(from: Int): Int = {
      var j = from
      while (j + 1 < b.length && !(b(j) == '\r' && b(j + 1) == '\n')) j += 1
      j
    }
    while (!done && i + 10 <= b.length) {
      val ii = i.toInt
      if (!new String(b, ii, math.min(8, b.length - ii), "US-ASCII").startsWith("WARC/1.")) {
        done = true
      } else {
        var j = lineEnd(ii) + 2
        var len = -1L
        var wtype = ""
        var uri = ""
        var headerOk = false
        var guard = 0
        while (!headerOk && j + 1 < b.length && guard < 64) {
          if (b(j) == '\r' && b(j + 1) == '\n') { headerOk = true; j += 2 }
          else {
            val e = lineEnd(j)
            val line = new String(b, j, e - j, "UTF-8")
            val c = line.indexOf(':')
            if (c > 0) {
              val k = line.substring(0, c).trim.toLowerCase
              val v = line.substring(c + 1).trim
              if (k == "content-length") len = v.toLongOption.getOrElse(-1L)
              else if (k == "warc-type") wtype = v
              else if (k == "warc-target-uri") uri = v
            }
            j = e + 2
            guard += 1
          }
        }
        if (!headerOk || len < 0 || j + len > b.length) done = true
        else {
          records += WarcRecord(wtype, uri, j, len.toInt)
          i = j + len + 4L // CRLF CRLF record trailer
        }
      }
    }
    records.result()
  }
}
