package graft.ingest

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.util.zip.GZIPInputStream

/** Archive expansion (SURVEY S3–S5): tar / tar.gz / gz member extraction as
  * pure byte-level functions, used as `flatMap`s over `binaryFile` rows so a
  * daily archive expands to hourly members inside the task that read it —
  * the Spark analog of the reference's in-memory `tarfile`/`gzip` streaming
  * (radohydro.py:207-210, 292-306, 440). No temp files, no driver round-trip.
  *
  * Tar parsing is hand-rolled (POSIX ustar headers are 512-byte blocks with
  * octal size fields) to stay dependency-free.
  */
object Archives {

  final case class Member(name: String, bytes: Array[Byte])

  private def gunzipStream(bytes: Array[Byte]): InputStream =
    new GZIPInputStream(new ByteArrayInputStream(bytes), 64 * 1024)

  def gunzip(bytes: Array[Byte]): Array[Byte] = gunzipStream(bytes).readAllBytes()

  private def isGzip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b

  private def parseOctal(b: Array[Byte], start: Int, len: Int): Long = {
    var v = 0L; var i = start
    val end = start + len
    while (i < end) {
      val c = b(i)
      if (c >= '0' && c <= '7') v = (v << 3) + (c - '0')
      i += 1
    }
    v
  }

  /** Iterate regular-file members of a tar archive (plain or gzipped).
    *
    * Streams: a `.tar.gz` is inflated member by member as the iterator is
    * advanced, and each member gets an array of exactly its own size — the
    * whole tar is never held in memory, and a consumer that stops after the
    * first member never inflates (or validates) the rest. A consumer that
    * reaches the end reads the whole stream, so a `.tar.gz` whose gzip CRC
    * or size trailer does not match throws `ZipException`.
    */
  def untar(raw: Array[Byte]): Iterator[Member] = {
    val gzipped = isGzip(raw)
    val in = if (gzipped) gunzipStream(raw) else new ByteArrayInputStream(raw)
    // the most bytes a member can hold: deflate expands at most 1032:1
    val maxMember = math.min(if (gzipped) raw.length * 1032L else raw.length.toLong,
      Int.MaxValue.toLong)
    new Iterator[Member] {
      private val header = new Array[Byte](512)
      private var nextMember: Member = null
      private var fetched = false

      /** Skip up to `n` bytes; a stream that ends early just ends the archive. */
      private def skipUpTo(n: Long): Unit = {
        var left = n
        while (left > 0) {
          val k = in.skip(left)
          if (k <= 0) return
          left -= k
        }
      }

      @annotation.tailrec
      private def readNext(): Member = {
        // a short or all-zero header block = end of archive; read the stream
        // to its end anyway, so that GZIPInputStream checks the CRC and size
        // trailer of a .tar.gz
        if (in.readNBytes(header, 0, 512) < 512 || header.forall(_ == 0)) {
          in.transferTo(OutputStream.nullOutputStream())
          return null
        }
        val nameEnd = {
          var e = 0
          while (e < 100 && header(e) != 0) e += 1
          e
        }
        val name = new String(header, 0, nameEnd, "US-ASCII")
        val size = parseOctal(header, 124, 12)
        val typeFlag = header(156).toChar
        val pad = (512 - size % 512) % 512
        if (typeFlag == '0' || typeFlag == 0.toChar) {
          // the size field is unchecked input: bound it before allocating
          require(size <= maxMember,
            s"tar: member '$name' claims $size bytes, more than the archive can hold (truncated or corrupt)")
          val bytes = new Array[Byte](size.toInt)
          // a short read would otherwise leave the member's tail zero-filled:
          // fail loudly instead of fabricating member bytes
          require(in.readNBytes(bytes, 0, bytes.length) == bytes.length,
            s"tar: member '$name' claims ${size} bytes but archive is truncated")
          skipUpTo(pad)
          Member(name, bytes)
        } else {
          skipUpTo(size + pad)
          readNext()
        }
      }

      def hasNext: Boolean = {
        if (!fetched) { nextMember = readNext(); fetched = true }
        nextMember != null
      }

      def next(): Member = {
        if (!hasNext) throw new NoSuchElementException("tar: no more members")
        fetched = false
        nextMember
      }
    }
  }

  /** One level of expansion with gz-awareness: tar → members; bare .gz →
    * single decoded member; anything else → itself. Applying this twice
    * covers the reference's monthly-tar-of-daily-tars path (S4).
    */
  def expand(name: String, bytes: Array[Byte]): Iterator[Member] =
    if (name.endsWith(".tar") || name.endsWith(".tar.gz") || name.endsWith(".tgz"))
      untar(bytes)
    else if (isGzip(bytes))
      Iterator.single(Member(name.stripSuffix(".gz"), gunzip(bytes)))
    else Iterator.single(Member(name, bytes))

  /** Build a tar archive (test fixtures only). */
  def tar(members: Seq[Member]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    members.foreach { m =>
      val header = new Array[Byte](512)
      val nameBytes = m.name.getBytes("US-ASCII")
      System.arraycopy(nameBytes, 0, header, 0, math.min(nameBytes.length, 100))
      def putOctal(value: Long, offset: Int, len: Int): Unit = {
        val s = java.lang.Long.toOctalString(value)
        val padded = ("0" * (len - 1 - s.length)) + s
        val b = padded.getBytes("US-ASCII")
        System.arraycopy(b, 0, header, offset, len - 1)
      }
      putOctal(420, 100, 8) // mode 0644
      putOctal(0, 108, 8); putOctal(0, 116, 8)
      putOctal(m.bytes.length.toLong, 124, 12)
      putOctal(0, 136, 12)
      header(156) = '0'
      java.util.Arrays.fill(header, 148, 156, ' '.toByte)
      var chk = 0L
      header.foreach(b => chk += (b & 0xff))
      val chkStr = java.lang.Long.toOctalString(chk)
      val chkPad = ("0" * (6 - chkStr.length)) + chkStr
      System.arraycopy(chkPad.getBytes("US-ASCII"), 0, header, 148, 6)
      header(154) = 0; header(155) = ' '
      out.write(header)
      out.write(m.bytes)
      val pad = (512 - m.bytes.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }
}
