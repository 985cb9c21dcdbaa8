package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.{Charset, StandardCharsets}
import java.security.MessageDigest
import java.util.zip.{CRC32, Inflater, ZipException}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FSDataInputStream

import graft.zip.GraftError

/** One central-directory record: the entry's name and what reading its
  * data needs. `localHeaderOffset` is as recorded, before the prefix
  * correction [[ZipArchive]] applies. */
private[sources] final case class ZipCdEntry(name: String, method: Int,
    crc: Long, compressedSize: Long, size: Long, localHeaderOffset: Long) {
  def isDirectory: Boolean = name.endsWith("/")
}

/** A zip archive read through its central directory over one open Hadoop
  * stream — the reference's reader shape: its count pass lists names from
  * the directory without decompressing (src/builder.rs:32-38), and its
  * extraction walks the same directory by index (src/builder.rs:172-179).
  *
  * [[ZipArchive.open]] costs two reads: the archive's last ≤ 64 KiB + 98 B
  * (the end record, plus the ZIP64 locator and record when present), then
  * the whole directory in one `readFully` (no second read when the tail
  * already holds it). Names, counts and glob matches come from [[entries]]
  * alone; only [[read]] touches a local header or a data byte.
  *
  * Every read is `seek` + `readFully`/`read` on the one stream, never a
  * positioned `read(pos, …)`: Hadoop's checksummed local FS opens a new
  * checker per positioned read, which made a per-field directory parse
  * about three times slower than inflating the whole archive.
  *
  * Errors carry the zip taxonomy: a structural fault (no end record, a bad
  * directory or local header) raises `Zip`; a fault inside one entry's
  * data (CRC, size, inflate) raises `ReadFileInZip`. */
private[sources] final class ZipArchive private (in: FSDataInputStream,
    path: String, base: Long, val entries: Array[ZipCdEntry])
    extends java.io.Closeable {
  import ZipArchive._

  private val inBuf = new Array[Byte](1 << 16)
  private val outBuf = new Array[Byte](1 << 16)
  private val crc = new CRC32
  private var inflater: Inflater = _
  private var sha: MessageDigest = _

  /** Stream entry `e`'s data once — STORED or DEFLATED through one loop —
    * updating CRC-32 always, SHA-256 only when `hash`, and buffering bytes
    * only when `keepBody`. Returns (body or null, lowercase SHA-256 hex or
    * null). The CRC and the inflated size are checked against the
    * directory, and `maxBytes` applies to the bytes actually inflated
    * (typed `EntryTooLarge`). */
  def read(e: ZipCdEntry, keepBody: Boolean, hash: Boolean,
      maxBytes: Long): (Array[Byte], String) = {
    val dataPos = dataStart(e)
    // pre-sized from the directory, but never above 64 MiB up front
    // whatever size a damaged directory declares
    val body =
      if (keepBody) new BodyBuffer(math.max(0L, e.size min maxBytes min (1L << 26)).toInt)
      else null
    if (hash) {
      if (sha == null) sha = MessageDigest.getInstance("SHA-256") else sha.reset()
    }
    crc.reset()
    var total = 0L
    def consume(b: Array[Byte], n: Int): Unit = {
      total += n
      if (total > maxBytes)
        GraftError.raise(GraftError.EntryTooLarge(e.name, path, maxBytes))
      if (total > e.size)
        throw new ZipException(s"invalid entry size (expected ${e.size} but got more bytes)")
      crc.update(b, 0, n)
      if (hash) sha.update(b, 0, n)
      if (body != null) body.write(b, 0, n)
    }
    try {
      in.seek(dataPos)
      var left = e.compressedSize
      def fill(): Int = {
        val n = in.read(inBuf, 0, math.min(inBuf.length.toLong, left).toInt)
        if (n < 0) throw new java.io.EOFException("unexpected end of entry data")
        left -= n
        n
      }
      e.method match {
        case Stored =>
          while (left > 0) consume(inBuf, fill())
        case Deflated =>
          if (inflater == null) inflater = new Inflater(true) else inflater.reset()
          var dummyFed = false
          while (!inflater.finished()) {
            if (inflater.needsInput()) {
              if (left > 0) inflater.setInput(inBuf, 0, fill())
              else if (!dummyFed) {
                // nowrap zlib may ask for one byte past the data
                // (the Inflater(true) contract); ZipFile feeds the same
                dummyFed = true
                inflater.setInput(DummyByte)
              } else throw new java.io.EOFException("unexpected end of ZLIB input stream")
            }
            val n = inflater.inflate(outBuf)
            if (n > 0) consume(outBuf, n)
            else if (inflater.needsDictionary())
              throw new ZipException("entry needs a preset dictionary")
          }
        case m =>
          GraftError.raise(GraftError.Zip(path,
            s"invalid compression method $m for entry ${e.name}"))
      }
    } catch {
      case g: GraftError.GraftException => throw g
      // src/error.rs:17-21 — this entry's data failed mid-read or mid-inflate
      case NonFatal(x) =>
        GraftError.raise(GraftError.ReadFileInZip(e.name, path, x.toString))
    }
    if (total != e.size)
      GraftError.raise(GraftError.ReadFileInZip(e.name, path,
        s"invalid entry size (expected ${e.size} but got $total bytes)"))
    if (crc.getValue != e.crc)
      GraftError.raise(GraftError.ReadFileInZip(e.name, path,
        f"invalid entry CRC (expected 0x${e.crc}%x but got 0x${crc.getValue}%x)"))
    (if (body != null) body.bytes else null,
      if (hash) java.util.HexFormat.of().formatHex(sha.digest()) else null)
  }

  /** Position of `e`'s first data byte: its local header checked, and that
    * header's own name and extra lengths skipped (they may differ from the
    * directory's). */
  private def dataStart(e: ZipCdEntry): Long = {
    val at = base + e.localHeaderOffset
    try {
      in.seek(at)
      in.readFully(inBuf, 0, LocLen)
    } catch { case NonFatal(x) =>
      GraftError.raise(GraftError.Zip(path, s"cannot read the LOC header of ${e.name}: $x"))
    }
    if (le32(inBuf, 0) != LocSig)
      GraftError.raise(GraftError.Zip(path, s"invalid LOC header (bad signature) for ${e.name}"))
    at + LocLen + le16(inBuf, 26) + le16(inBuf, 28)
  }

  override def close(): Unit = {
    if (inflater != null) inflater.end()
    in.close()
  }
}

private[sources] object ZipArchive {
  private val LocSig = 0x04034b50L
  private val CenSig = 0x02014b50L
  private val EndSig = 0x06054b50L
  private val Loc64Sig = 0x07064b50L
  private val End64Sig = 0x06064b50L
  private val LocLen = 30
  private val CenLen = 46
  private val EndLen = 22
  private val Loc64Len = 20
  private val End64Len = 56
  private val Max32 = 0xFFFFFFFFL
  private val Stored = 0
  private val Deflated = 8
  private val DummyByte = new Array[Byte](1)

  /** Entry names decode as cp437 unless the entry's EFS flag (0x800) says
    * UTF-8 — the zip appnote's rule (APPNOTE 4.4.4/D.2). The reference's
    * wax-glob path is lossy on non-UTF8 names; we decode them faithfully
    * (documented divergence, SURVEY.md §7.6). */
  private val Cp437 = Charset.forName("IBM437")

  /** Read `in`'s (length `len`) end record and central directory. Takes
    * ownership of `in`: closed here on failure, else by [[ZipArchive.close]].
    * `path` names the archive in errors. */
  def open(in: FSDataInputStream, len: Long, path: String): ZipArchive =
    try {
      // the end record with the longest comment, and the ZIP64 records
      val tailLen = math.min(len, 0xFFFFL + EndLen + Loc64Len + End64Len).toInt
      val tailPos = len - tailLen
      val tail = new Array[Byte](tailLen)
      in.seek(tailPos)
      in.readFully(tail)
      // the end record: the last signature whose comment fits in the file
      var end = tailLen - EndLen
      while (end >= 0 &&
          !(le32(tail, end) == EndSig && end + EndLen + le16(tail, end + 20) <= tailLen))
        end -= 1
      if (end < 0) zipError("no end of central directory record")
      var dirEnd = tailPos + end
      var cenLen = le32(tail, end + 12)
      var cenOff = le32(tail, end + 16)
      // ZIP64: a locator right before the end record; the ZIP64 end
      // record sits right before the locator (read from there, not from
      // the locator's offset, which a prepended stub shifts)
      val loc = end - Loc64Len
      if (loc >= 0 && le32(tail, loc) == Loc64Sig) {
        val rec = loc - End64Len
        if (rec < 0 || le32(tail, rec) != End64Sig) zipError("invalid ZIP64 end header")
        dirEnd = tailPos + rec
        cenLen = le64(tail, rec + 40)
        cenOff = le64(tail, rec + 48)
      }
      val cenPos = dirEnd - cenLen
      // bytes in front of the archive (a self-extracting stub) shift every
      // recorded offset: the JDK ZipFile rule, base = cen_pos − cen_offset
      val base = cenPos - cenOff
      if (cenLen < 0 || cenOff < 0 || cenPos < 0 || base < 0 || cenLen > Int.MaxValue - 8)
        zipError("invalid END header (bad central directory offset)")
      val entries =
        if (cenPos >= tailPos) parseCen(tail, (cenPos - tailPos).toInt, cenLen.toInt)
        else {
          val cen = new Array[Byte](cenLen.toInt)
          in.seek(cenPos)
          in.readFully(cen)
          parseCen(cen, 0, cen.length)
        }
      new ZipArchive(in, path, base, entries)
    } catch {
      case g: GraftError.GraftException =>
        in.close(); throw g
      // src/error.rs:13-16 — structurally broken archive. NonFatal, not
      // just IOException: a malformed UTF-8 name throws a
      // CharacterCodingException, a bogus length an index error.
      case NonFatal(x) =>
        in.close(); GraftError.raise(GraftError.Zip(path, x.toString))
    }

  /** The `len` directory bytes at `cen(off)`, in directory order. */
  private def parseCen(cen: Array[Byte], off: Int, len: Int): Array[ZipCdEntry] = {
    val utf8 = StandardCharsets.UTF_8.newDecoder() // reports malformed input
    val out = Array.newBuilder[ZipCdEntry]
    val end = off + len
    var p = off
    while (p < end) {
      if (p + CenLen > end || le32(cen, p) != CenSig)
        zipError("invalid CEN header (bad signature)")
      val flags = le16(cen, p + 8)
      val nameLen = le16(cen, p + 28)
      val extraLen = le16(cen, p + 30)
      val next = p + CenLen + nameLen + extraLen + le16(cen, p + 32)
      if (next > end) zipError("invalid CEN header (bad header size)")
      val at = p + CenLen
      val name =
        if ((flags & 0x800) != 0) utf8.decode(ByteBuffer.wrap(cen, at, nameLen)).toString
        else new String(cen, at, nameLen, Cp437)
      var csize = le32(cen, p + 20)
      var size = le32(cen, p + 24)
      var loc = le32(cen, p + 42)
      // ZIP64 extra field (0x0001): 8-byte values, in this order, for
      // exactly the directory fields that read 0xFFFFFFFF
      var x = at + nameLen
      val xEnd = x + extraLen
      while ((size == Max32 || csize == Max32 || loc == Max32) && x + 4 <= xEnd) {
        val sz = le16(cen, x + 2)
        if (le16(cen, x) == 1) {
          var f = x + 4
          val fEnd = math.min(f + sz, xEnd)
          if (size == Max32 && f + 8 <= fEnd) { size = le64(cen, f); f += 8 }
          if (csize == Max32 && f + 8 <= fEnd) { csize = le64(cen, f); f += 8 }
          if (loc == Max32 && f + 8 <= fEnd) loc = le64(cen, f)
          x = xEnd
        } else x += 4 + sz
      }
      out += ZipCdEntry(name, le16(cen, p + 10), le32(cen, p + 16), csize, size, loc)
      p = next
    }
    out.result()
  }

  private def zipError(msg: String): Nothing = throw new ZipException(msg)

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (le16(b, i) | (le16(b, i + 2) << 16)).toLong & Max32
  private def le64(b: Array[Byte], i: Int): Long =
    le32(b, i) | (le32(b, i + 4) << 32)

  /** Grows like ByteArrayOutputStream, but hands out its array without a
    * copy when the entry filled it exactly (the usual case: it is sized
    * from the directory's inflated size). */
  private final class BodyBuffer(size: Int) extends java.io.ByteArrayOutputStream(size) {
    def bytes: Array[Byte] = if (count == buf.length) buf else toByteArray
  }
}
