package graft.zip

import java.io.{ByteArrayInputStream, IOException}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileSystem, Path}
import org.apache.parquet.format.{ColumnChunk, FileMetaData, Util}

/** Joins Parquet files of one schema into one Parquet file without
  * decoding a page: each part's row groups are copied byte for byte, and
  * one footer is built from the parts' thrift footers with every absolute
  * offset moved to where the bytes landed.
  *
  * Layout of the output, as parquet-mr lays out one file: `PAR1`, every
  * part's row groups in part order, then the page indexes (all column
  * indexes, then all offset indexes) and bloom filters, then the footer,
  * its length and `PAR1`. Column indexes and bloom filters hold no file
  * offset and are copied as they are; an offset index lists its pages'
  * absolute offsets, so it is decoded, moved and written again.
  *
  * The footer starts from the first part's: its schema, key-value
  * metadata (Spark's row schema), `created_by` and column orders. It
  * carries every part's row groups, `num_rows` is their sum, and each row
  * group's `ordinal` is dropped (it numbered the group within its part).
  * Page checksums sit inside the copied pages and stay valid.
  *
  * parquet-mr's `ParquetFileWriter.appendFile` does the same join through
  * a `ParquetFileReader` per part; opening those readers alone cost about
  * 14 ms per part, more than this whole copy, and `appendRowGroup` drops
  * the page indexes.
  *
  * A part that is not a plain Parquet file (no `PAR1` at either end, a
  * footer that does not parse, a chunk outside the file, an encrypted
  * footer) or whose schema differs from the first part's fails typed
  * `Parquet`; an IO error reading or writing fails as `IOException`. */
private[zip] object ParquetStitch {
  private val Magic = "PAR1".getBytes(StandardCharsets.US_ASCII)
  private val EncryptedMagic = "PARE".getBytes(StandardCharsets.US_ASCII)

  /** A part whose row groups are copied: its footer, already moved to
    * the output's offsets except for the page indexes and bloom filters,
    * and the part's bytes between its row groups and its footer, which
    * hold those. `shift` = output offset − part offset of its row groups;
    * `tailAt` is where `tail` starts in the part. */
  private final class Copied(val path: Path, val meta: FileMetaData, val shift: Long,
      val tailAt: Long, val tail: Array[Byte]) {
    def chunks: Iterator[ColumnChunk] =
      meta.getRow_groups.asScala.iterator.flatMap(_.getColumns.asScala)

    /** `len` bytes of the tail at part offset `off`. */
    def slice(off: Long, len: Long, what: String): ByteArrayInputStream = {
      val at = off - tailAt
      if (at < 0 || len < 0 || at + len > tail.length)
        fail(path, s"$what at $off (+$len) lies outside the bytes after its row groups")
      new ByteArrayInputStream(tail, at.toInt, len.toInt)
    }
  }

  /** Write `parts` (at least one), in order, as one Parquet file at `out`
    * (which must not exist). `fs` should be the raw file system: parts
    * are read once, sequentially, and need no checksum file. */
  def apply(fs: FileSystem, parts: Seq[Path], out: Path): Unit = {
    val os = fs.create(out, false)
    try {
      os.write(Magic)
      val copied = parts.map(copyRowGroups(fs, _, os))
      val first = copied.head
      copied.find(_.meta.getSchema != first.meta.getSchema).foreach { c =>
        fail(c.path, s"its schema differs from ${first.path.getName}'s")
      }
      // append `len` tail bytes of `c` at part offset `off`; where they landed
      def append(c: Copied, off: Long, len: Long, what: String): Long = {
        val at = os.getPos
        c.slice(off, len, what).transferTo(os)
        at
      }
      for (c <- copied; cc <- c.chunks if cc.isSetColumn_index_offset)
        cc.setColumn_index_offset(
          append(c, cc.getColumn_index_offset, cc.getColumn_index_length, "column index"))
      for (c <- copied; cc <- c.chunks if cc.isSetOffset_index_offset) {
        val index = Util.readOffsetIndex(
          c.slice(cc.getOffset_index_offset, cc.getOffset_index_length, "offset index"))
        index.getPage_locations.forEach(l => l.setOffset(l.getOffset + c.shift))
        val at = os.getPos
        Util.writeOffsetIndex(index, os)
        cc.setOffset_index_offset(at)
        cc.setOffset_index_length(Math.toIntExact(os.getPos - at))
      }
      for (c <- copied; cc <- c.chunks; md = cc.getMeta_data if md.isSetBloom_filter_offset) {
        if (!md.isSetBloom_filter_length) fail(c.path, "a bloom filter has no recorded length")
        md.setBloom_filter_offset(
          append(c, md.getBloom_filter_offset, md.getBloom_filter_length, "bloom filter"))
      }
      val footer = first.meta.deepCopy()
      footer.setRow_groups(copied.flatMap(_.meta.getRow_groups.asScala).asJava)
      footer.setNum_rows(copied.map(_.meta.getNum_rows).sum)
      val at = os.getPos
      Util.writeFileMetaData(footer, os)
      os.write(le32(Math.toIntExact(os.getPos - at)))
      os.write(Magic)
    } finally os.close()
  }

  /** Read `part`'s footer, append its row groups to `os`, and move the
    * footer's row-group and page offsets to where they landed. */
  private def copyRowGroups(fs: FileSystem, part: Path, os: FSDataOutputStream): Copied = {
    val len = fs.getFileStatus(part).getLen
    val in = fs.open(part)
    try {
      if (len < 12) fail(part, s"$len bytes is too short for a Parquet file")
      val end = new Array[Byte](8)
      in.seek(len - 8)
      in.readFully(end)
      val endMagic = end.slice(4, 8)
      if (endMagic.sameElements(EncryptedMagic)) fail(part, "its footer is encrypted")
      if (!endMagic.sameElements(Magic)) fail(part, "no PAR1 at its end")
      val footerLen =
        ByteBuffer.wrap(end, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt & 0xFFFFFFFFL
      val footerAt = len - 8 - footerLen
      if (footerAt < 4) fail(part, s"footer length $footerLen exceeds the file")
      val footer = new Array[Byte](footerLen.toInt)
      in.seek(footerAt)
      in.readFully(footer)
      val meta =
        try Util.readFileMetaData(new ByteArrayInputStream(footer))
        catch { case e: IOException => fail(part, s"its footer does not parse: $e") }
      if (meta.isSetEncryption_algorithm) fail(part, "its columns are encrypted")
      val chunks = meta.getRow_groups.asScala.flatMap(_.getColumns.asScala)
      val rowGroupsEnd = chunks.map(c => start(c) + c.getMeta_data.getTotal_compressed_size)
        .maxOption.getOrElse(4L)
      if (chunks.exists(start(_) < 4) || rowGroupsEnd > footerAt)
        fail(part, "a column chunk lies outside its row-group bytes")
      val tail = new Array[Byte]((footerAt - rowGroupsEnd).toInt)
      in.seek(rowGroupsEnd)
      in.readFully(tail)
      val head = new Array[Byte](4)
      in.seek(0)
      in.readFully(head)
      if (!head.sameElements(Magic)) fail(part, "no PAR1 at its start")
      val shift = os.getPos - 4
      copy(in, os, rowGroupsEnd - 4)
      meta.getRow_groups.forEach { rg =>
        if (rg.isSetFile_offset) rg.setFile_offset(rg.getFile_offset + shift)
        rg.unsetOrdinal()
        rg.getColumns.forEach { cc =>
          cc.setFile_offset(cc.getFile_offset + shift)
          val md = cc.getMeta_data
          md.setData_page_offset(md.getData_page_offset + shift)
          if (md.isSetDictionary_page_offset)
            md.setDictionary_page_offset(md.getDictionary_page_offset + shift)
          if (md.isSetIndex_page_offset) md.setIndex_page_offset(md.getIndex_page_offset + shift)
        }
      }
      new Copied(part, meta, shift, rowGroupsEnd, tail)
    } finally in.close()
  }

  /** Where a column chunk's first page starts (parquet-mr's rule: the
    * dictionary page when there is one before the first data page). */
  private def start(c: ColumnChunk): Long = {
    val md = c.getMeta_data
    if (md.isSetDictionary_page_offset && md.getDictionary_page_offset > 0 &&
        md.getDictionary_page_offset < md.getData_page_offset) md.getDictionary_page_offset
    else md.getData_page_offset
  }

  /** Copy the next `n` bytes of `in` to `os` through a 1 MiB buffer. */
  private def copy(in: FSDataInputStream, os: FSDataOutputStream, n: Long): Unit = {
    val buf = new Array[Byte](1 << 20)
    var left = n
    while (left > 0) {
      val k = in.read(buf, 0, math.min(buf.length.toLong, left).toInt)
      if (k < 0) throw new java.io.EOFException(s"unexpected end of a part, $left bytes short")
      os.write(buf, 0, k)
      left -= k
    }
  }

  private def le32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  private def fail(part: Path, why: String): Nothing =
    GraftError.raise(GraftError.Parquet(s"cannot stitch ${part.getName}: $why"))
}
