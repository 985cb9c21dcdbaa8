package graft.sources

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.Files
import java.util.zip.{CRC32, ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.SparkSpec
import graft.zip.{GraftError, ZipExtract}

/** The central-directory reader behind `format("zip")`: entry data is
  * still checked (CRC, inflated size) when it is read, scans that need no
  * entry body read only the archive's tail and directory, and the rows
  * equal what `java.util.zip.ZipFile` reads from the same archives. */
class ZipArchiveSpec extends SparkSpec {

  private lazy val dir: File = {
    val d = Files.createTempDirectory("graft_cd_spec").toFile
    d.deleteOnExit()
    d
  }

  private val Cp437 = Charset.forName("IBM437")

  /** One entry to write: STORED entries carry their sizes and CRC up front
    * (no data descriptor); DEFLATED ones are written with a data
    * descriptor, as `ZipOutputStream` does. */
  private case class Spec(name: String, body: Array[Byte], stored: Boolean)

  private def zipBytes(entries: Seq[Spec], charset: Charset = StandardCharsets.UTF_8,
      stub: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bos.write(stub) // bytes in front: the recorded offsets do not count them
    val z = new ZipOutputStream(bos, charset)
    entries.foreach { s =>
      val e = new ZipEntry(s.name)
      if (s.stored) {
        val crc = new CRC32
        crc.update(s.body)
        e.setMethod(ZipEntry.STORED)
        e.setSize(s.body.length.toLong)
        e.setCompressedSize(s.body.length.toLong)
        e.setCrc(crc.getValue)
      }
      z.putNextEntry(e); z.write(s.body); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def write(name: String, bytes: Array[Byte]): String = {
    val f = new File(dir, name)
    Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }

  private def le32(b: Array[Byte], i: Int): Long =
    java.nio.ByteBuffer.wrap(b, i, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt & 0xFFFFFFFFL

  /** Offset of the first central-directory record (archive without a
    * comment: the end record is the last 22 bytes). */
  private def cenStart(b: Array[Byte]): Int = le32(b, b.length - 22 + 16).toInt

  private def typed(e: Throwable): Option[GraftError] = GraftError.unwrap(e)

  private def names(path: String): Seq[String] =
    spark.read.format("zip").load(path).select("name").collect().map(_.getString(0)).toSeq

  test("a flipped byte in a STORED entry's data fails body and hash reads " +
      "typed ReadFileInZip (CRC); names and COUNT(*) still read") {
    val body = Array.tabulate[Byte](4000)(i => (i * 7).toByte)
    val good = zipBytes(Seq(Spec("ok.txt", "fine".getBytes("UTF-8"), stored = true),
      Spec("s.bin", body, stored = true)))
    // STORED data is the body verbatim: find it past its local header
    val at = good.indexOfSlice(body.take(64)) + 100
    val bad = good.clone()
    bad(at) = (bad(at) ^ 0x40).toByte
    val path = write("crc_flip.zip", bad)
    for (cols <- Seq(Seq("name", "body"), Seq("name", "hash"))) {
      val e = intercept[Exception] {
        spark.read.format("zip").load(path).select(cols.head, cols.tail: _*).collect()
      }
      typed(e) match {
        case Some(GraftError.ReadFileInZip("s.bin", _, cause)) =>
          assert(cause.contains("CRC"), s"$cols: $cause")
        case other => fail(s"$cols: expected ReadFileInZip for s.bin, got $other ($e)")
      }
    }
    // like the reference's file_names(), a names-only pass reads no data
    assert(names(path) == Seq("ok.txt", "s.bin"))
    assert(spark.read.format("zip").load(path).count() == 2L)
  }

  test("an entry whose declared size is smaller than its inflated bytes " +
      "fails typed; names and COUNT(*) still read") {
    val body = ("abcdefgh" * 2000).getBytes("UTF-8")
    val good = zipBytes(Seq(Spec("big.txt", body, stored = false)))
    val bad = good.clone()
    val cen = cenStart(bad)
    assert(le32(bad, cen) == 0x02014b50L && le32(bad, cen + 24) == body.length)
    // declare 100 bytes fewer than the entry inflates to
    val declared = body.length - 100
    (0 until 4).foreach(i => bad(cen + 24 + i) = (declared >>> (8 * i)).toByte)
    val path = write("short_size.zip", bad)
    for (cols <- Seq(Seq("body"), Seq("hash"))) {
      val e = intercept[Exception] {
        spark.read.format("zip").load(path).select("name", cols: _*).collect()
      }
      typed(e) match {
        case Some(GraftError.ReadFileInZip("big.txt", _, cause)) =>
          assert(cause.contains("size"), s"$cols: $cause")
        case other => fail(s"$cols: expected ReadFileInZip for big.txt, got $other ($e)")
      }
    }
    assert(names(path) == Seq("big.txt"))
    assert(spark.read.format("zip").load(path).count() == 1L)
  }

  test("a truncated archive with no end record fails typed Zip at open") {
    val good = zipBytes((0 until 5).map(i => Spec(s"e$i", Array.fill[Byte](300)(i.toByte),
      stored = i % 2 == 0)))
    val path = write("no_end.zip", good.take(good.length - 30))
    for (read <- Seq[() => Any](() => names(path),
        () => spark.read.format("zip").load(path).count())) {
      val e = intercept[Exception](read())
      assert(typed(e).exists(_.isInstanceOf[GraftError.Zip]), s"got $e")
    }
  }

  /** Bytes read so far through Hadoop's local (`file`) FileSystem. */
  private def fsReadBytes(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum

  test("names-only, COUNT(*) and glob-miss scans read only the tail and " +
      "the central directory") {
    val rnd = new scala.util.Random(5)
    val entries = (0 until 200).map { i =>
      val b = new Array[Byte](20000)
      rnd.nextBytes(b) // incompressible: the archive is about 4 MB
      Spec(f"doc$i%03d.bin", b, stored = i % 3 == 0)
    }
    val bytes = zipBytes(entries)
    val path = write("elide.zip", bytes)
    val cenSize = le32(bytes, bytes.length - 22 + 12)
    // the tail holds the longest end record and the ZIP64 records
    val bound = math.min(bytes.length.toLong, 0xFFFFL + 22 + 20 + 56) + cenSize
    def readOf(body: => Any): Long = {
      val before = fsReadBytes()
      body
      fsReadBytes() - before
    }
    val reads = Seq(
      "names" -> readOf(assert(names(path).size == 200)),
      "count" -> readOf(assert(spark.read.format("zip").load(path).count() == 200L)),
      "countEntries" -> readOf(assert(ZipExtract.countEntries(spark,
        graft.zip.ZipToParquetConfig(inputs = Seq(path))) == 200L)),
      "glob miss" -> readOf(assert(spark.read.format("zip").option("glob", "**/*.nomatch")
        .load(path).collect().isEmpty)))
    reads.foreach { case (what, n) =>
      assert(n > 0 && n <= bound,
        s"$what read $n bytes; the tail and directory are $bound of ${bytes.length}")
    }
    // the statistic counts entry reads too: a hash read covers the archive
    val hashed = readOf(spark.read.format("zip").load(path).select("hash").collect())
    assert(hashed >= bytes.length - bound, s"hash read only $hashed bytes")
  }

  private val nameChar = Gen.oneOf("abcxyzABC019_-.ñéüßç".toSeq)
  private val wideChar = Gen.oneOf("数据жλ".toSeq)
  private val bodyGen: Gen[Array[Byte]] = Gen.oneOf(
    Gen.choose(0, 3000).flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray)),
    // compressible: DEFLATED shrinks it
    Gen.zip(Gen.alphaStr, Gen.choose(1, 400)).map { case (s, k) => (s * k).getBytes("UTF-8") })
  private def entryGen(i: Int, cp437: Boolean): Gen[Spec] = for {
    base <- Gen.listOfN(6, if (cp437) nameChar else Gen.frequency(4 -> nameChar, 1 -> wideChar))
    kind <- Gen.choose(0, 9)
    body <- bodyGen
  } yield {
    val name = s"$i/${base.mkString}"
    if (kind == 0) Spec(name + "/", Array.emptyByteArray, stored = true) // directory
    else Spec(name, body, stored = kind % 2 == 0)
  }
  /** A seeded archive: cp437 or UTF-8 names, 1–12 entries, some of them
    * directories, and maybe a self-extracting stub in front. */
  private val archiveGen = for {
    cp437 <- Gen.oneOf(true, false) // cp437 names carry no EFS flag
    n <- Gen.choose(1, 12)
    entries <- Gen.sequence[List[Spec], Spec]((0 until n).map(entryGen(_, cp437)))
    stub <- Gen.oneOf(Gen.const(0), Gen.choose(1, 5000)) // self-extracting stub
  } yield (cp437, entries, Array.tabulate[Byte](stub)(i => (i * 31 + 7).toByte))

  private def archiveBytes(archive: (Boolean, List[Spec], Array[Byte])): Array[Byte] = {
    val (cp437, entries, stub) = archive
    zipBytes(entries, if (cp437) Cp437 else StandardCharsets.UTF_8, stub)
  }

  /** `java.util.zip.ZipFile`'s file entries of the archive at `path`:
    * (name, bytes), in directory order. */
  private def zipFileEntries(path: String): List[(String, Array[Byte])] = {
    val zf = new ZipFile(new File(path), Cp437)
    try zf.entries().asScala.filterNot(_.isDirectory).map { e =>
        val in = zf.getInputStream(e)
        try (e.getName, in.readAllBytes()) finally in.close()
      }.toList
    finally zf.close()
  }

  /** The parity property over 25 seeded archives. With `split`, every
    * data-reading scan cuts each archive with two or more data-bearing
    * entries into entry ranges, and the property checks that it did. */
  private def parity(split: Boolean): SCTest.Result = {
    var trial = 0
    val prop = Prop.forAll(archiveGen) { archive =>
      trial += 1
      val path = write(s"parity_${if (split) "split_" else ""}$trial.zip", archiveBytes(archive))
      val want = zipFileEntries(path)
      val got = spark.read.format("zip").load(path).select("name", "body", "hash")
        .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1), r.getString(2))).toList
      val dataEntries = want.count(_._2.nonEmpty)
      got.map(_._1) == want.map(_._1) &&
        got.zip(want).forall { case ((_, body, hash), (_, bytes)) =>
          body.sameElements(bytes) && hash == ZipExtract.sha256Hex(bytes)
        } &&
        names(path) == want.map(_._1) &&
        spark.read.format("zip").load(path).count() == want.size.toLong &&
        (!split || dataEntries < 2 || partitions(spark.read.format("zip").load(path)
          .select("name", "hash")).size >= 2)
    }
    SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(org.scalacheck.rng.Seed(20261018L)), prop)
  }

  /** Run `body` with every data-reading scan cutting archives at `bytes`. */
  private def withCutTarget[T](bytes: Long)(body: => T): T = {
    ZipScan.cutTargetOverride = bytes
    try body finally ZipScan.cutTargetOverride = 0L
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): ZipScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[ZipScan]
    }.get

  private def partitions(df: org.apache.spark.sql.DataFrame): Seq[ZipInputPartition] =
    scanOf(df).planInputPartitions().map(_.asInstanceOf[ZipInputPartition]).toSeq

  private def entriesRead(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.metrics(ZipEntriesRead.Name).value
    }

  test("property: format(zip) rows equal java.util.zip.ZipFile's, in order, " +
      "with bytes and hashes") {
    val res = parity(split = false)
    assert(res.passed, s"parity property failed: ${res.status}")
  }

  test("property: the same parity holds when every archive is split into " +
      "entry ranges") {
    val res = withCutTarget(1L)(parity(split = true))
    assert(res.passed, s"split parity property failed: ${res.status}")
  }

  test("cut: contiguous non-empty ranges that cover every entry, none above " +
      "the target unless it holds one weighted entry, none weightless unless " +
      "all are") {
    val prop = Prop.forAll(Gen.listOf(Gen.frequency(1 -> Gen.const(0L),
        6 -> Gen.choose(1L, 5000L), 1 -> Gen.choose(5000L, 50000L))),
      Gen.choose(1L, 20000L)) { (ws, target) =>
      val weights = ws.toIndexedSeq
      val ranges = ZipScan.cut(weights, target)
      val covered = ranges.flatMap { case (from, until) => from until until }
      covered == weights.indices &&
        ranges.forall { case (from, until) =>
          val range = weights.slice(from, until)
          from < until &&
            (range.sum <= target || range.count(_ > 0) == 1) &&
            (range.sum > 0 || weights.sum == 0)
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500)
      .withInitialSeed(org.scalacheck.rng.Seed(20261019L)), prop)
    assert(res.passed, s"cut property failed: ${res.status}")
    // equal shares, not a greedy fill that leaves a sliver
    assert(ZipScan.cut(IndexedSeq.fill(10)(10L), 60L) == Seq((0, 5), (5, 10)))
    assert(ZipScan.cut(IndexedSeq(5L, 100L, 5L), 50L) == Seq((0, 1), (1, 2), (2, 3)))
    assert(ZipScan.cut(IndexedSeq(0L, 0L, 0L), 50L) == Seq((0, 3)))
    // a weightless entry joins a range above the target, and leads the next
    assert(ZipScan.cut(IndexedSeq(5L, 0L, 0L), 1L) == Seq((0, 3)))
    assert(ZipScan.cut(IndexedSeq(5L, 0L, 0L, 5L), 1L) == Seq((0, 1), (1, 4)))
    assert(ZipScan.cut(IndexedSeq.empty, 50L).isEmpty)
  }

  test("a split archive answers COUNT(*), glob, LIMIT and names-only like " +
      "the whole archive, and its ranges' entries-read metric sums to the " +
      "entry count") {
    val rnd = new scala.util.Random(11)
    val entries = (0 until 60).map { i =>
      val b = new Array[Byte](500 + rnd.nextInt(4000))
      rnd.nextBytes(b)
      Spec(f"d${i % 3}/e$i%02d.${if (i % 4 == 0) "txt" else "bin"}", b, stored = i % 2 == 0)
    }
    val path = write("ranges.zip", zipBytes(entries))
    def load(glob: Option[String] = None) = {
      val r = spark.read.format("zip")
      glob.fold(r)(r.option("glob", _)).load(path)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    def answers() = (
      rows(load().select("name", "hash")),
      rows(load(Some("**/*.txt")).select("name", "hash")),
      rows(load().select("name", "hash").limit(7)),
      load().select("name").collect().map(_.getString(0)).toSeq,
      load().count(),
      load(Some("**/*.txt")).count())
    val whole = answers()
    assert(partitions(load().select("name", "hash")).size == 1)
    withCutTarget(20000L) {
      val packs = partitions(load().select("name", "hash"))
      val ranges = packs.flatMap(_.slices)
      assert(ranges.size >= 4, s"only ${ranges.size} ranges")
      assert(ranges.map(_.from).head == 0 && ranges.last.until == 60 &&
        ranges.zip(ranges.tail).forall { case (a, b) => a.until == b.from })
      assert(answers() == whole)
      assert(whole._1.size == 60 && whole._2.size == 15 && whole._3 == whole._1.take(7))
      // the entries-read metric, summed over the range tasks
      val df = load().select("name", "body")
      assert(df.collect().length == 60)
      val read = entriesRead(df)
      assert(read == Seq(60L), s"entries read: $read")
      // a reader of no column (a COUNT(*)'s) serves only its range too
      val conf = spark.sparkContext.broadcast(
        new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
      val counts = packs.map { p =>
        val r = ZipReaderFactory(conf, None, Array.empty, Array.empty).createReader(p)
        try Iterator.continually(r.next()).takeWhile(identity).size finally r.close()
      }
      assert(counts.sum == 60 && counts.forall(_ > 0), s"pack counts: $counts")
    }
  }

  /** The packing property over 1–5 seeded archives in one scan, at a
    * target of 1 byte (every entry with data its own task), at the derived
    * target (`target` 0) or at no bound at all. */
  private def packed(target: Long): SCTest.Result = {
    var trial = 0
    val prop = Prop.forAllNoShrink(Gen.choose(1, 5).flatMap(Gen.listOfN(_, archiveGen)),
        Gen.long) { (archives, seed) =>
      trial += 1
      val d = new File(dir, s"packed_${target}_$trial")
      d.mkdirs()
      val paths = archives.zipWithIndex.map { case (archive, k) =>
        val f = new File(d, s"a$k.zip")
        Files.write(f.toPath, archiveBytes(archive))
        f.getAbsolutePath
      }
      val want = paths.flatMap(p => zipFileEntries(p).map { case (n, b) => (n, p, b) })
      val rnd = new scala.util.Random(seed)
      // rows come in path order whatever order the inputs are given in
      val df = spark.read.format("zip").load(rnd.shuffle(paths): _*)
        .select("name", "source", "body", "hash")
      val got = df.collect().map(r =>
        (r.getString(0), r.getString(1), r.getAs[Array[Byte]](2), r.getString(3))).toList
      val rowsMatch = got.size == want.size &&
        got.zip(want).forall { case ((name, source, body, hash), (n, p, b)) =>
          name == n && source == p && body.sameElements(b) && hash == ZipExtract.sha256Hex(b)
        }
      // a runtime IN-filter on source drops exactly the other archives'
      // slices, and the packs it empties, and moves no slice
      val keep = paths.filter(_ => rnd.nextBoolean())
      val scan = scanOf(spark.read.format("zip").load(paths: _*).select("name", "hash"))
      def packs = scan.planInputPartitions().map(_.asInstanceOf[ZipInputPartition].slices).toSeq
      val before = packs
      scan.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("source", keep.toArray[Any])))
      val after = packs
      (s"rows: ${got.map(_._1)} vs ${want.map(_._1)}" |: rowsMatch) &&
        (s"entries read ${entriesRead(df)} for ${got.size} rows" |:
          entriesRead(df) == Seq(got.size.toLong)) &&
        (s"packs $before, kept $keep: $after" |:
          after == before.map(_.filter(s => keep.contains(s.displayPath))).filter(_.nonEmpty)) &&
        // at 1 byte no two entries with data share a task; otherwise
        // these small archives are one task
        (s"packs at target $target: $before" |:
          (if (target == 1L) before.size >= want.count(_._3.nonEmpty) else before.size == 1))
    }
    SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15)
      .withInitialSeed(org.scalacheck.rng.Seed(20261020L)), prop)
  }

  test("property: a packed scan reads every archive's ZipFile rows in path " +
      "order, its entries-read metric sums to the rows, and a runtime source " +
      "filter drops exactly the other archives' slices") {
    for (target <- Seq(1L, 0L, Long.MaxValue)) {
      val res = withCutTarget(target)(packed(target))
      assert(res.passed, s"packed property at target $target failed: ${res.status}")
    }
  }
}
