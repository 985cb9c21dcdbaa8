package graft.zip

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.security.MessageDigest
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.sources.ZipScan

/** Golden tests for the zip → rows extractor: schema (SURVEY.md §1.2), flag
  * matrix (reference src/builder.rs:185-217), glob filter (src/builder.rs:
  * 180-183), hash (src/builder.rs:196-209, intended plain-hex form), and
  * the union-all semantics of multiple inputs (src/builder.rs:54-73). */
class ZipExtractSpec extends SparkSpec {

  private lazy val dir: File = {
    val d = Files.createTempDirectory("graft_zip_spec").toFile
    d.deleteOnExit()
    d
  }

  private def makeZip(name: String, entries: (String, Array[Byte])*): String = {
    val f = new File(dir, name)
    val z = new ZipOutputStream(new FileOutputStream(f))
    entries.foreach { case (n, b) =>
      z.putNextEntry(new ZipEntry(n)); z.write(b); z.closeEntry()
    }
    z.close()
    f.getAbsolutePath
  }

  private def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  private val bodyA = "hello world".getBytes("UTF-8")
  private val bodyB = Array.tabulate[Byte](300)(i => (i % 251).toByte)
  private lazy val zip1 = makeZip("one.zip", "a.txt" -> bodyA, "img/b.png" -> bodyB)
  private lazy val zip2 = makeZip("two.zip", "c.txt" -> Array.emptyByteArray)

  test("schema is the fixed 4-column layout") {
    val df = ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(zip1)))
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("name", StringType), ("source", StringType),
      ("body", BinaryType), ("hash", StringType)))
  }

  test("extracts one row per entry with body, source, and sha256 hex hash") {
    val rows = ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(zip1)))
      .collect().sortBy(_.getString(0))
    assert(rows.length == 2)
    val a = rows.head
    assert(a.getString(0) == "a.txt")
    assert(a.getString(1) == zip1)
    assert(a.getAs[Array[Byte]](2).sameElements(bodyA))
    assert(a.getString(3) == sha(bodyA))
    assert(rows(1).getString(3) == sha(bodyB))
  }

  test("directory entries are skipped") {
    val p = makeZip("withdir.zip", "d/" -> Array.emptyByteArray, "d/x" -> bodyA)
    val names = ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(p)))
      .collect().map(_.getString(0)).toSet
    assert(names == Set("d/x"))
  }

  test("flag matrix: --no-body / --no-source / --no-hash null the column, keep schema") {
    for {
      body <- Seq(true, false)
      source <- Seq(true, false)
      hash <- Seq(true, false)
    } {
      val cfg = ZipToParquetConfig(inputs = Seq(zip1),
        includeBody = body, includeSource = source, includeHash = hash)
      val df = ZipExtract.entries(spark, cfg)
      assert(df.columns.toSeq == Seq("name", "source", "body", "hash"))
      val r = df.collect().find(_.getString(0) == "a.txt").get
      assert((r.get(1) == null) == !source, s"source flag=$source")
      assert((r.get(2) == null) == !body, s"body flag=$body")
      assert((r.get(3) == null) == !hash, s"hash flag=$hash")
      if (hash) assert(r.getString(3) == sha(bodyA))
    }
  }

  test("entry glob filters before extraction; no glob includes everything (fixes B1)") {
    val all = ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(zip1)))
    assert(all.count() == 2)
    val png = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(zip1), entryGlob = Some("**/*.png")))
    assert(png.collect().map(_.getString(0)).toSeq == Seq("img/b.png"))
  }

  test("multiple inputs union all entries; glob pattern inputs expand") {
    val both = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(zip1, zip2)))
    assert(both.count() == 3)
    val globbed = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(s"$dir/*.zip")))
    assert(globbed.count() >= 3) // one.zip + two.zip (+ other fixtures)
  }

  test("empty entry hashes to sha256 of empty bytes") {
    val r = ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(zip2))).collect()(0)
    assert(r.getString(3) == sha(Array.emptyByteArray))
    assert(r.getAs[Array[Byte]](2).length == 0)
  }

  test("no matching inputs raises NoInputsFound (fixes B4 silent empty output)") {
    val e = intercept[GraftError.GraftException] {
      ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(s"$dir/nope-*.zip")))
    }
    assert(e.err.isInstanceOf[GraftError.NoInputsFound])
  }

  test("invalid entry glob raises InvalidGlob on the driver (fixes B4 panic)") {
    val e = intercept[GraftError.GraftException] {
      ZipExtract.entries(spark,
        ZipToParquetConfig(inputs = Seq(zip1), entryGlob = Some("a[bc")))
    }
    assert(e.err.isInstanceOf[GraftError.InvalidGlob])
    // translates, but is no valid regex (reversed range): still typed,
    // still on the driver — never a PatternSyntaxException inside a task
    val e2 = intercept[GraftError.GraftException] {
      ZipExtract.entries(spark,
        ZipToParquetConfig(inputs = Seq(zip1), entryGlob = Some("[z-a]")))
    }
    assert(e2.err.isInstanceOf[GraftError.InvalidGlob])
  }

  test("--no-body --no-hash scans neither body nor hash (body read elided)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(zip1),
      includeBody = false, includeHash = false))
    val scanned = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
    }
    assert(scanned == Seq(Seq("name", "source")), s"scan columns: $scanned")
    assert(df.collect().forall(r => r.isNullAt(2) && r.isNullAt(3)))
  }

  test("countEntries' count() scans no column") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // Dataset.count() runs groupBy().count(); the exchange would make AQE
    // hide the scan, so read the static plan
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val counted = ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(zip1)))
        .groupBy().count()
      val scans = counted.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.scan.readSchema()
      }
      assert(scans.size == 1 && scans.head.isEmpty, s"scans: $scans")
      assert(counted.collect().head.getLong(0) == 2L)
      assert(ZipExtract.countEntries(spark, ZipToParquetConfig(inputs = Seq(zip1))) == 2L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("run() writes snappy parquet readable back with identical rows") {
    val out = new File(dir, "out.parquet").getAbsolutePath
    ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq(zip1), output = out))
    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    val r = back.collect().find(_.getAs[String]("name") == "a.txt").get
    assert(r.getAs[Array[Byte]]("body").sameElements(bodyA))
    // single-FILE contract (r10 verdict #1): the reference writes exactly
    // one regular file at -o PATH (src/builder.rs:232-278) — not a Spark
    // part-file directory. PATH must be a plain file with the 4-col schema.
    val outFile = new File(out)
    assert(outFile.isFile, s"-o $out must be a regular FILE, found " +
      (if (outFile.isDirectory) "a directory" else "nothing"))
    assert(back.columns.toSeq == Seq("name", "source", "body", "hash"))
    // and the promote step leaves no litter behind: no temp dataset dirs,
    // no checksum sibling next to the user's output
    val siblings = dir.listFiles().map(_.getName)
    assert(!siblings.exists(_.contains(".graft-tmp-")),
      s"temp dataset left behind: ${siblings.mkString(", ")}")
    assert(!siblings.contains(".out.parquet.crc"),
      "checksum litter next to the output file")
  }

  test("run() footer: the 4 schema columns in order, name required, the rest optional") {
    import org.apache.parquet.schema.Type.Repetition.{OPTIONAL, REQUIRED}
    import scala.jdk.CollectionConverters._
    val out = new File(dir, "footer.parquet").getAbsolutePath
    ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq(zip1), output = out))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(out), spark.sparkContext.hadoopConfiguration))
    val fields =
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
        .map(f => (f.getName, f.getRepetition))
      finally reader.close()
    assert(fields == Seq("name" -> REQUIRED, "source" -> OPTIONAL,
      "body" -> OPTIONAL, "hash" -> OPTIONAL))
    assert(fields == ZipExtract.schema.fields.toSeq
      .map(f => (f.name, if (f.nullable) OPTIONAL else REQUIRED)))
  }

  test("run() rejects a row-group size below 1 typed InvalidArgument before " +
      "any Spark job starts") {
    val sc = spark.sparkContext
    for (size <- Seq(0, -3)) {
      val out = new File(dir, s"rgs_$size.parquet")
      sc.setJobGroup("graft-row-group-size", "row-group size check")
      val e = try intercept[GraftError.GraftException] {
          ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq(zip1),
            output = out.getAbsolutePath, rowGroupSize = size))
        } finally sc.clearJobGroup()
      assert(e.err == GraftError.InvalidArgument(s"rowGroupSize must be positive, got $size"))
      assert(sc.statusTracker.getJobIdsForGroup("graft-row-group-size").isEmpty)
      assert(!out.exists && !dir.list().exists(_.startsWith(s"rgs_$size")))
    }
  }

  test("run(singleFile=false) writes the scalable multi-file directory layout") {
    val out = new File(dir, "out_multi.parquet").getAbsolutePath
    ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq(zip1), output = out,
      singleFile = false))
    assert(new File(out).isDirectory)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("single-file overwrite replaces a prior directory output at the same path") {
    val out = new File(dir, "out_swap.parquet").getAbsolutePath
    ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq(zip1), output = out,
      singleFile = false))
    assert(new File(out).isDirectory)
    ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq(zip1), output = out))
    assert(new File(out).isFile, "overwrite must replace the old directory")
    assert(spark.read.parquet(out).count() == 2)
  }

  test("runToStream emits a readable parquet byte stream (O10 stdout sink)") {
    val bos = new java.io.ByteArrayOutputStream()
    ZipExtract.runToStream(spark, ZipToParquetConfig(inputs = Seq(zip1)), bos)
    val bytes = bos.toByteArray
    // parquet magic at both ends
    assert(bytes.slice(0, 4).sameElements("PAR1".getBytes))
    assert(bytes.slice(bytes.length - 4, bytes.length).sameElements("PAR1".getBytes))
    val f = new File(dir, "stream_back.parquet")
    java.nio.file.Files.write(f.toPath, bytes)
    assert(spark.read.parquet(f.getAbsolutePath).count() == 2)
  }

  test("extracted rows write to ORC/JSON/CSV sinks and round-trip (sink generality)") {
    val df = ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(zip1)))
    // ORC carries the full schema including binary body
    val orcOut = new File(dir, "out.orc").getAbsolutePath
    df.write.mode("overwrite").orc(orcOut)
    val orcBack = spark.read.orc(orcOut)
    assert(orcBack.count() == 2)
    assert(orcBack.collect().find(_.getString(0) == "a.txt").get
      .getAs[Array[Byte]]("body").sameElements(bodyA))
    // JSON/CSV: textual sinks for the names+hash projection
    val proj = df.select("name", "hash")
    val jsonOut = new File(dir, "out.json").getAbsolutePath
    proj.write.mode("overwrite").json(jsonOut)
    assert(spark.read.json(jsonOut).collect().map(_.getAs[String]("name")).sorted
      .sameElements(Array("a.txt", "img/b.png")))
    val csvOut = new File(dir, "out.csv").getAbsolutePath
    proj.write.mode("overwrite").option("header", "true").csv(csvOut)
    val csvBack = spark.read.option("header", "true").csv(csvOut)
    assert(csvBack.count() == 2)
    assert(csvBack.collect().find(_.getString(0) == "a.txt").get.getString(1) == sha(bodyA))
  }

  test("property: random round-trip zip(files) -> extract == files") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val files = (0 until rnd.nextInt(8) + 1).map { i =>
        val body = Array.fill[Byte](rnd.nextInt(2000))(rnd.nextInt().toByte)
        (s"f$trial/e$i.bin", body)
      }
      val p = makeZip(s"rt$trial.zip", files: _*)
      val rows = ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(p)))
        .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](2).toSeq, r.getString(3)))
      assert(rows.map(_._1).sorted.toSeq == files.map(_._1).sorted)
      val byName = files.toMap
      rows.foreach { case (n, b, h) =>
        assert(b == byName(n).toSeq, s"body mismatch for $n")
        assert(h == sha(byName(n)), s"hash mismatch for $n")
      }
    }
  }

  // ---- encodings: each column chunk keeps or drops its dictionary on its
  // own, and the attempt stops at the sink's 64 KiB dictionary cap

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Per row group of the file at `path`: its rows, and the `body` chunk's
    * dictionary page, encodings and compressed size. */
  private def bodyChunks(path: String): Seq[(Long, Boolean, Set[Encoding], Long)] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try r.getFooter.getBlocks.asScala.toSeq.map { b =>
      val c = b.getColumns.asScala.find(_.getPath.toDotString == "body").get
      (b.getRowCount, c.hasDictionaryPage, c.getEncodings.asScala.toSet, c.getTotalSize)
    } finally r.close()
  }

  private def hasDictionary(c: (Long, Boolean, Set[Encoding], Long)): Boolean =
    c._2 || c._3.exists(_.usesDictionary)

  /** The one part that a write of `cfg`'s entries at parquet-mr's default
    * dictionary settings makes, in `run`'s row groups. */
  private def defaultPart(cfg: ZipToParquetConfig, name: String): String = {
    val d = new File(dir, name).getAbsolutePath
    ZipExtract.entries(spark, cfg).write
      .option("parquet.block.row.count.limit", cfg.rowGroupSize.toString).parquet(d)
    val parts = ZipExtract.partFiles(new Path(d).getFileSystem(conf), new Path(d))
    assert(parts.size == 1, s"expected one part in $d, got $parts")
    parts.head.toUri.getPath
  }

  private def randomBody(seed: Int, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    new scala.util.Random(seed).nextBytes(b)
    b
  }

  test("100 copies of one 8 KiB body keep the body dictionary, and the file " +
      "its small size") {
    val body = randomBody(8, 8192)
    val zip = makeZip("dup100.zip", (0 until 100).map(i => f"d$i%03d.bin" -> body): _*)
    val out = new File(dir, "dup100.parquet").getAbsolutePath
    val cfg = ZipToParquetConfig(inputs = Seq(zip), output = out)
    ZipExtract.run(spark, cfg)
    val chunks = bodyChunks(out)
    assert(chunks.nonEmpty && chunks.forall(c => c._2 && hasDictionary(c)), chunks)
    // no larger than a write at parquet-mr's 1 MiB dictionary cap; the 100
    // copies stored PLAIN would be many times larger (random bytes do not
    // compress)
    val tried = defaultPart(cfg, "dup100_default")
    assert(new File(out).length <= new File(tried).length)
    assert(new File(out).length * 5 < 100L * body.length,
      s"${new File(out).length} B with the dictionary, ${100L * body.length} B of bodies")
  }

  test("a body repeated across two archives keeps the body dictionary") {
    val body = randomBody(2, 4096)
    val a = makeZip("rep_a.zip", "a.bin" -> body)
    val b = makeZip("rep_b.zip", "b.bin" -> body)
    val out = new File(dir, "rep.parquet").getAbsolutePath
    ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq(a, b), output = out))
    assert(bodyChunks(out).forall(c => c._2 && hasDictionary(c)))
  }

  test("two zero-length entries keep the body dictionary") {
    val zip = makeZip("empties.zip", "e1.txt" -> Array.emptyByteArray,
      "e2.txt" -> Array.emptyByteArray)
    val out = new File(dir, "empties.parquet").getAbsolutePath
    ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq(zip), output = out))
    assert(bodyChunks(out).forall(c => c._2 && hasDictionary(c)))
  }

  test("a repeat only among entries the glob excludes turns the body " +
      "dictionary off") {
    val dup = randomBody(3, 2048)
    val zip = makeZip("globbed.zip", "keep/a.txt" -> randomBody(4, 900),
      "skip/x.bin" -> dup, "keep/b.txt" -> randomBody(5, 1100), "skip/y.bin" -> dup)
    val out = new File(dir, "globbed.parquet").getAbsolutePath
    val cfg = ZipToParquetConfig(inputs = Seq(zip), output = out,
      entryGlob = Some("keep/*.txt"))
    ZipExtract.run(spark, cfg)
    val chunks = bodyChunks(out)
    assert(chunks.map(_._1).sum == 2 && !chunks.exists(hasDictionary), chunks)
    // without the glob the repeat is emitted, and its chunk keeps the dictionary
    ZipExtract.run(spark, cfg.copy(entryGlob = None))
    val all = bodyChunks(out)
    assert(all.map(_._1).sum == 4 && all.forall(hasDictionary), all)
  }

  test("an all-distinct multi-archive run writes body PLAIN with no " +
      "dictionary page, the same pages as a write that tries the dictionary, " +
      "and reads back as the extraction's rows, in order") {
    val rnd = new scala.util.Random(11)
    val zips = (0 until 3).map { z =>
      makeZip(s"distinct_$z.zip", (0 until 40 + 30 * z).map { i =>
        f"z$z/e$i%03d.bin" -> randomBody(1000 * z + i, 100 + rnd.nextInt(4000))
      }: _*)
    }
    val out = new File(dir, "distinct.parquet").getAbsolutePath
    val cfg = ZipToParquetConfig(inputs = zips, output = out, rowGroupSize = 30)
    // at the smallest archive's bytes the other two are cut into entry
    // ranges: several parts, stitched
    ZipScan.cutTargetOverride = new File(zips.head).length
    try ZipExtract.run(spark, cfg) finally ZipScan.cutTargetOverride = 0L
    val chunks = bodyChunks(out)
    assert(chunks.map(_._1).sum == 210 && chunks.forall(_._1 <= 30) && chunks.size > 7)
    assert(!chunks.exists(hasDictionary), chunks)
    assert(chunks.forall(_._3.contains(Encoding.PLAIN)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
      (r.getString(0), r.getString(1), r.getAs[Array[Byte]](2).toSeq, r.getString(3)))
    assert(rows(spark.read.parquet(out)) == rows(ZipExtract.entries(spark, cfg)))
    // one archive written by run and at parquet-mr's defaults: the same
    // groups and body chunk sizes
    val oneOut = new File(dir, "distinct_one.parquet").getAbsolutePath
    val one = cfg.copy(inputs = zips.take(1), output = oneOut)
    ZipExtract.run(spark, one)
    val capped = bodyChunks(oneOut)
    val tried = bodyChunks(defaultPart(one, "distinct_default"))
    assert(tried.map(c => (c._1, c._2, c._4)) == capped.map(c => (c._1, c._2, c._4)))
  }

  test("each row group's body chunk decides its own dictionary: only the " +
      "group that holds a repeat keeps one") {
    val bodies = (0 until 30).map(i => randomBody(500 + i, 1024))
    // rows 10-19 hold bodies 10-18 and a second copy of body 12
    val order = (0 until 15) ++ Seq(12) ++ (15 until 30)
    val zip = makeZip("groups.zip", order.zipWithIndex.map { case (b, row) =>
      f"g$row%02d.bin" -> bodies(b) }: _*)
    val out = new File(dir, "groups.parquet").getAbsolutePath
    ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq(zip), output = out,
      rowGroupSize = 10))
    val chunks = bodyChunks(out)
    assert(chunks.map(_._1) == Seq(10L, 10L, 10L, 1L), chunks)
    assert(chunks.map(hasDictionary) == Seq(false, true, false, false), chunks)
  }

  test("99 distinct 8 KiB bodies and one copy in a 100-row chunk write body " +
      "PLAIN: the attempt stops at the 64 KiB dictionary cap") {
    val bodies = (0 until 99).map(i => randomBody(900 + i, 8192))
    val zip = makeZip("capped.zip", (bodies :+ bodies.head).zipWithIndex.map {
      case (b, i) => f"c$i%02d.bin" -> b }: _*)
    val out = new File(dir, "capped.parquet").getAbsolutePath
    val cfg = ZipToParquetConfig(inputs = Seq(zip), output = out)
    ZipExtract.run(spark, cfg)
    val chunks = bodyChunks(out)
    assert(chunks.map(_._1) == Seq(100L) && !chunks.exists(hasDictionary), chunks)
    // parquet-mr's 1 MiB default holds all 99 bodies and keeps the dictionary
    // for the one repeat: the trade the cap makes
    assert(bodyChunks(defaultPart(cfg, "capped_default")).forall(hasDictionary))
  }

  test("an unreadable archive fails typed Zip from the write and leaves no " +
      "file at the output, with body on and off") {
    val whole = java.nio.file.Files.readAllBytes(new File(
      makeZip("whole.zip", "a.txt" -> bodyA, "b.bin" -> bodyB)).toPath)
    val bad = new File(dir, "truncated.zip")
    java.nio.file.Files.write(bad.toPath, whole.take(whole.length - 30))
    val out = new File(dir, "truncated.parquet")
    val cfg = ZipToParquetConfig(inputs = Seq(bad.getAbsolutePath), output = out.getAbsolutePath)
    for (c <- Seq(cfg, cfg.copy(includeBody = false))) {
      // it arrives inside Spark's task failure
      val e = intercept[Exception](ZipExtract.run(spark, c))
      assert(GraftError.unwrap(e).exists(_.isInstanceOf[GraftError.Zip]), e)
      assert(!out.exists)
    }
  }
}
