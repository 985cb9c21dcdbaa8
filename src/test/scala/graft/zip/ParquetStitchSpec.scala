package graft.zip

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sources.{ZipInputPartition, ZipScan}

/** The single-file sink when the scan has several tasks: each task
  * writes its own Parquet part and [[ParquetStitch]] joins the parts into
  * the one file at PATH. The joined file must read back as the rows the
  * extraction emits, in order, with valid page indexes and the footer a
  * one-writer run gives. The three archives here are far below the 1 MiB
  * scan target, so by default they pack into one task; the multi-part
  * cases set the target so that the scan plans several. */
class ParquetStitchSpec extends SparkSpec {

  private lazy val dir: File = {
    val d = Files.createTempDirectory("graft_stitch_spec").toFile
    d.deleteOnExit()
    d
  }

  /** An archive of `n` entries `prefix/eNN.ext` (sorted names, so a page's
    * name statistics cover a narrow range). */
  private def makeZip(name: String, n: Int, ext: String = "txt"): String = {
    val f = new File(dir, name)
    val z = new ZipOutputStream(new FileOutputStream(f))
    val rnd = new scala.util.Random(name.hashCode)
    (0 until n).foreach { i =>
      val body = new Array[Byte](200 + rnd.nextInt(3000))
      rnd.nextBytes(body)
      z.putNextEntry(new ZipEntry(f"${name.stripSuffix(".zip")}/e$i%02d.$ext"))
      z.write(body)
      z.closeEntry()
    }
    z.close()
    f.getAbsolutePath
  }

  private lazy val zips = Seq(makeZip("a.zip", 13), makeZip("b.zip", 5),
    makeZip("c.zip", 9, ext = "png"))

  private def conf = spark.sparkContext.hadoopConfiguration

  private def rowsOf(rows: Array[Row]): Seq[(String, String, Seq[Byte], String)] =
    rows.toSeq.map(r => (r.getString(0), r.getString(1),
      r.getAs[Array[Byte]](2).toSeq, r.getString(3)))

  private def footer(path: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try r.getFooter finally r.close()
  }

  private def withTarget[T](bytes: Long)(body: => T): T = {
    ZipScan.cutTargetOverride = bytes
    try body finally ZipScan.cutTargetOverride = 0L
  }

  private def listed(i: Int): Long = new File(zips(i)).length

  /** Three tasks: at a target of b's and c's bytes together, a (larger)
    * is cut into two entry ranges, its second range packs with b, and c
    * is left alone (see [[ThreeParts]]). */
  private def threeParts[T](body: => T): T = withTarget(listed(1) + listed(2))(body)

  private val Whole = Int.MaxValue
  private val ThreeParts = Seq(Seq(("a.zip", 0, 7)),
    Seq(("a.zip", 7, 13), ("b.zip", 0, Whole)), Seq(("c.zip", 0, Whole)))

  /** The scan tasks `cfg` plans: each one's archives and entry ranges. */
  private def plan(cfg: ZipToParquetConfig): Seq[Seq[(String, Int, Int)]] =
    ZipExtract.entries(spark, cfg).queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.toBatch.planInputPartitions().toSeq
    }.get.map(_.asInstanceOf[ZipInputPartition].slices
      .map(s => (new File(s.displayPath).getName, s.from, s.until)))

  test("the default plan packs the three archives into one part, its row " +
      "groups full but the last") {
    val out = new File(dir, "packed.parquet").getAbsolutePath
    val cfg = ZipToParquetConfig(inputs = zips, output = out, rowGroupSize = 4)
    assert(plan(cfg) == Seq(Seq(("a.zip", 0, Whole), ("b.zip", 0, Whole), ("c.zip", 0, Whole))))
    ZipExtract.run(spark, cfg)
    assert(rowsOf(spark.read.parquet(out).collect()) ==
      rowsOf(ZipExtract.entries(spark, cfg).collect()))
    val groups = footer(out).getBlocks.asScala.map(_.getRowCount).toSeq
    assert(groups == Seq(4, 4, 4, 4, 4, 4, 3), s"row groups: $groups")
  }

  test("a multi-part run reads back as the extraction's rows, in order, in " +
      "each part's row groups") {
    val out = new File(dir, "multi.parquet").getAbsolutePath
    val cfg = ZipToParquetConfig(inputs = zips, output = out, rowGroupSize = 4)
    threeParts {
      assert(plan(cfg) == ThreeParts)
      ZipExtract.run(spark, cfg)
    }
    assert(new File(out).isFile)
    assert(rowsOf(spark.read.parquet(out).collect()) ==
      rowsOf(ZipExtract.entries(spark, cfg).collect()))
    val groups = footer(out).getBlocks.asScala.map(_.getRowCount).toSeq
    assert(groups.forall(_ <= 4), s"row groups: $groups")
    // one part per planned task, in task order: 7 rows, then 6 + 5 (a
    // group holds the end of a and the start of b), then 9; each part
    // ends with its short group
    assert(groups == Seq(4, 3, 4, 4, 3, 4, 4, 1), s"row groups: $groups")
    val siblings = dir.listFiles().map(_.getName)
    assert(!siblings.exists(_.contains(".graft-tmp-")) && !siblings.contains(".multi.parquet.crc"),
      s"litter left behind: ${siblings.mkString(", ")}")
  }

  test("a stitched file's page indexes read back, every page lies inside " +
      "its chunk, and a page-skipping filtered read returns the right rows") {
    val out = new File(dir, "paged.parquet").getAbsolutePath
    val cfg = ZipToParquetConfig(inputs = zips, output = out, rowGroupSize = 8)
    // pages of at most 2 rows, so a filter on name can skip pages
    val pageConf = Seq("parquet.page.row.count.limit" -> "2",
      "parquet.page.size.row.check.min" -> "1", "parquet.page.size.check.estimate" -> "false")
    pageConf.foreach { case (k, v) => conf.set(k, v) }
    try threeParts(ZipExtract.run(spark, cfg))
    finally pageConf.foreach { case (k, _) => conf.unset(k) }
    val len = new File(out).length
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(out), conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala
      // 7 | 8 + 3 | 8 + 1 rows
      assert(blocks.map(_.getRowCount) == Seq(7, 8, 3, 8, 1), s"row groups: $blocks")
      for (b <- blocks; c <- b.getColumns.asScala) {
        assert(r.readColumnIndex(c) != null, s"no column index for ${c.getPath}")
        val oi = r.readOffsetIndex(c)
        assert(oi != null && oi.getPageCount == (b.getRowCount + 1) / 2,
          s"${c.getPath}: ${Option(oi).map(_.getPageCount)} pages for ${b.getRowCount} rows")
        val pages =
          (0 until oi.getPageCount).map(i => (oi.getOffset(i), oi.getCompressedPageSize(i)))
        assert(pages.head._1 == c.getFirstDataPageOffset, s"${c.getPath}: $pages vs $c")
        assert(pages.zip(pages.tail).forall { case (p, q) => p._1 + p._2 == q._1 })
        assert(pages.last._1 + pages.last._2 == c.getStartingPos + c.getTotalSize)
        assert(c.getStartingPos >= 4 && c.getStartingPos + c.getTotalSize <= len)
      }
    } finally r.close()
    val all = rowsOf(ZipExtract.entries(spark, cfg).collect())
    for (name <- Seq("a/e11.txt", "b/e03.txt", "c/e07.png")) {
      assert(rowsOf(spark.read.parquet(out).filter(col("name") === name).collect()) ==
        all.filter(_._1 == name), name)
    }
  }

  test("a stitched footer keeps the one-writer schema: name REQUIRED, the " +
      "rest OPTIONAL, and Spark's row schema in the key-value metadata") {
    import org.apache.parquet.schema.Type.Repetition.{OPTIONAL, REQUIRED}
    val out = new File(dir, "footer.parquet").getAbsolutePath
    threeParts(ZipExtract.run(spark, ZipToParquetConfig(inputs = zips, output = out)))
    val meta = footer(out).getFileMetaData
    assert(meta.getSchema.getFields.asScala.toSeq.map(f => (f.getName, f.getRepetition)) ==
      Seq("name" -> REQUIRED, "source" -> OPTIONAL, "body" -> OPTIONAL, "hash" -> OPTIONAL))
    assert(meta.getKeyValueMetaData.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    assert(spark.read.parquet(out).schema.map(f => (f.name, f.dataType)) ==
      ZipExtract.schema.map(f => (f.name, f.dataType)))
  }

  test("a glob that matches nothing gives a valid zero-row file; one that " +
      "matches only a later archive stitches it after the empty part 0") {
    val miss = new File(dir, "miss.parquet").getAbsolutePath
    ZipExtract.run(spark, ZipToParquetConfig(inputs = zips, output = miss,
      entryGlob = Some("**/*.nomatch")))
    assert(new File(miss).isFile)
    assert(footer(miss).getBlocks.isEmpty)
    val back = spark.read.parquet(miss)
    assert(back.count() == 0L && back.columns.toSeq == Seq("name", "source", "body", "hash"))
    val png = new File(dir, "png.parquet").getAbsolutePath
    val cfg = ZipToParquetConfig(inputs = zips, output = png, entryGlob = Some("**/*.png"))
    // at a's bytes a is not cut (so not read on the driver): it is task 0
    // alone, with no png, and b and c pack into task 1
    withTarget(listed(0)) {
      assert(plan(cfg) == Seq(Seq(("a.zip", 0, Whole)), Seq(("b.zip", 0, Whole), ("c.zip", 0, Whole))))
      ZipExtract.run(spark, cfg)
    }
    assert(rowsOf(spark.read.parquet(png).collect()) ==
      rowsOf(ZipExtract.entries(spark, cfg).collect()))
    assert(spark.read.parquet(png).count() == 9L)
  }

  /** A directory of Spark parts from a multi-file run over `zips`. */
  private def partsDir(name: String): (File, Seq[File]) = {
    val d = new File(dir, name)
    threeParts(ZipExtract.run(spark, ZipToParquetConfig(inputs = zips,
      output = d.getAbsolutePath, singleFile = false)))
    val fs = new Path(d.getAbsolutePath).getFileSystem(conf)
    (d, ZipExtract.partFiles(fs, new Path(d.getAbsolutePath)).map(p => new File(p.toUri)))
  }

  /** Promote `d`'s parts to `out`; the typed error it raised. */
  private def promoteFails(d: File, out: String): GraftError = {
    val outPath = new Path(out)
    val e = intercept[GraftError.GraftException] {
      ZipExtract.promote(outPath.getFileSystem(conf), new Path(d.getAbsolutePath), outPath, out)
    }
    assert(!new File(out).exists, s"a failed stitch left a file at $out")
    e.err
  }

  test("a truncated, encrypted or differently-shaped part fails the stitch " +
      "typed and leaves nothing at PATH") {
    val (d, parts) = partsDir("parts_truncated")
    assert(parts.size == 3)
    val bytes = Files.readAllBytes(parts(1).toPath)
    Files.write(parts(1).toPath, bytes.take(bytes.length - 100))
    promoteFails(d, new File(dir, "truncated.parquet").getAbsolutePath) match {
      case GraftError.Parquet(_) | GraftError.WriteFile(_, _) => ()
      case other => fail(s"expected Parquet or WriteFile, got $other")
    }

    val (d2, parts2) = partsDir("parts_encrypted")
    val enc = Files.readAllBytes(parts2(2).toPath)
    "PARE".getBytes("US-ASCII").copyToArray(enc, enc.length - 4)
    Files.write(parts2(2).toPath, enc)
    promoteFails(d2, new File(dir, "encrypted.parquet").getAbsolutePath) match {
      case GraftError.Parquet(cause) => assert(cause.contains("encrypted"), cause)
      case other => fail(s"expected Parquet, got $other")
    }

    val (d3, _) = partsDir("parts_schema")
    val other = new File(dir, "other_schema").getAbsolutePath
    spark.range(3).toDF("n").repartition(1).write.mode("overwrite").parquet(other)
    val otherPart = new File(other).listFiles().find(_.getName.startsWith("part-")).get
    Files.copy(otherPart.toPath, new File(d3, "part-00007-x-c000.snappy.parquet").toPath)
    promoteFails(d3, new File(dir, "schema.parquet").getAbsolutePath) match {
      case GraftError.Parquet(cause) => assert(cause.contains("schema"), cause)
      case other => fail(s"expected Parquet, got $other")
    }
  }

  test("parts are joined in partition-index order, not name order") {
    val d = new File(dir, "names")
    d.mkdirs()
    Seq("part-100000-u-c000.snappy.parquet", "part-99999-u-c001.snappy.parquet",
      "part-99999-u-c000.snappy.parquet", "_SUCCESS", ".part-00001-u-c000.crc")
      .foreach(n => new File(d, n).createNewFile())
    val fs = new Path(d.getAbsolutePath).getFileSystem(conf)
    assert(ZipExtract.partFiles(fs, new Path(d.getAbsolutePath)).map(_.getName) == Seq(
      "part-99999-u-c000.snappy.parquet", "part-99999-u-c001.snappy.parquet",
      "part-100000-u-c000.snappy.parquet"))
  }
}
