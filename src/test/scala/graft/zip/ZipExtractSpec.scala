package graft.zip

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.security.MessageDigest
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.types._
import graft.SparkSpec

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

  test("countEntries' count() plan is the source's pushed COUNT(*)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // Dataset.count() runs groupBy().count(); the exchange would make AQE
    // hide the scan, so read the static plan
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val counted = ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(zip1)))
        .groupBy().count()
      val scans = counted.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.scan.description()
      }
      assert(scans.size == 1 && scans.head.contains("PushedAggregation=[COUNT(*)]"),
        s"scans: $scans")
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
}
