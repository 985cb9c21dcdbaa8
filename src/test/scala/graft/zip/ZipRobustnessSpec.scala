package graft.zip

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec

/** Edge cases from SURVEY.md §7.6: oversized entries (maxBodyBytes guard),
  * non-ASCII entry names, zip64 archives (entry count past the 65535
  * classic-format limit), plus the SQL registration of the native
  * functions. */
class ZipRobustnessSpec extends SparkSpec {

  private lazy val dir: File = {
    val d = Files.createTempDirectory("graft_robust").toFile
    d.deleteOnExit()
    d
  }

  test("vec_dot is SQL-callable after registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 32.0)
    // mixed types: float column vs long literal array
    val r2 = spark.sql(
      "SELECT vec_dot(array(CAST(1.5 AS FLOAT)), array(2L)) AS d")
      .collect()(0).getDouble(0)
    assert(r2 == 3.0)
  }

  test("maxBodyBytes guards against oversized entries (typed EntryTooLarge)") {
    val f = new File(dir, "big.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    z.putNextEntry(new ZipEntry("big.bin"))
    z.write(new Array[Byte](4096))
    z.closeEntry(); z.close()
    val cfg = ZipToParquetConfig(inputs = Seq(f.getAbsolutePath), maxBodyBytes = 100)
    val e = intercept[Exception] {
      ZipExtract.entries(spark, cfg).collect()
    }
    assert(GraftError.unwrap(e).exists(_.isInstanceOf[GraftError.EntryTooLarge]))
  }

  test("DSv2 reader honors the maxBodyBytes option (typed EntryTooLarge)") {
    val f = new File(dir, "big2.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    z.putNextEntry(new ZipEntry("big.bin"))
    z.write(new Array[Byte](4096))
    z.closeEntry(); z.close()
    val e = intercept[Exception] {
      spark.read.format("zip").option("maxBodyBytes", "100")
        .load(f.getAbsolutePath).collect()
    }
    assert(GraftError.unwrap(e).exists(_.isInstanceOf[GraftError.EntryTooLarge]))
    // under the limit → reads fine
    assert(spark.read.format("zip").option("maxBodyBytes", "8192")
      .load(f.getAbsolutePath).count() == 1)
  }

  test("maxBodyBytes that is not a non-negative integer fails typed at load()") {
    val f = new File(dir, "small.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    z.putNextEntry(new ZipEntry("a.txt"))
    z.write("a".getBytes("UTF-8"))
    z.closeEntry(); z.close()
    for (v <- Seq("ten", "-1")) {
      val e = intercept[GraftError.GraftException] {
        spark.read.format("zip").option("maxBodyBytes", v).load(f.getAbsolutePath)
      }
      assert(e.err.isInstanceOf[GraftError.InvalidArgument], s"$v: ${e.err}")
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("truncated entry stream raises typed ReadFileInZip (error.rs:17-21)") {
    val good = new File(dir, "tr_good.zip")
    val z = new ZipOutputStream(new FileOutputStream(good))
    z.putNextEntry(new ZipEntry("a.bin"))
    val rnd = new scala.util.Random(7)
    val body = new Array[Byte](50000)
    rnd.nextBytes(body) // incompressible → deflated ≈ 50KB, cut lands mid-stream
    z.write(body)
    z.closeEntry(); z.close()
    val bytes = Files.readAllBytes(good.toPath)
    val bad = new File(dir, "truncated.zip")
    Files.write(bad.toPath, bytes.take(bytes.length / 2)) // cut mid-deflate
    val e = intercept[Exception] {
      ZipExtract.entries(spark,
        ZipToParquetConfig(inputs = Seq(bad.getAbsolutePath))).collect()
    }
    assert(GraftError.unwrap(e).exists {
      case _: GraftError.ReadFileInZip | _: GraftError.Zip => true
      case _ => false
    })
  }

  test("archive vanishing between plan and read raises typed ReadFile (error.rs:5-8)") {
    val f = new File(dir, "vanish.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    z.putNextEntry(new ZipEntry("x")); z.write("x".getBytes); z.closeEntry(); z.close()
    val df = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(f.getAbsolutePath)))
    assert(f.delete())
    val e = intercept[Exception] { df.collect() }
    assert(GraftError.unwrap(e).exists(_.isInstanceOf[GraftError.ReadFile]))
  }

  test("run() without an output raises typed NeedsOutputOrStdout (error.rs:41)") {
    val e = intercept[GraftError.GraftException] {
      ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq("whatever")))
    }
    assert(e.err == GraftError.NeedsOutputOrStdout)
  }

  test("row-group-size knob: groups in the footer honor the rows ceiling") {
    val f = new File(dir, "rg.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    (0 until 10).foreach { i =>
      z.putNextEntry(new ZipEntry(s"e$i.txt")); z.write(s"body$i".getBytes); z.closeEntry()
    }
    z.close()
    val out = new File(dir, "rg_out.parquet")
    ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq(f.getAbsolutePath),
      output = out.getAbsolutePath, rowGroupSize = 3))
    // run() now writes a regular FILE at the path (single-file contract)
    assert(out.isFile)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(out.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val groups = reader.getRowGroups
      // 10 rows at a 3-row ceiling → 4 groups of (3,3,3,1), like the
      // reference's set_max_row_group_size (src/builder.rs:254)
      assert(groups.size() == 4, s"expected 4 row groups, got ${groups.size()}")
      val counts = (0 until groups.size()).map(i => groups.get(i).getRowCount)
      assert(counts.forall(_ <= 3) && counts.sum == 10)
    } finally reader.close()
  }

  test("quirkQuotedHash reproduces the reference's quote-wrapped stored hash (B2)") {
    val f = new File(dir, "quirk.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    z.putNextEntry(new ZipEntry("a.txt")); z.write("hi".getBytes); z.closeEntry()
    z.close()
    val plain = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(f.getAbsolutePath)))
      .collect()(0).getString(3)
    val quirk = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(f.getAbsolutePath), quirkQuotedHash = true))
      .collect()(0).getString(3)
    assert(quirk == "\"" + plain + "\"")
    assert(plain.length == 64 && !plain.contains("\""))
  }

  test("cp437 entry names decode correctly (APPNOTE D.2; wax-lossy divergence)") {
    // ZipOutputStream with an explicit non-UTF8 charset writes names in
    // that charset WITHOUT the EFS flag — the case the reference's wax
    // crate mangles lossily and ZipInputStream(in, cp437) decodes exactly.
    val f = new File(dir, "cp437.zip")
    val z = new ZipOutputStream(new FileOutputStream(f),
      java.nio.charset.Charset.forName("IBM437"))
    val name = "ñandú_café.txt" // every char exists in cp437
    z.putNextEntry(new ZipEntry(name)); z.write("x".getBytes); z.closeEntry()
    z.close()
    val got = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(f.getAbsolutePath)))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(name))
    // and via the DSv2 path
    val got2 = spark.read.format("zip").load(f.getAbsolutePath)
      .select("name").collect().map(_.getString(0)).toSeq
    assert(got2 == Seq(name))
  }

  test("non-ASCII UTF-8 entry names round-trip") {
    val f = new File(dir, "utf8.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    val names = Seq("café/résumé.txt", "数据/文件.bin")
    names.foreach { n =>
      z.putNextEntry(new ZipEntry(n)); z.write("x".getBytes); z.closeEntry()
    }
    z.close()
    val got = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(f.getAbsolutePath)))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == names.sorted)
  }

  test("zip64: archives with more than 65535 entries extract completely") {
    val f = new File(dir, "many.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    val n = 70000
    var i = 0
    while (i < n) {
      z.putNextEntry(new ZipEntry(s"e$i"))
      z.closeEntry()
      i += 1
    }
    z.close()
    // names-only config → central-directory-style pass, no body reads
    val cfg = ZipToParquetConfig(inputs = Seq(f.getAbsolutePath),
      includeBody = false, includeHash = false)
    assert(ZipExtract.entries(spark, cfg).count() == n)
  }

  /** Fuzz corpus shared by the flatMap-path and DSv2-path trials: a valid
    * 8-entry archive plus a seeded mutator (bit flips / truncation). */
  private lazy val fuzzBase: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    for (i <- 0 until 8) {
      z.putNextEntry(new ZipEntry(s"doc$i.txt"))
      z.write(s"fuzz payload $i ".getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def mutateArchive(rnd: scala.util.Random, kind: Int): Array[Byte] = {
    val mutated = fuzzBase.clone()
    if (kind == 2) {
      mutated.take(1 + rnd.nextInt(mutated.length - 1)) // truncate
    } else {
      val flips = 1 + rnd.nextInt(8)
      for (_ <- 0 until flips) {
        val at = rnd.nextInt(mutated.length)
        mutated(at) = (mutated(at) ^ (1 << rnd.nextInt(8))).toByte
      }
      mutated
    }
  }

  /** Run `body` on a mutated archive; pass iff it succeeds OR fails with a
    * typed GraftError somewhere in the cause chain. */
  private def assertTypedOrClean(trial: Int, label: String)(body: => Unit): Unit =
    try body
    catch {
      case e: Throwable =>
        val typed = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .take(10)
          .exists(_.isInstanceOf[GraftError.GraftException])
        assert(typed,
          s"$label trial $trial: untyped failure ${e.getClass.getName}: ${e.getMessage}")
    }

  test("corrupted archives fail TYPED or extract cleanly, never a raw executor error") {
    // O15 fuzz: random byte flips and truncations of a valid archive must
    // surface as the GraftError taxonomy (a harmless mutation may still
    // extract) — a raw ZipException/EOF/NPE escaping to the user means a
    // hole in the error mapping. Seeded: failures reproduce.
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 25) {
      val bytes = mutateArchive(rnd, trial % 3)
      val f = new File(dir, s"fuzz_$trial.zip")
      val out = new FileOutputStream(f); out.write(bytes); out.close()
      assertTypedOrClean(trial, "flatMap") {
        val n = ZipExtract.entries(spark,
          ZipToParquetConfig(inputs = Seq(f.getAbsolutePath))).count()
        assert(n >= 0) // mutation survived — fine
      }
    }
  }

  test("DSv2: corrupted archives fail TYPED on both row and pushed-COUNT(*) paths") {
    // A COUNT(*) scans no column, so its reader walks names only; a row
    // read inflates and hashes — fuzz both through spark.read.format("zip")
    // with the same seeded mutations so the typed GraftError contract is
    // proven for the whole DSv2 surface.
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 25) {
      val bytes = mutateArchive(rnd, trial % 3)
      val f = new File(dir, s"fuzz_v2_$trial.zip")
      val out = new FileOutputStream(f); out.write(bytes); out.close()
      val path = f.getAbsolutePath
      assertTypedOrClean(trial, "dsv2-count") {
        // COUNT(*) with no filters → the names-only walk
        assert(spark.read.format("zip").load(path).count() >= 0)
      }
      assertTypedOrClean(trial, "dsv2-rows") {
        // full row read → body inflation + hashing through the row reader
        assert(spark.read.format("zip").load(path)
          .select("name", "body", "hash").collect().length >= 0)
      }
    }
  }

  test("property: arbitrary byte corruption fails TYPED or extracts (shrinks to minimal mutation)") {
    // The seeded loops above replay a fixed corpus; this property explores
    // fresh mutations every run and, on failure, scalacheck SHRINKS the
    // mutation list — a future taxonomy hole reproduces as the minimal
    // bit-flip/truncation that triggers it, not a 25-trial haystack.
    // The reported seed (scalacheck prints it on failure) replays exactly.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val len = fuzzBase.length
    val mutationGen: Gen[Either[Int, List[(Int, Int)]]] = Gen.oneOf(
      Gen.choose(1, len - 1).map(Left(_)), // truncation point
      Gen.nonEmptyListOf(
        Gen.zip(Gen.choose(0, len - 1), Gen.choose(0, 7))).map(Right(_)))
    var n = 0
    val prop = Prop.forAll(mutationGen) { m =>
      val bytes = m match {
        case Left(at) => fuzzBase.take(at)
        case Right(flips) =>
          val b = fuzzBase.clone()
          flips.foreach { case (at, bit) => b(at) = (b(at) ^ (1 << bit)).toByte }
          b
      }
      n += 1
      val f = new File(dir, s"fuzz_prop_$n.zip")
      val out = new FileOutputStream(f); out.write(bytes); out.close()
      try {
        ZipExtract.entries(spark,
          ZipToParquetConfig(inputs = Seq(f.getAbsolutePath))).count() >= 0
      } catch {
        case e: Throwable =>
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
            .exists(_.isInstanceOf[GraftError.GraftException])
      }
    }
    // Replayable randomness: unseeded runs make a latent taxonomy hole an
    // intermittent, hard-to-bisect CI failure. The initial seed is logged
    // on every run and pinnable via GRAFT_FUZZ_SEED, so any failure
    // replays verbatim (fresh exploration is preserved — the seed still
    // varies run to run unless pinned).
    val seedLong = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong)
      .getOrElse(System.nanoTime())
    info(s"corruption property seed: $seedLong (replay with GRAFT_FUZZ_SEED=$seedLong)")
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20)
        .withInitialSeed(org.scalacheck.rng.Seed(seedLong)), prop)
    assert(res.passed,
      s"corruption property failed (replay with GRAFT_FUZZ_SEED=$seedLong): ${res.status}")
  }

  test("O13: cancellation mid-extraction leaves no committed output") {
    // Reference parity: Ctrl-C deletes the incomplete parquet and exits
    // cleanly (src/builder.rs:294-322). Here the contract is delegated to
    // Spark's commit protocol: a job cancelled mid-write must abort —
    // no _SUCCESS marker, no committed part files.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
    // The write must outlive the async cancel: incompressible (seeded
    // -random) bodies defeat snappy, and a tiny row-group ceiling forces
    // a flush every 32 rows — together the write takes seconds, so the
    // listener-fired cancel reliably lands mid-write (the Success branch
    // below is a last-resort race guard, not the expected path).
    val f = new File(dir, "cancel.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    val rnd = new scala.util.Random(13)
    val body = new Array[Byte](8192)
    var i = 0
    while (i < 20000) {
      rnd.nextBytes(body)
      z.putNextEntry(new ZipEntry(s"c$i.bin")); z.write(body); z.closeEntry()
      i += 1
    }
    z.close()
    val out = new File(dir, "cancel_out").getAbsolutePath
    val sc = spark.sparkContext
    @volatile var fired = false
    val listener = new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (!fired) { fired = true; sc.cancelJobGroup("graft-o13-cancel") }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-o13-cancel", "O13 cancellation parity",
        interruptOnCancel = true)
      val res = scala.util.Try(ZipExtract.run(spark,
        ZipToParquetConfig(inputs = Seq(f.getAbsolutePath), output = out,
          rowGroupSize = 32)))
      res match {
        case scala.util.Failure(_) =>
          // Cancel landed mid-write: commit protocol must have aborted.
          val od = new File(out)
          assert(!new File(od, "_SUCCESS").exists,
            "job committed despite cancellation")
          val committed = Option(od.listFiles()).getOrElse(Array.empty[File])
            .filter(_.getName.endsWith(".parquet"))
          assert(committed.isEmpty,
            s"committed part files remain: ${committed.mkString(", ")}")
        case scala.util.Success(_) =>
          // On a fast box the single write task can finish before the
          // async cancel lands; there is then nothing to assert about
          // abort behavior — mark the test canceled rather than failed.
          cancel("write completed before cancellation landed (race lost)")
      }
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }
}
