package graft.sources

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.security.MessageDigest
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** DSv2 `format("zip")` (SURVEY.md §7.2 M3): results match
  * `ZipExtract.entries` (a projection over this source), and — the point of the source — Catalyst pushes name/source
  * predicates and column pruning INTO the scan (asserted on the physical
  * plan, not just on results). */
class ZipDataSourceSpec extends SparkSpec {

  private lazy val dir: File = {
    val d = Files.createTempDirectory("graft_dsv2_spec").toFile
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

  private val bodyA = "alpha body".getBytes("UTF-8")
  private val bodyB = Array.tabulate[Byte](128)(i => (i * 3).toByte)
  private lazy val zip1 = makeZip("ds_one.zip", "a.txt" -> bodyA, "img/b.png" -> bodyB)
  private lazy val zip2 = makeZip("ds_two.zip", "c.txt" -> "gamma".getBytes("UTF-8"))

  private def scanOf(df: org.apache.spark.sql.DataFrame): ZipScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[ZipScan] => b.scan.asInstanceOf[ZipScan]
    }.get

  test("format(zip) reads the fixed 4-column schema with correct values") {
    val df = spark.read.format("zip").load(zip1)
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("name", StringType), ("source", StringType),
      ("body", BinaryType), ("hash", StringType)))
    val rows = df.collect().sortBy(_.getString(0))
    assert(rows.map(_.getString(0)).toSeq == Seq("a.txt", "img/b.png"))
    assert(rows.head.getAs[Array[Byte]]("body").sameElements(bodyA))
    assert(rows.head.getAs[String]("hash") == sha(bodyA))
    assert(rows.head.getAs[String]("source") == zip1)
  }

  test("multi-path load unions archives; entry glob option filters") {
    val df = spark.read.format("zip").load(zip1, zip2)
    assert(df.count() == 3)
    val txt = spark.read.format("zip").option("glob", "**/*.png").load(zip1, zip2)
    assert(txt.collect().map(_.getString(0)).toSeq == Seq("img/b.png"))
  }

  test("invalid entry glob raises typed InvalidGlob at load()") {
    for (g <- Seq("a[bc", "[z-a]")) { // unclosed class; reversed range
      val e = intercept[graft.zip.GraftError.GraftException] {
        spark.read.format("zip").option("glob", g).load(zip1)
      }
      assert(e.err.isInstanceOf[graft.zip.GraftError.InvalidGlob], s"glob $g")
    }
  }

  test("scan statistics come from the listing and track the projection") {
    val full = scanOf(spark.read.format("zip").load(zip1).select("name", "body"))
      .estimateStatistics()
    val namesOnly = scanOf(spark.read.format("zip").load(zip1).select("name"))
      .estimateStatistics()
    val archiveLen = new File(zip1).length()
    assert(full.sizeInBytes.getAsLong == archiveLen)
    assert(namesOnly.sizeInBytes.getAsLong < archiveLen,
      "names-only scan should estimate far below archive size (read elision)")
  }

  test("name predicates are pushed into the scan (PushedFilters)") {
    val df = spark.read.format("zip").load(zip1)
      .filter(col("name").startsWith("img/"))
    val scan = scanOf(df)
    assert(scan.description().contains("StringStartsWith(name,img/)"),
      s"expected name pushdown in: ${scan.description()}")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("img/b.png"))
  }

  test("source-only predicates prune whole archives before opening them") {
    val df = spark.read.format("zip").load(zip1, zip2)
      .filter(col("source") === zip2)
    val scan = scanOf(df)
    assert(scan.description().contains(s"EqualTo(source,$zip2)"))
    // archive-level pruning: only zip2 is planned as an input partition
    assert(scan.planInputPartitions().map(_.asInstanceOf[ZipInputPartition].readPath)
      .forall(_.endsWith("ds_two.zip")))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("c.txt"))
  }

  test("column pruning reaches the scan; names-only projection elides reads") {
    val df = spark.read.format("zip").load(zip1).select("name")
    val scan = scanOf(df)
    assert(scan.readSchema().fieldNames.toSeq == Seq("name"),
      s"expected pruned schema, got ${scan.readSchema()}")
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("a.txt", "img/b.png"))
  }

  test("unsupported predicates stay as Spark-side residual and still evaluate") {
    val df = spark.read.format("zip").load(zip1)
      .filter(col("name").rlike("\\.png$")) // regex: not a pushable v1 filter
    assert(df.collect().map(_.getString(0)).toSeq == Seq("img/b.png"))
  }

  test("limit pushes into the scan and bounds per-partition reads") {
    val df = spark.read.format("zip").load(zip1, zip2).select("name").limit(1)
    val scan = scanOf(df)
    assert(scan.description().contains("limit=1"),
      s"expected pushed limit in: ${scan.description()}")
    assert(df.collect().length == 1)
  }

  test("COUNT(*) pushes into the scan: one partial row per archive, no row stream") {
    // the aggregate introduces an exchange, so AQE would wrap the plan and
    // hide the BatchScanExec from collectFirst — assert on the static plan
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.read.format("zip").load(zip1, zip2).groupBy().count()
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec if b.scan.isInstanceOf[ZipScan] => b.scan.asInstanceOf[ZipScan]
      }.get
      assert(scan.description().contains("PushedAggregation=[COUNT(*)]"),
        s"aggregate not pushed: ${scan.description()}")
      assert(scan.readSchema().fields.map(_.dataType).toSeq == Seq(LongType))
      assert(df.collect().head.getLong(0) == 3L)
      // composes with pushed filters and the entry glob
      val filtered = spark.read.format("zip").option("glob", "**/*.txt")
        .load(zip1, zip2).groupBy().count()
      assert(filtered.collect().head.getLong(0) == 2L)
      // grouped aggregation must NOT push — rows still stream
      val grouped = spark.read.format("zip").load(zip1, zip2)
        .groupBy("source").count()
      val gscan = grouped.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec if b.scan.isInstanceOf[ZipScan] => b.scan.asInstanceOf[ZipScan]
      }.get
      assert(!gscan.description().contains("PushedAggregation"))
      assert(grouped.collect().map(_.getLong(1)).sum == 3L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("runtime IN-filter from a broadcast manifest join prunes archives") {
    import spark.implicits._
    val zips = (0 until 3).map(i =>
      makeZip(s"rt_$i.zip", s"doc$i.txt" -> s"payload $i".getBytes("UTF-8")))
    // manifest keeps exactly one archive — the ingest-dedup shape. Three
    // deliberate choices make this a RUNTIME-filtering proof, not a
    // static-pushdown one: (a) the manifest is a real parquet scan, not a
    // LocalRelation (there predicates constant-fold away and the DPP rule
    // sees no selective filter); (b) the selective predicate sits on a
    // SEPARATE column (`keep`), so constraint propagation cannot infer any
    // static `source` predicate onto the zip side — only the execution
    // -time IN-set from the broadcast build can prune; (c) the join side
    // is broadcast, the reuse case DPP accepts without a benefit estimate.
    val manifestDir = new File(dir, "rt_manifest").getAbsolutePath
    // keep is an int compared with ===: a bare boolean column is not
    // "likely selective" to the DPP rule, a BinaryComparison is
    Seq((zips(0), 0), (zips(1), 1)).toDF("source", "keep")
      .write.mode("overwrite").parquet(manifestDir)
    val manifest = spark.read.parquet(manifestDir)
      .filter(col("keep") === 1).select("source")
    val joined = spark.read.format("zip").load(zips: _*)
      .join(broadcast(manifest), Seq("source"))
    // open-counting is off in production; enable it just for this
    // single-threaded assertion window
    ZipEntryWalk.countOpens.set(true)
    ZipEntryWalk.opened.set(0L)
    try {
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("dynamicpruning"),
        s"no runtime filter injected:\n$optimized")
      val rows = joined.select("name").collect().map(_.getString(0)).sorted
      assert(rows.toSeq == Seq("doc1.txt"), "join result wrong")
      assert(ZipEntryWalk.opened.get() == 1L,
        s"expected runtime filtering to open 1 archive, opened ${ZipEntryWalk.opened.get()}")
    } finally ZipEntryWalk.countOpens.set(false)
  }

  test("DSv2 results equal the flatMap extractor's") {
    import graft.zip.{ZipExtract, ZipToParquetConfig}
    val v2 = spark.read.format("zip").load(zip1, zip2)
      .select("name", "source", "hash").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val v1 = ZipExtract.entries(spark, ZipToParquetConfig(inputs = Seq(zip1, zip2)))
      .select("name", "source", "hash").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(v2.toSeq == v1.toSeq)
  }
}
