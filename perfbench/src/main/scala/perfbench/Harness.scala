package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.hadoop.fs.FileSystem

import graft.SparkEntry
import graft.zip.{ZipExtract, ZipToParquetConfig}

/** Times one section of an operation. The untraced run only executes the
  * body; the traced run records a span around it. Both runs make the same
  * calls into the program. */
trait Phases { def apply[T](name: String)(body: => T): T }

object Untraced extends Phases { def apply[T](name: String)(body: => T): T = body }

/** One operation of a workload. `run` is timed and returns what `check`
  * inspects outside the timed region; `check` returns an error or None. */
final case class Op(name: String, run: Phases => Any, check: Any => Option[String])

/** `readBytes`: bytes read through Hadoop's `file` FileSystem during `run`. */
final case class OpRun(name: String, seconds: Double, readBytes: Long, error: Option[String])

final case class ManifestEntry(archive: String, name: String, size: Long, sha256: String)

/** The benchmark's JVM side: one workload, one session, a closed loop with
  * one client. Untimed warm-up passes, then timed passes until `--seconds`
  * have passed. Writes one JSON object to `--out`.
  *
  *   --workload ingest|zip_scan|pair_graph|relational  --seed N
  *   --seconds S  --trace 0|1  --data DIR (Parquet tables)
  *   --corpus DIR (zips/ + manifest.tsv)  --work DIR  --out FILE
  *   --fingerprints FILE  [--record 1]  [--fingerprint-dir DIR]
  *
  * `--record 1` writes the warm-up fingerprints of a query workload to
  * `--fingerprints` instead of checking them. `--fingerprint-dir DIR`
  * computes the fingerprint of each `DIR/<query>.parquet` (as written by
  * `graft.Verify`) and compares it with the recorded one. */
object Harness {
  val Cores = 4
  /** Fewest timed passes per run, however long a pass takes. */
  val MinPasses = 3
  /** Untimed passes before the first timed one. The first loads classes and
    * compiles generated code; the JIT keeps speeding passes up for about
    * 15 s (zip) to 30 s (queries) after that, and a run that measured in
    * that stretch would mostly measure how far the JIT had got. */
  val WarmupPasses = Map("ingest" -> 8, "zip_scan" -> 6, "pair_graph" -> 4, "relational" -> 5)

  // Consumers of the n-gram pair graph (DedupOps.pairCounts); d_lsh_tuning
  // keeps the full candidate set, so it is the control within the workload.
  val PairGraph = Seq("d_ngram_jaccard", "d_threshold_sweep", "d_dedup_clusters", "d_lsh_tuning")
  // Scan, join, aggregate and window plans with no pair graph: RelationalOps,
  // EventOps and ValidationOps.
  val Relational = Seq("q5_star_join", "q_cube", "q_window_rank", "q_asof_join",
    "q_range_join", "v_ks_halves")

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val work = Paths.get(a("work")).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = epochSeconds()
    val json =
      try a.get("fingerprint-dir") match {
        case Some(dir) => crossCheck(spark, a, dir)
        case None => new Run(spark, a, work).result(Seq(
          "jvm_start_epoch_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3,
          "session_ready_epoch_s" -> sessionReady))
      } finally spark.stop()
    Files.writeString(Paths.get(a("out")), json)
  }

  def readManifest(corpus: String): Vector[ManifestEntry] =
    Files.readAllLines(Paths.get(corpus, "manifest.tsv")).asScala.toVector
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        ManifestEntry(f(0), f(1), f(2).toLong, f(3))
      }

  def readFingerprints(file: String): Map[String, String] = {
    val p = Paths.get(file)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty)
      .map { l => val f = l.split("\t"); f(0) -> f(1) }.toMap
  }

  def writeFingerprints(file: String, fps: Map[String, String]): Unit =
    Files.writeString(Paths.get(file),
      fps.toSeq.sorted.map { case (k, v) => s"$k\t$v\n" }.mkString)

  /** Order-independent fingerprint of a result: row count plus two 64-bit
    * wrapping sums of per-row hashes of a canonical rendering of each row.
    * Computed while the result streams out, so it is also the sink. */
  def fingerprint(df: DataFrame): String = {
    val sc = df.sparkSession.sparkContext
    val (n, s1, s2) = (sc.longAccumulator, sc.longAccumulator, sc.longAccumulator)
    df.foreachPartition { (it: Iterator[Row]) =>
      it.foreach { r =>
        val c = canon(r)
        n.add(1L)
        s1.add(hash64(c, 0x5eed))
        s2.add(hash64(c, 0xbeef))
      }
    }
    f"${n.value}%d:${s1.value}%016x${s2.value}%016x"
  }

  private def hash64(s: String, seed: Int): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, seed).toLong << 32) | (stringHash(s, ~seed).toLong & 0xffffffffL)
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  /** One-off cross-check: fingerprints of `graft.Verify` dumps (which
    * `tools/local_verify.py` compares with DuckDB) against the recorded
    * ones. */
  def crossCheck(spark: SparkSession, a: Args, dir: String): String = {
    val want = readFingerprints(a("fingerprints"))
    val names = a("workload") match {
      case "pair_graph" => PairGraph
      case "relational" => Relational
      case w => sys.error(s"no recorded fingerprints for $w")
    }
    val rows = names.map { q =>
      val got = fingerprint(spark.read.parquet(s"$dir/$q.parquet"))
      q -> Map("dump" -> got, "recorded" -> want.getOrElse(q, ""), "equal" -> (got == want.getOrElse(q, "")))
    }
    Json.obj(rows)
  }

  def epochSeconds(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Bytes read so far through Hadoop's local (`file`) FileSystem. */
  def fsReadBytes(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum
}

final class Run(spark: SparkSession, a: Harness.Args, work: Path) {
  import Harness._

  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val zipWorkload = workload == "ingest" || workload == "zip_scan"
  private val record = a.get("record").contains("1")
  private val rng = new scala.util.Random(seed)
  private val t0Ns = System.nanoTime()
  private val sc = spark.sparkContext
  private val tracer = new Tracer(sc)
  private val tracePhases: Phases = new Phases {
    def apply[T](name: String)(body: => T): T = tracer.span(name)(body)
  }

  private lazy val manifest = readManifest(a("corpus"))
  private lazy val corpusBytes = manifest.map(_.size).sum
  private def zipGlob = s"${Paths.get(a("corpus")).toAbsolutePath}/zips/*.zip"
  private def zipCfg = ZipToParquetConfig(inputs = Seq(zipGlob))
  private val ingestOut = work.resolve("out").resolve("ingest.parquet").toString
  private val expected = readFingerprints(a("fingerprints"))
  private val observed = mutable.Map.empty[String, String]

  private def sameSorted[T: Ordering](what: String, got: Seq[T], want: Seq[T]): Option[String] =
    if (got.sorted == want.sorted) None
    else Some(s"$what: ${got.size} values differ from the ${want.size} expected " +
      s"(first missing: ${want.diff(got).headOption.getOrElse("-")}, " +
      s"first unexpected: ${got.diff(want).headOption.getOrElse("-")})")

  private def readZip(glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("zip")
    glob.fold(r)(g => r.option("glob", g)).load(zipGlob)
  }

  /** A DataSource read: built, planned, then collected by `exec`. */
  private def sourceOp(name: String, df: => DataFrame, check: Array[Row] => Option[String]) =
    Op(name, ph => {
      val d = ph("build")(df)
      ph("plan")(d.queryExecution.executedPlan)
      ph("exec")(d.collect())
    }, r => check(r.asInstanceOf[Array[Row]]))

  private def ops: Seq[Op] = workload match {
    case "ingest" => Seq(Op("ingest",
      ph => ph("exec")(ZipExtract.run(spark, zipCfg.copy(output = ingestOut))),
      _ => {
        val got = spark.read.parquet(ingestOut)
          .selectExpr("source", "name", "hash", "length(body)").collect().toSeq
          .map(r => (Paths.get(r.getString(0)).getFileName.toString, r.getString(1),
            r.getString(2), r.getInt(3).toLong))
        sameSorted("(archive, name, hash, length(body))", got,
          manifest.map(m => (m.archive, m.name, m.sha256, m.size)))
      }))
    case "zip_scan" => zipScanOps
    case "pair_graph" => PairGraph.map(queryOp)
    case "relational" => Relational.map(queryOp)
    case w => sys.error(s"unknown workload $w")
  }

  /** The zip_scan reads: names only, COUNT(*), a glob that matches nothing
    * and a name,hash projection, through `ZipExtract` and `format("zip")`. */
  private def zipScanOps: Seq[Op] = Seq(
      Op("zip.count_entries", ph => ph("exec")(ZipExtract.countEntries(spark, zipCfg)),
        r => if (r == manifest.size.toLong) None
          else Some(s"countEntries = $r, manifest has ${manifest.size}")),
      sourceOp("sources.names", readZip().select("name"),
        r => sameSorted("names", r.toSeq.map(_.getString(0)), manifest.map(_.name))),
      sourceOp("sources.count", readZip().groupBy().count(),
        r => if (r.head.getLong(0) == manifest.size.toLong) None
          else Some(s"COUNT(*) = ${r.head.getLong(0)}, manifest has ${manifest.size}")),
      sourceOp("sources.glob_miss", readZip(Some("**/*.nomatch")),
        r => if (r.isEmpty) None else Some(s"glob-miss returned ${r.length} rows")),
      sourceOp("sources.hash", readZip().select("name", "hash"),
        r => sameSorted("(name, hash)", r.toSeq.map(x => (x.getString(0), x.getString(1))),
          manifest.map(m => (m.name, m.sha256)))))

  /** A gate query: built by its `SparkEntry` builder, planned, then
    * streamed through the fingerprint sink. */
  private def queryOp(q: String): Op = Op(q,
    ph => {
      val df = ph("builder")(SparkEntry.queries(q)(spark, a("data")))
      ph("plan")(df.queryExecution.executedPlan)
      ph("exec")(fingerprint(df))
    },
    r => {
      val fp = r.asInstanceOf[String]
      observed(q) = fp
      if (record) None
      else expected.get(q) match {
        case Some(want) if want == fp => None
        case Some(want) => Some(s"fingerprint $fp != recorded $want")
        case None => Some(s"no recorded fingerprint (observed $fp)")
      }
    })

  private def runOp(op: Op, ph: Phases): OpRun = {
    val read0 = fsReadBytes()
    val t = System.nanoTime()
    val r = try Right(ph(op.name)(op.run(ph))) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t) / 1e9
    val read = fsReadBytes() - read0
    val err = r match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(v) => try op.check(v) catch { case NonFatal(e) => Some(s"check threw $e") }
    }
    OpRun(op.name, secs, read, err)
  }

  /** One pass over the operations, in a seeded order for query workloads. */
  private def pass(all: Seq[Op], ph: Phases): Seq[OpRun] = {
    val order = if (workload == "pair_graph" || workload == "relational") rng.shuffle(all) else all
    System.gc() // keeps one pass's garbage out of the next one's time
    order.map(op => runOp(op, ph))
  }

  def result(startup: Seq[(String, Any)]): String = {
    val all = ops
    val warmStart = System.nanoTime()
    // untimed warm-up passes; set-up ends with the first
    pass(all, Untraced).filter(_.error.nonEmpty)
      .foreach(r => System.err.println(s"[perfbench] warm-up ${r.name}: ${r.error.get}"))
    val setupEndEpoch = epochSeconds()
    if (record) {
      writeFingerprints(a("fingerprints"), readFingerprints(a("fingerprints")) ++ observed)
      return Json.obj(Seq("recorded" -> observed.toMap))
    }
    (1 until WarmupPasses(workload)).foreach(_ => pass(all, Untraced))
    // every zip operation reads the whole corpus; mb_s is 0 on the query workloads
    val passBytes = if (zipWorkload) corpusBytes.toDouble * all.size else 0.0
    val warmupS = (System.nanoTime() - warmStart) / 1e9
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9

    val timed = mutable.ArrayBuffer.empty[Seq[OpRun]]
    val tracedPasses = mutable.ArrayBuffer.empty[Span]
    val retainedMb = mutable.ArrayBuffer.empty[Double]
    val fsReadMb = mutable.ArrayBuffer.empty[Double]
    val otherRuns = mutable.ArrayBuffer.empty[OpRun] // checked, but not part of pass_s
    while (elapsed < seconds || timed.size < MinPasses || (traced && tracedPasses.isEmpty)) {
      timed += pass(all, Untraced)
      if (traced) {
        sc.addSparkListener(tracer)
        val runs = tracer.span("pass")(pass(all, tracePhases))
        otherRuns ++= runs
        tracedPasses += tracer.spans.filter(_.name == "pass").last
        fsReadMb += runs.map(_.readBytes).sum / 1e6
        otherRuns ++= probes()
        retainedMb += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
        sc.removeSparkListener(tracer)
      }
    }
    val passSecs = timed.map(_.map(_.seconds).sum).toSeq
    val runs = timed.flatten.toSeq
    val opMedians = all.map(op => op.name -> median(runs.filter(_.name == op.name).map(_.seconds))).toMap
    val checked = runs ++ otherRuns
    val failures = checked.filter(_.error.nonEmpty)
    failures.map(f => s"${f.name}: ${f.error.get}").distinct
      .foreach(m => System.err.println(s"[perfbench] FAILED $m"))
    // a pass's time as the sum of each operation's median over the passes:
    // steadier than the median pass when a run has few passes
    val passS = opMedians.values.sum
    val base = Seq(
      "workload" -> workload, "seed" -> seed,
      "setup_end_epoch_s" -> setupEndEpoch, "warmup_s" -> warmupS,
      "attempted" -> checked.size, "failed" -> failures.size,
      "failures" -> failures.map(f => s"${f.name}: ${f.error.get}").distinct,
      "passes" -> passSecs, "pass_s" -> passS,
      "mb_s" -> passBytes / 1e6 / passS,
      "in_mb_per_pass" -> passBytes / 1e6,
      "peak_rss_mb" -> peakRssMb(),
      "op_s" -> opMedians,
      "timed" -> timed.map(_.map(r => Seq(r.name, r.seconds))).toSeq)
    val layers = if (traced) perLayer(tracedPasses.toSeq, passS, fsReadMb.toSeq, retainedMb.toSeq) else Nil
    if (traced) {
      val f = work.resolve(s"trace-$workload-$seed.jsonl")
      Files.writeString(f, tracer.spansJson(t0Ns).mkString("", "\n", "\n"))
    }
    Json.obj(startup ++ base :+ ("layers" -> layers.toMap))
  }

  /** Layer probes, traced, after each traced pass of a zip workload: each
    * isolates one layer of the extraction the operations combine. On
    * `ingest` they include the zip_scan reads and the relational queries,
    * and on `zip_scan` the pair_graph queries, all checked like operations;
    * so the two workloads of BENCHMARK.json measure every zip, source and
    * query layer. */
  private def probes(): Seq[OpRun] = if (!zipWorkload) Nil else {
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    val cfg = zipCfg
    tracer.span("probe:zip.list")(ZipExtract.listInputs(spark, cfg.inputs))
    tracer.span("probe:zip.names_walk")(ZipExtract.countEntries(spark, cfg))
    tracer.span("probe:zip.inflate")(noop(ZipExtract.entries(spark, cfg.copy(includeHash = false))))
    tracer.span("probe:zip.hash")(noop(ZipExtract.entries(spark, cfg.copy(includeBody = false))))
    val checked = if (workload == "zip_scan") PairGraph.map(queryOp) else {
      tracer.span("probe:zip.body_hash")(noop(ZipExtract.entries(spark, cfg)))
      zipScanOps ++ Relational.map(queryOp)
    }
    tracer.span("probes")(checked.map(runOp(_, tracePhases)))
  }

  private def perLayer(passes: Seq[Span], untracedPassS: Double, fsReadMb: Seq[Double],
      retainedMb: Seq[Double]): Seq[(String, Double)] = {
    tracer.drain()
    def under(p: Span, phase: String) = tracer.descendants(p.id).filter(_.name == phase)
    def phaseCounters(p: Span, phase: String) = {
      val c = new Counters
      under(p, phase).foreach(s => c += tracer.counters(s.id))
      c
    }
    def perPass(f: Span => Double) = median(passes.map(f))
    def probe(name: String) = {
      val xs = tracer.spans.filter(_.name == s"probe:$name").map(_.seconds).toSeq
      if (xs.isEmpty) 0.0 else median(xs)
    }
    def opSecs(name: String) = {
      val xs = tracer.spans.filter(_.name == name).map(_.seconds).toSeq
      if (xs.isEmpty) 0.0 else median(xs)
    }
    // longest / median task of the op's busiest multi-task stage; worst op of the pass
    def taskSkew(p: Span): Double = {
      val skews = tracer.children(p.id).flatMap { op =>
        val stages = phaseCounters(op, "exec").taskMs.values.filter(_.size >= 2)
        if (stages.isEmpty) None
        else {
          val ds = stages.maxBy(_.sum).map(_.toDouble).toSeq
          Some(ds.max / math.max(median(ds), 1.0))
        }
      }
      if (skews.isEmpty) 0.0 else skews.max
    }
    val exec = passes.map(phaseCounters(_, "exec"))
    // a traced pass and the probes after it; SparkEntry builders run in either
    val cycles = passes.map { p =>
      p +: tracer.spans.find(s => s.name == "probes" && s.startNs > p.endNs).toSeq
    }
    def execMed(f: Counters => Double) = median(exec.map(f))
    // same definition as the untraced pass: the operations' own time
    val tracedPassS = median(passes.map(p => tracer.children(p.id).map(_.seconds).sum))
    val outMb = if (workload == "ingest") Files.size(Paths.get(ingestOut)) / 1e6 else 0.0
    val queries = (PairGraph ++ Relational).map(q => s"query.$q.s" -> opSecs(q))
    Seq(
      "zip.list_s" -> probe("zip.list"),
      "zip.names_walk_s" -> probe("zip.names_walk"),
      "zip.fs_read_mb" -> median(fsReadMb),
      "zip.inflate_s" -> probe("zip.inflate"),
      "zip.hash_s" -> probe("zip.hash"),
      "zip.task_skew" -> perPass(taskSkew),
      "sources.count_s" -> opSecs("sources.count"),
      "sources.names_s" -> opSecs("sources.names"),
      "sources.glob_miss_s" -> opSecs("sources.glob_miss"),
      "sources.hash_s" -> opSecs("sources.hash"),
      "sink.write_s" -> (if (workload == "ingest") opSecs("ingest") - probe("zip.body_hash") else 0.0),
      "sink.out_mb" -> outMb,
      "sink.out_bytes_per_in_byte" -> (if (workload == "ingest") outMb * 1e6 / corpusBytes else 0.0),
      "ops.builder_s" -> median(cycles.map(c => c.map(under(_, "builder").map(_.seconds).sum).sum)),
      "ops.builder_jobs" -> median(cycles.map(c => c.map(phaseCounters(_, "builder").jobs.toDouble).sum)),
      "plan.s" -> perPass(p => under(p, "plan").map(_.seconds).sum),
      "exec.s" -> perPass(p => under(p, "exec").map(_.seconds).sum),
      "exec.jobs" -> execMed(_.jobs.toDouble),
      "exec.tasks" -> execMed(_.tasks.toDouble),
      "exec.cpu_s" -> execMed(_.cpuNs / 1e9),
      "exec.run_s" -> execMed(_.runMs / 1e3),
      "exec.gc_s" -> execMed(_.gcMs / 1e3),
      "exec.cpu_util" -> median(passes.zip(exec).map { case (p, c) =>
        c.cpuNs / 1e9 / (under(p, "exec").map(_.seconds).sum * Cores) }),
      "exec.shuffle_write_mb" -> execMed(_.shuffleWriteBytes / 1e6),
      "exec.spill_mb" -> execMed(_.spillBytes / 1e6),
      "storage.retained_mb" -> median(retainedMb),
      "trace.pass_s" -> tracedPassS,
      "trace.untraced_pass_s" -> untracedPassS,
      "trace.overhead" -> tracedPassS / untracedPassS) ++ queries
  }
}

