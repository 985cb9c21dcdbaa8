package graft

import org.apache.spark.sql.SparkSession

import graft.sources.ZipEntriesRead
import graft.zip.{GraftError, ZipExtract, ZipToParquetConfig}

/** CLI entry point with the reference's exact flag surface
  * (src/main.rs:16-44) so a user of the reference tool can switch
  * binaries without changing invocations:
  *
  * {{{
  * spark-submit --class graft.Main graft.jar \
  *   -i data/ARCHIVES.zip -o out.parquet -g GLOB --row-group-size 100
  * }}}
  * (`-i` accepts globs like `ARCHIVES = **`; `-g` filters entry names.)
  *
  * `--simple` (plain logging instead of progress bars, src/main.rs:35-37)
  * maps to quiet WARN-level logs; default keeps Spark's own progress
  * reporting — the SURVEY §2.1 O14 "free via Spark" substitution.
  * Errors print their reference-equivalent message and exit 1
  * (src/main.rs:46-51). Ctrl-C maps to Spark's job cancellation + commit
  * protocol (O13): an interrupted write leaves no committed output.
  */
object Main {

  /** Parse the reference's flags into the engine config.
    * @return (config, stdout?, simple?) */
  private[graft] def parse(args: Seq[String]): (ZipToParquetConfig, Boolean, Boolean) = {
    var inputs = Vector.empty[String]
    var output: Option[String] = None
    var stdout = false
    var simple = false
    var noBody = false
    var noSource = false
    var noHash = false
    var glob: Option[String] = None
    var rowGroupSize = 100 // src/main.rs:42-43 default
    var rest = args.toList
    while (rest.nonEmpty) rest = rest match {
      case ("-i" | "--input") :: v :: t  => inputs :+= v; t
      case ("-o" | "--output") :: v :: t => output = Some(v); t
      case "--stdout" :: t               => stdout = true; t
      case "--no-body" :: t              => noBody = true; t
      case "--no-source" :: t            => noSource = true; t
      case "--no-hash" :: t              => noHash = true; t
      case "--simple" :: t               => simple = true; t
      case ("-g" | "--glob") :: v :: t   => glob = Some(v); t
      case "--row-group-size" :: v :: t  =>
        rowGroupSize =
          try v.toInt
          catch { case _: NumberFormatException =>
            GraftError.raise(GraftError.InvalidArgument(
              s"--row-group-size expects a number, got '$v'"))
          }
        t
      case other :: _ =>
        GraftError.raise(GraftError.InvalidArgument(s"unknown argument: $other"))
      case Nil => Nil
    }
    // sink validation, reference src/error.rs:41-42
    if (output.isEmpty && !stdout) GraftError.raise(GraftError.NeedsOutputOrStdout)
    if (output.nonEmpty && stdout) GraftError.raise(GraftError.InvalidOutputAndStdout)
    (ZipToParquetConfig(
      inputs = inputs,
      output = output.getOrElse(""),
      includeBody = !noBody,
      includeSource = !noSource,
      includeHash = !noHash,
      entryGlob = glob,
      rowGroupSize = rowGroupSize), stdout, simple)
  }

  private[graft] def run(spark: SparkSession, args: Seq[String]): Unit = {
    val (cfg, stdout, simple) = parse(args)
    run(spark, cfg, stdout, simple)
  }

  /** O14 — the Spark stand-in for the reference's progress BAR
    * (src/logger.rs:7-57: indicatif renders `{pos}/{len}` from `inc(1)`
    * per row, src/builder.rs:90), at INTRA-task grain: the `format("zip")`
    * row reader reports its emitted-row count as the scan's "zip entries
    * read" custom metric (Spark polls it every 100 rows), and the metric's
    * task-partial value rides the executor heartbeat to the driver (Spark
    * reports `TaskMetrics.accumulators()`, SQL metrics included, for every
    * RUNNING task on each heartbeat), so a single giant archive (= one
    * task) ticks while it extracts instead of sitting at 0 until task
    * end. pos = Σ per-task high-water marks; per-task max() keeps a late
    * or reordered heartbeat from regressing the bar, and task-end folds
    * in the task's final value through the same map. The tick cadence is
    * `spark.executor.heartbeatInterval` (10s default — tune the standard
    * knob for a faster bar); a literal per-row driver callback would
    * serialize the job. A retried task double-counts its rows (two task
    * ids) — the clamp to `total` keeps the bar honest, the same trade
    * every accumulator-driven progress display makes. The metric is
    * matched by name, so the listener is attached only around one run. */
  private[graft] class RowProgressListener(total: Long)
      extends org.apache.spark.scheduler.SparkListener {
    private val perTask =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    private var lastPrinted = -1L
    def count: Long = {
      var s = 0L
      perTask.values.forEach(v => s += v.longValue)
      math.min(s, total)
    }
    private def record(taskId: Long,
        infos: Iterable[org.apache.spark.scheduler.AccumulableInfo]): Unit = {
      infos.foreach { ai =>
        if (ai.name.contains(ZipEntriesRead.Description)) ai.update.foreach {
          case l: java.lang.Long =>
            perTask.merge(taskId, l,
              (a, b) => if (a.longValue >= b.longValue) a else b)
          case _ => ()
        }
      }
    }
    private def tick(): Unit = synchronized {
      val pos = count
      if (pos > lastPrinted) {
        lastPrinted = pos
        System.err.println(s"$pos/$total rows")
      }
    }
    override def onExecutorMetricsUpdate(
        e: org.apache.spark.scheduler.SparkListenerExecutorMetricsUpdate)
        : Unit = {
      e.accumUpdates.foreach { case (taskId, _, _, infos) =>
        record(taskId, infos)
      }
      tick()
    }
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      Option(e.taskInfo).foreach(ti => record(ti.taskId, ti.accumulables))
      tick()
    }
  }

  private def run(spark: SparkSession, cfg: ZipToParquetConfig,
      stdout: Boolean, simple: Boolean): Unit = {
    // O8/O14 parity: the reference totals the entry count before extracting
    // (src/builder.rs:24-45) — under --simple print it as a plain log line.
    // stderr, because --stdout streams parquet bytes on stdout.
    def extract(): Unit =
      if (stdout) ZipExtract.runToStream(spark, cfg, System.out)
      else ZipExtract.run(spark, cfg)
    if (!simple) { extract(); return }
    val total = ZipExtract.countEntries(spark, cfg)
    System.err.println(s"$total files")
    val progress = new RowProgressListener(total)
    spark.sparkContext.addSparkListener(progress)
    try {
      extract()
      // the listener bus is async: wait (bounded) for the last scan
      // task's metrics to drain so the last `total/total rows` line is
      // printed before the listener detaches
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (progress.count < total && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(progress)
  }

  def main(argv: Array[String]): Unit = {
    val (cfg, stdout, simple) =
      try parse(argv.toSeq)
      catch { case e: GraftError.GraftException =>
        System.err.println(e.err.message) // src/main.rs:47-50
        sys.exit(1)
      }
    val spark = GraftSession.init(SparkSession.builder()
      .appName("zip-to-parquet")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER",
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .getOrCreate())
    if (simple) spark.sparkContext.setLogLevel("WARN")
    try run(spark, cfg, stdout, simple)
    catch { case e: Throwable =>
      val msg = GraftError.unwrap(e).map(_.message).getOrElse(e.getMessage)
      System.err.println(msg)
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
