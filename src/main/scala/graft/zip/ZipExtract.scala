package graft.zip

import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ZipTable

/** The reference's whole "query language" is 9 CLI flags
  * (reference: src/main.rs:16-44); this config is its Spark-native
  * equivalent.
  */
case class ZipToParquetConfig(
    inputs: Seq[String],
    output: String = "",
    includeBody: Boolean = true,   // --no-body   (src/main.rs:26-28)
    includeSource: Boolean = true, // --no-source (src/main.rs:29-31)
    includeHash: Boolean = true,   // --no-hash   (src/main.rs:32-34)
    entryGlob: Option[String] = None, // -g/--glob (src/main.rs:38-40)
    rowGroupSize: Int = 100,       // --row-group-size (src/main.rs:41-43)
    singleFile: Boolean = true,    // reference writes exactly one file
    maxBodyBytes: Long = 1L << 30, // scale guard, SURVEY.md §7.6 (no ref analog)
    // Byte-parity mode for the reference's B2 quirk (SURVEY.md B2): its
    // Debug-format bug stores the hash quote-wrapped ("\"<hex>\"",
    // src/builder.rs:207). Default is the intended plain hex; enable this
    // to produce output diffable byte-for-byte against real reference runs.
    quirkQuotedHash: Boolean = false)

/** Typed error taxonomy mirroring the reference's (src/error.rs:4-45),
  * message-compatible with its Display impl (src/error.rs:49-104). The
  * reference's `Arrow` variant has no analog (no arrow layer here);
  * `InvalidWaxGlob`/`InvalidGlob` collapse to one variant (one glob
  * engine). Variants surface from Spark tasks wrapped in the usual
  * SparkException chain — `GraftError.unwrap` digs the typed error back
  * out of a task failure for callers that want to branch on it. */
sealed trait GraftError { def message: String }
object GraftError {
  /** Reference declared but never raised these (src/error.rs:28-31,36-38);
    * we raise them for real (SURVEY.md B4). */
  final case class NoInputsFound(patterns: Seq[String]) extends GraftError {
    def message = s"no input files matched: ${patterns.mkString(", ")}"
  }
  final case class InvalidGlob(glob: String, cause: String) extends GraftError {
    def message = s"invalid glob '$glob': $cause"
  }
  /** src/error.rs:5-8,50-56 — opening/reading the archive file itself. */
  final case class ReadFile(file: String, cause: String) extends GraftError {
    def message = s"error reading file $file: $cause"
  }
  /** src/error.rs:9-12,57-62 — the output destination failed. */
  final case class WriteFile(target: String, cause: String) extends GraftError {
    def message = s"error writing to destination $target: $cause"
  }
  /** src/error.rs:13-16,63-68 — structurally broken zip (bad headers,
    * truncated central directory, bogus compression method). */
  final case class Zip(file: String, cause: String) extends GraftError {
    def message = s"error reading zip file $file: $cause"
  }
  /** src/error.rs:17-21,69-82 — one entry's stream failed mid-inflate. */
  final case class ReadFileInZip(fileName: String, file: String, cause: String)
      extends GraftError {
    def message = s"error reading file $fileName from zip $file: $cause"
  }
  /** src/error.rs:22-24,83 — the parquet sink failed. */
  final case class Parquet(cause: String) extends GraftError {
    def message = s"error writing to parquet: $cause"
  }
  /** src/error.rs:41,94-96 — no sink selected. */
  case object NeedsOutputOrStdout extends GraftError {
    def message = "must provide an output file or --stdout"
  }
  /** src/error.rs:42,97-99 — both sinks selected. */
  case object InvalidOutputAndStdout extends GraftError {
    def message = "must provide an output file or --stdout, but not both"
  }
  /** CLI argument errors (clap handles these in the reference; same
    * one-line-message-and-exit contract, src/main.rs:46-51). */
  final case class InvalidArgument(detail: String) extends GraftError {
    def message = detail
  }
  /** Scale guard with no reference analog (SURVEY.md §7.6): an entry
    * inflated past maxBodyBytes — fail typed instead of OOMing the task. */
  final case class EntryTooLarge(fileName: String, file: String, maxBytes: Long)
      extends GraftError {
    def message =
      s"zip entry '$fileName' in $file exceeds maxBodyBytes=$maxBytes"
  }
  final class GraftException(val err: GraftError) extends RuntimeException(err.message)
  def raise(err: GraftError): Nothing = throw new GraftException(err)
  /** Find the typed error inside a (possibly Spark-wrapped) failure.
    * The walk is depth-bounded like [[causeChain]]: a self-referencing
    * cause is not the only possible cycle (a→b→a loops too). */
  @annotation.tailrec
  def unwrap(t: Throwable, depth: Int = 16): Option[GraftError] = t match {
    case g: GraftException => Some(g.err)
    case null => None
    case _ => if (depth <= 0 || (t.getCause eq t)) None else unwrap(t.getCause, depth - 1)
  }
}

/** Spark-native zip → rows extractor (reference dataflow:
  * src/builder.rs:23-119), served by the one zip reader, the DSv2
  * `format("zip")` source (`graft.sources.ZipDataSource`).
  *
  * Scale design: the unit of parallelism is one Spark task per zip archive —
  * the same granularity as the reference's one-thread-per-zip pool
  * (src/builder.rs:49-50,64); a zip is not splittable (central directory +
  * per-entry streams). We deliberately do NOT use `format("binaryFile")`,
  * which materializes the whole archive as one row (2 GiB max, full copy in
  * memory): instead tasks open a Hadoop `FileSystem` stream and decode with
  * `ZipInputStream`, so memory per task is one *entry* body, not one
  * archive — the same bound as the reference's streaming reads. On a
  * 1000-executor cluster against 100 TB of zips this plan is a pure narrow
  * pipeline (list → extract → write), zero shuffles.
  *
  * Reference pushdowns reproduced (SURVEY.md §4.1):
  *   - name-glob filter applied BEFORE the entry read
  *     (src/builder.rs:180-183): a non-matching entry is never copied out
  *     or hashed. `getNextEntry` still reads through, and so inflates, it.
  *   - body read elided entirely when neither body nor hash is requested
  *     (src/builder.rs:185); hash alone still forces the read
  *     (hash ← body dependency, src/builder.rs:196-209).
  */
object ZipExtract {

  /** One row per file entry inside a zip archive — the reference's
    * `UnzippedFile { name, source, body, hash }` (reference:
    * src/builder.rs:156-161). `hash` is plain lowercase SHA-256 hex of
    * `body` (the reference's stored form is quote-wrapped by a Debug-format
    * bug, src/builder.rs:207 — we implement the intended semantics,
    * SURVEY.md B2). */
  val schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("source", StringType, nullable = true),
    StructField("body", BinaryType, nullable = true),
    StructField("hash", StringType, nullable = true)))

  /** Expand input patterns (literal paths or globs, reference
    * src/builder.rs:25-29) into (readPath, displayPath) pairs, sorted —
    * the listing `format("zip")` plans its partitions from. */
  def listInputs(spark: SparkSession, patterns: Seq[String]): Seq[(String, String)] =
    ZipTable.list(spark, patterns).map(a => (a.readPath, a.displayPath))

  /** The extractor: `format("zip")` projected to the fixed 4-column layout,
    * one task per archive. A column whose flag is off is a typed NULL
    * literal, so column pruning keeps it out of the scan: with neither body
    * nor hash the entry read is elided. The glob and the inputs are checked
    * here, on the driver (typed InvalidGlob / NoInputsFound, B4). */
  def entries(spark: SparkSession, cfg: ZipToParquetConfig): DataFrame = {
    val reader = spark.read.format("zip").option("maxBodyBytes", cfg.maxBodyBytes)
    val zip = cfg.entryGlob.fold(reader)(reader.option("glob", _)).load(cfg.inputs: _*)
    def flagged(c: String, on: Boolean) =
      if (on) col(c) else lit(null).cast(schema(c).dataType).as(c)
    val df = zip.select(col("name"), flagged("source", cfg.includeSource),
      flagged("body", cfg.includeBody), flagged("hash", cfg.includeHash))
    // B2 byte-parity: reproduce the reference's quote-wrapped stored hash
    // (src/builder.rs:207 Debug-format bug). concat preserves NULL.
    if (cfg.quirkQuotedHash)
      df.withColumn("hash", concat(lit("\""), col("hash"), lit("\"")))
    else df
  }

  /** O8/O14 parity — the reference's pre-extraction count pass
    * (src/builder.rs:24-45 walks entry NAMES to total the progress bar).
    * `count()` prunes every column, so the source's pushed COUNT(*) runs:
    * no entry is copied out or hashed, though the walk still inflates
    * every entry. The glob (and the rest of cfg) still applies: the count
    * is exactly the rows the extraction will emit. */
  def countEntries(spark: SparkSession, cfg: ZipToParquetConfig): Long =
    entries(spark, cfg).count()

  private def causeChain(t: Throwable): List[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(x => x != null)
      .take(16).toList // cycle guard

  def sha256Hex(bytes: Array[Byte]): String =
    java.util.HexFormat.of().formatHex(MessageDigest.getInstance("SHA-256").digest(bytes))

  /** Full reference pipeline: extract → Parquet(Snappy)
    * (reference sink: src/builder.rs:232-278). `singleFile=true` mirrors the
    * reference's one-output-FILE contract exactly: `-o PATH` yields a
    * regular parquet file at PATH (src/builder.rs:232-278 opens one
    * `File`), not a Spark part-file directory — the dataset is written to a
    * sibling temp directory with one part file, and that part is promoted
    * to PATH by an O(1) rename. Fine at parity scale, NOT the default you
    * want at 100 TB (pass singleFile=false to write a many-file directory
    * and let the reader glob it).
    * Row-group sizing (reference `--row-group-size`, src/main.rs:41-43,
    * enforced by src/builder.rs:254 `set_max_row_group_size`): parquet-mr's
    * `parquet.block.row.count.limit` is the same rows-per-group ceiling, so
    * the knob maps exactly. One deviation: parquet-mr ALSO closes a group
    * when the byte limit (`parquet.block.size`) fills — a safety net the
    * reference lacks; it never fires at the reference's 100-row default. */
  def run(spark: SparkSession, cfg: ZipToParquetConfig): Unit = {
    // src/error.rs:41 + src/main.rs:57-62 — a sink must be chosen up front
    if (cfg.output.isEmpty) GraftError.raise(GraftError.NeedsOutputOrStdout)
    val df0 = entries(spark, cfg)
    if (!cfg.singleFile) { writeParquetDir(df0, cfg, cfg.output); return }
    // repartition(1), NOT coalesce(1): coalesce folds the upstream
    // extraction into the single writer task (serializing the whole
    // pipeline — observed 5x slower); repartition keeps one task per
    // archive and funnels rows to one writer through an exchange — the
    // same N-producers/1-consumer topology as the reference's channel
    // (src/builder.rs:52-75).
    val outPath = new Path(cfg.output)
    val fs =
      try outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      catch { case e: java.io.IOException =>
        GraftError.raise(GraftError.WriteFile(cfg.output, e.toString))
      }
    // Sibling temp dataset (same FS ⇒ the promote rename is a metadata op,
    // never a byte copy). The suffix keeps concurrent runs apart.
    val tmp = new Path(cfg.output + ".graft-tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    try {
      writeParquetDir(df0.repartition(1), cfg, tmp.toString)
      try {
        val part = Option(fs.globStatus(new Path(tmp, "part-*")))
          .getOrElse(Array.empty).headOption.getOrElse(
            GraftError.raise(GraftError.WriteFile(cfg.output,
              "single-file write produced no part file")))
        // mode("overwrite") contract: replace whatever sits at PATH (file
        // or a directory from a previous multi-file run). Delete through
        // the CHECKSUMMED fs so a local .crc sibling of the old target
        // goes with it, then rename through the RAW fs so the temp part's
        // .crc stays behind in tmp (swept below) instead of appearing as
        // litter next to the user's output file.
        if (fs.exists(outPath)) fs.delete(outPath, true)
        val rawFs = fs match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
          case other => other
        }
        if (!rawFs.rename(part.getPath, outPath))
          GraftError.raise(GraftError.WriteFile(cfg.output,
            s"rename ${part.getPath} -> $outPath failed"))
      } catch {
        case e: GraftError.GraftException => throw e
        case e: java.io.IOException =>
          GraftError.raise(GraftError.WriteFile(cfg.output, e.toString))
      }
    } finally {
      // tmp holds only the committer droppings (_SUCCESS, .crc) after a
      // successful promote — and the partial dataset after a failure.
      try fs.delete(tmp, true) catch { case _: java.io.IOException => () }
    }
  }

  private def writeParquetDir(df: DataFrame, cfg: ZipToParquetConfig,
      target: String): Unit = {
    try df.write
      .mode("overwrite")
      .option("compression", "snappy") // src/builder.rs:253
      // rows-per-row-group ceiling (src/builder.rs:254); writer options are
      // copied into the task Hadoop conf, where parquet-mr reads this key
      .option("parquet.block.row.count.limit", cfg.rowGroupSize.toString)
      .parquet(target)
    catch {
      // extraction-side typed errors pass through unchanged; failures of
      // the sink itself become WriteFile/Parquet (src/error.rs:9-12,22-24).
      // Executor-side IO errors arrive wrapped in SparkException — walk the
      // cause chain, don't pattern-match the top.
      case e: Throwable if GraftError.unwrap(e).isDefined => throw e
      case e: Throwable if causeChain(e).exists(_.isInstanceOf[java.io.IOException]) =>
        GraftError.raise(GraftError.WriteFile(cfg.output, e.toString))
      case e: org.apache.spark.SparkException =>
        GraftError.raise(GraftError.Parquet(e.toString))
    }
  }

  /** O10 — stdout sink (reference `--stdout`, src/main.rs:72-95,
    * src/builder.rs:243): stream the single-file Parquet bytes to an
    * `OutputStream`. Spark writers target filesystems, so this is the
    * documented two-step — write a temp single-file dataset, then stream
    * the part file out (buffered, so outputs larger than memory are fine,
    * cf. the reference's BufWriter comment src/main.rs:71). */
  def runToStream(spark: SparkSession, cfg: ZipToParquetConfig,
      out: java.io.OutputStream): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stdout").toFile
    val file = new java.io.File(tmp, "out.parquet")
    try {
      // run() in singleFile mode yields a regular FILE at the path —
      // stream it straight out
      run(spark, cfg.copy(output = file.getAbsolutePath, singleFile = true))
      val in = new java.io.BufferedInputStream(
        new java.io.FileInputStream(file), 1 << 16)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.flush()
      } finally in.close()
    } finally {
      Option(tmp.listFiles()).foreach(_.foreach(_.delete())); tmp.delete()
    }
  }
}
