package graft.zip

import java.security.MessageDigest

import org.apache.hadoop.fs.{FileSystem, Path}
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
  * Scale design: the unit of parallelism is about one Spark task per core,
  * not the reference's one thread per zip (src/builder.rs:49-50,64): the
  * scan packs contiguous runs of archives into tasks of about equal bytes,
  * and a read of entry data first splits a large archive into entry ranges
  * cut from its central directory, so one big archive does not hold the
  * scan on one core and a thousand small ones do not pay a thousand task
  * start-ups (each task of [[run]] also starts a Parquet writer). We
  * deliberately do NOT use
  * `format("binaryFile")`, which materializes the whole archive as one row
  * (2 GiB max, full copy in memory): instead tasks open a Hadoop
  * `FileSystem` stream, read the archive's central directory, and stream
  * one entry at a time from its local header, so memory per task is the
  * directory plus one *entry* body, not one archive — the reference's
  * reader shape (it opens the archive by its directory,
  * src/builder.rs:172-179). On a
  * 1000-executor cluster against 100 TB of zips this plan is a pure narrow
  * pipeline (list → extract → write), zero shuffles, also when [[run]]
  * writes a single file.
  *
  * Reference pushdowns reproduced (SURVEY.md §4.1):
  *   - name-glob filter applied BEFORE the entry read
  *     (src/builder.rs:180-183): the glob matches the central
  *     directory's names, so a non-matching entry's data is never read,
  *     inflated or hashed.
  *   - body read elided entirely when neither body nor hash is requested
  *     (src/builder.rs:185); hash alone still reads and inflates the
  *     entry (hash ← body dependency, src/builder.rs:196-209) but builds
  *     no body array.
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
    * read by about one task per core, each a contiguous run of archives and
    * entry ranges. A
    * column whose flag is off is a typed NULL literal, so column pruning
    * keeps it out of the scan: with neither body nor hash the entry read
    * is elided. The glob and the inputs are checked
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
    * `count()` prunes every column, so the source's scan emits one empty
    * row per matching central-directory record and reads no entry data,
    * like the reference's `file_names()`. The glob (and the rest of cfg)
    * still applies: the count is exactly the rows the extraction will
    * emit. */
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
    * `File`), not a Spark part-file directory. The reference feeds N
    * producers into one writer (src/builder.rs:52-75); here every scan task
    * writes its own Parquet part to a sibling temp directory, with no
    * exchange, and the parts become the one file: a single part by an O(1)
    * rename, several by [[ParquetStitch]], which copies their row groups
    * byte for byte and merges their footers. The file then has each part's
    * row groups in turn, so a part's last group can be short; values and
    * row order are those of [[entries]]. The stitch still copies every
    * byte once on the driver: NOT the default you want at 100 TB (pass
    * singleFile=false to write a many-file directory and let the reader
    * glob it).
    * Row-group sizing (reference `--row-group-size`, src/main.rs:41-43,
    * enforced by src/builder.rs:254 `set_max_row_group_size`): parquet-mr's
    * `parquet.block.row.count.limit` is the same rows-per-group ceiling, so
    * the knob maps exactly. One deviation: parquet-mr ALSO closes a group
    * when the byte limit (`parquet.block.size`) fills — a safety net the
    * reference lacks; it never fires at the reference's 100-row default.
    * `body` encoding: parquet-mr tries a dictionary on every column chunk
    * and keeps it only when, at the chunk's first page, the dictionary
    * plus the encoded ids weigh less than the plain values. Both sides
    * count 4 + length bytes per distinct value, so a chunk of distinct
    * bodies always falls back to PLAIN, but by default only after hashing
    * and copying up to 1 MiB of bodies into the dictionary. The sink caps
    * every dictionary at [[DictionaryPageBytes]] instead: parquet-mr gives
    * the attempt up as soon as a chunk's dictionary passes the cap (it
    * checks after every value), so each `body` chunk decides for itself
    * after about 64 KiB plus one body, and a chunk whose distinct bodies
    * stay under the cap keeps its dictionary. At 100-row groups the
    * `name`, `source` and `hash` dictionaries stay far below it. Trades
    * against trying every chunk up to 1 MiB:
    *   - a `body` chunk whose distinct bodies pass 64 KiB in its first page
    *     writes PLAIN even when it holds a repeat, storing the repeated
    *     bytes again;
    *   - `source` can lose its dictionary when one row group spans more
    *     than about 1,000 archives (a row-group size far above 100);
    *   - a chunk may copy the one body that crosses the cap into the
    *     dictionary before giving up.
    * No archive is read before the write: an unreadable one fails typed
    * `Zip`/`ReadFile` from the write itself (its task, or the range split
    * while it plans), and nothing is left at `output`. */
  def run(spark: SparkSession, cfg: ZipToParquetConfig): Unit = {
    // src/error.rs:41 + src/main.rs:57-62 — a sink must be chosen up front
    if (cfg.output.isEmpty) GraftError.raise(GraftError.NeedsOutputOrStdout)
    // parquet-mr rejects a row-group ceiling below 1 only inside a write task
    if (cfg.rowGroupSize <= 0) GraftError.raise(GraftError.InvalidArgument(
      s"rowGroupSize must be positive, got ${cfg.rowGroupSize}"))
    val df0 = entries(spark, cfg)
    if (!cfg.singleFile) { writeParquetDir(df0, cfg, cfg.output); return }
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
      // no exchange: every scan task (a run of archives and entry
      // ranges) encodes its own part, in parallel
      writeParquetDir(df0, cfg, tmp.toString)
      promote(fs, tmp, outPath, cfg.output)
    } finally {
      // tmp holds only the committer droppings (_SUCCESS, .crc) and the
      // parts after a successful promote — and the partial dataset after
      // a failure.
      try fs.delete(tmp, true) catch { case _: java.io.IOException => () }
    }
  }

  /** The cap on each column chunk's dictionary (parquet-mr's
    * `parquet.dictionary.page.size`, 1 MiB by default). */
  private val DictionaryPageBytes = 64 << 10

  /** Spark's part files in `dir`, in row order: by the partition index in
    * `part-NNNNN-…`, then the `cNNN` file counter. */
  private[zip] def partFiles(fs: FileSystem, dir: Path): Seq[Path] = {
    val PartName = raw"part-(\d+)-.*-c(\d+)(\..*)?".r
    Option(fs.listStatus(dir)).getOrElse(Array.empty).toSeq.map(_.getPath)
      .flatMap(p => p.getName match {
        case PartName(part, file, _) => Some((part.toLong, file.toLong, p))
        case _ => None
      })
      .sortBy(t => (t._1, t._2)).map(_._3)
  }

  /** Make the parts in `tmp` the one file at `outPath`: one part is
    * renamed; several are stitched ([[ParquetStitch]]) into a file inside
    * `tmp`, which is then renamed, so a failed stitch leaves nothing at
    * `outPath`. Spark always writes partition 0, so an empty result is
    * still one (zero-row-group) part. */
  private[zip] def promote(fs: FileSystem, tmp: Path, outPath: Path, output: String): Unit =
    try {
      // rename and stitch through the RAW fs: the parts' .crc files stay
      // behind in tmp (swept by the caller) instead of appearing as
      // litter next to the user's output file
      val rawFs = fs match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
        case other => other
      }
      val single = partFiles(fs, tmp) match {
        case Seq() => GraftError.raise(GraftError.WriteFile(output,
          "single-file write produced no part file"))
        case Seq(part) => part
        case parts =>
          val stitched = new Path(tmp, "stitched.parquet")
          ParquetStitch(rawFs, parts, stitched)
          stitched
      }
      // mode("overwrite") contract: replace whatever sits at PATH (file
      // or a directory from a previous multi-file run). Delete through
      // the CHECKSUMMED fs so a local .crc sibling of the old target
      // goes with it.
      if (fs.exists(outPath)) fs.delete(outPath, true)
      if (!rawFs.rename(single, outPath))
        GraftError.raise(GraftError.WriteFile(output, s"rename $single -> $outPath failed"))
    } catch {
      case e: GraftError.GraftException => throw e
      case e: java.io.IOException =>
        GraftError.raise(GraftError.WriteFile(output, e.toString))
    }

  private def writeParquetDir(df: DataFrame, cfg: ZipToParquetConfig,
      target: String): Unit = {
    try {
      df.write
        .mode("overwrite")
        .option("compression", "snappy") // src/builder.rs:253
        // rows-per-row-group ceiling (src/builder.rs:254); writer options are
        // copied into the task Hadoop conf, where parquet-mr reads this key
        .option("parquet.block.row.count.limit", cfg.rowGroupSize.toString)
        .option("parquet.dictionary.page.size", DictionaryPageBytes.toString)
        .parquet(target)
    } catch {
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
