package graft.sources

import java.util
import java.util.regex.Pattern
import java.util.zip.{ZipEntry, ZipInputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.zip.{GlobRegex, GraftError, ZipExtract}

/** DataSourceV2 `format("zip")` — the one zip reader. `ZipExtract.entries`
  * (and so the CLI) is a projection over it. SURVEY.md §7.2 M3: the
  * reference's two hand-rolled optimizations (src/builder.rs:180-195 —
  * glob-filter entry names BEFORE reading them; read the body only when
  * body/hash columns are needed) promoted into Catalyst-native pushdown
  * contracts, so plain
  * `spark.read.format("zip").load(...).filter(...).select(...)` gets them
  * automatically:
  *
  *   - [[SupportsPushDownFilters]]: deterministic predicates on `name` /
  *     `source` evaluate per entry inside the scan, so non-matching entries
  *     are never copied out or hashed (and `source` misses skip whole
  *     archives unopened). `.explain` shows them under `PushedFilters`.
  *   - [[SupportsPushDownRequiredColumns]]: a projection without `body`
  *     and `hash` elides the entry read — no body array, no SHA-256.
  *   - [[SupportsPushDownAggregates]]: a global COUNT(*) (the reference's
  *     count pass, src/builder.rs:24-41) collapses each partition to ONE
  *     row — no row materialization; Spark sums the per-archive partials.
  *
  * None of these skip decompression: `ZipInputStream.getNextEntry` reads
  * through (and inflates) every entry it passes over, so names-only,
  * COUNT(*) and glob-miss scans still inflate every byte of the archive.
  * Only a central-directory reader over a seekable stream would avoid that.
  *
  * Options: `glob` (wax-style entry-name glob, as `-g`, src/main.rs:38-40)
  * and `maxBodyBytes` (per-entry scale guard, default 1 GiB).
  * Partitioning: one [[InputPartition]] per archive — a zip is not
  * splittable (central directory + contiguous entry streams), matching the
  * reference's one-task-per-zip grain (src/builder.rs:49-50,64). At 100 TB
  * the scan parallelism is the archive count; entries stream one at a time
  * so task memory is bounded by one decompressed entry, never an archive.
  */
class ZipDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zip"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZipExtract.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ZipTable(new CaseInsensitiveStringMap(properties))
}

/** Created once per `load()`. The glob is compiled and the inputs listed
  * here, on the driver, so a bad glob or an input that matches nothing
  * fails typed at `load()`, and every scan of the DataFrame plans from
  * this one listing (an archive deleted afterwards fails typed `ReadFile`
  * in its task). */
class ZipTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "zip"
  override def schema(): StructType = ZipExtract.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  private[sources] val globText: Option[String] = Option(options.get("glob"))
  // Pattern is Serializable: compiled once here, shipped to every task
  private[sources] val glob: Option[Pattern] = globText.map { g =>
    try GlobRegex.compile(g)
    catch { case e: GlobRegex.InvalidGlobException =>
      GraftError.raise(GraftError.InvalidGlob(g, e.detail))
    }
  }
  private[sources] val maxBodyBytes: Long =
    Option(options.get("maxBodyBytes")).map(_.toLong).getOrElse(1L << 30)
  private[sources] val archives: Seq[ZipInputPartition] =
    ZipTable.list(SparkSession.active, paths)

  private def paths: Seq[String] = {
    val fromPaths = Option(options.get("paths")).toSeq.flatMap { json =>
      // Spark encodes multi-path load() as a JSON array of strings —
      // parse it as JSON (a naive comma split corrupts paths containing
      // commas or escapes).
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(json, classOf[Array[String]]).toSeq
    }
    fromPaths ++ Option(options.get("path"))
  }

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ZipScanBuilder(this)
}

object ZipTable {
  /** Expand input patterns (literal paths or globs, reference
    * src/builder.rs:25-29) into concrete archives via the Hadoop FS,
    * sorted by path. `readPath` keeps the full URI so tasks open the right
    * FileSystem; `displayPath` is the plain path for the `source` column
    * (the reference stores the path as given, src/builder.rs:216 — local
    * files there carry no `file:` scheme). */
  def list(spark: SparkSession, patterns: Seq[String]): Seq[ZipInputPartition] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val archives = patterns.flatMap { pat =>
      val p = new Path(pat)
      val fs = p.getFileSystem(conf)
      Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.isFile).map { st =>
          val uri = st.getPath.toUri
          val display = if (uri.getScheme == "file") uri.getPath else st.getPath.toString
          ZipInputPartition(st.getPath.toString, display, st.getLen)
        }
    }.distinctBy(_.readPath).sortBy(_.readPath)
    if (archives.isEmpty) GraftError.raise(GraftError.NoInputsFound(patterns))
    archives
  }
}

class ZipScanBuilder(table: ZipTable)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ZipExtract.schema
  private var limit: Int = -1
  private var countStar = false

  /** Accept exactly a global COUNT(*) — grouped or column aggregates keep
    * their row-stream semantics with Spark. Partial pushdown: each archive
    * partition emits its own count and Spark's final aggregate sums them
    * (so `supportCompletePushDown` stays false). */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = limit < 0 &&
      aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.length == 1 &&
      aggregation.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (ok) {
      countStar = true
      required = StructType(Seq(StructField("count(*)", LongType, nullable = false)))
    }
    ok
  }

  /** Per-partition early termination: a task stops walking its archive
    * after `n` emitted rows (no further decompression or even
    * central-directory iteration). Returns false — the limit is only
    * partially pushed (it bounds each partition, not the union), so Spark
    * keeps its own global Limit on top. */
  override def pushLimit(n: Int): Boolean = {
    limit = n
    false
  }

  /** Accept any deterministic filter that references only `name`/`source` —
    * those evaluate before the entry read inside the scan. Everything else
    * (`hash`/`body` predicates need the read) stays with Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition { f =>
      f.references.nonEmpty &&
        f.references.forall(r => r == "name" || r == "source") &&
        ZipFilterEval.supported(f)
    }
    pushed = ours
    rest // residual: Spark re-evaluates what we can't
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def build(): Scan =
    new ZipScan(table, pushed, required, limit, countStar)
}

class ZipScan(table: ZipTable, filters: Array[Filter],
    required: StructType, limit: Int = -1, countStar: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Runtime (execution-time) filtering on `source` — the archive axis.
    * A broadcast join against a small manifest (the ingest-dedup story:
    * "only archives not yet ingested") hands the scan an IN-set of source
    * paths after the build side materializes; [[planInputPartitions]] then
    * drops whole archives before a single byte is opened. Partition-exact:
    * `source` is constant per archive, so archive-level pruning applies
    * the filter fully and Spark's join stays correct either way. */
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("source"))

  override def filter(newFilters: Array[Filter]): Unit =
    runtimeFilters = newFilters.filter { f =>
      f.references.nonEmpty && f.references.forall(_ == "source") &&
        ZipFilterEval.supported(f)
    }

  /** Output size estimate from the table's listing (no data read), so
    * Catalyst's join-side selection can treat a small zip scan as
    * broadcastable. It tracks the projection: a names-only scan emits
    * little (taken as ~1% of archive bytes) even though its walk still
    * inflates every entry; body/hash projections emit about the
    * compressed bytes or more. */
  override def estimateStatistics(): Statistics = {
    val archiveBytes = table.archives.map(_.bytes).sum
    val needsRead = required.fieldNames.contains("body") ||
      required.fieldNames.contains("hash")
    val estimate = if (needsRead) archiveBytes else math.max(archiveBytes / 100, 1)
    new Statistics {
      override def sizeInBytes: java.util.OptionalLong =
        java.util.OptionalLong.of(estimate)
      override def numRows: java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }
  override def description(): String =
    s"ZipScan(glob=${table.globText.getOrElse("*")}, " +
      s"pushed=[${filters.mkString(", ")}], cols=${required.fieldNames.mkString(",")}" +
      (if (limit >= 0) s", limit=$limit" else "") +
      (if (countStar) ", PushedAggregation=[COUNT(*)]" else "") + ")"

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new ZipEntriesRead)

  override def planInputPartitions(): Array[InputPartition] = {
    val all = filters ++ runtimeFilters
    table.archives.filter(a => ZipFilterEval.sourceMayMatch(all, a.displayPath)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (countStar) ZipCountReaderFactory(conf, table.glob, filters)
    else ZipReaderFactory(conf, table.glob, filters, required.fieldNames, limit,
      table.maxBodyBytes)
  }
}

/** Rows the row reader has emitted so far in its task. Spark polls
  * [[PartitionReader.currentMetricsValues]] every 100 rows, and executor
  * heartbeats carry the value while the task runs, so a listener can
  * follow one long archive task (the CLI's `--simple` row progress). */
class ZipEntriesRead extends CustomSumMetric {
  override def name(): String = ZipEntriesRead.Name
  override def description(): String = ZipEntriesRead.Description
}
object ZipEntriesRead {
  val Name = "zipEntriesRead"
  val Description = "zip entries read"
}

/** Pushed-COUNT(*) reader: one row per archive carrying the number of
  * glob/filter-matching entries — no entry is copied out or hashed, and no
  * per-entry rows (the DSv2 form of the reference's count pass,
  * src/builder.rs:24-41); the walk itself still inflates every entry. An
  * archive with no matches still emits its 0. */
case class ZipCountReaderFactory(
    conf: SerializableConfiguration,
    glob: Option[Pattern],
    filters: Array[Filter]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[ZipInputPartition]
    new PartitionReader[InternalRow] {
      private var done = false
      private var row: InternalRow = _

      override def next(): Boolean = {
        if (done) return false
        val zin = ZipEntryWalk.open(part, conf)
        var n = 0L
        try {
          // same walk as the row reader — count ≡ rows the row path emits
          while (ZipEntryWalk.nextMatching(zin, glob, filters, part) != null) {
            n += 1
          }
        } finally zin.close()
        row = new GenericInternalRow(Array[Any](n))
        done = true
        true
      }

      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** One archive: the unit of partitioning. `bytes` is its listed length. */
case class ZipInputPartition(readPath: String, displayPath: String, bytes: Long)
    extends InputPartition

case class ZipReaderFactory(
    conf: SerializableConfiguration,
    glob: Option[Pattern],
    filters: Array[Filter],
    columns: Array[String],
    limit: Int = -1,
    maxBodyBytes: Long = 1L << 30) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ZipInputPartition]
    new ZipPartitionReader(p, conf, glob, filters, columns, limit,
      maxBodyBytes)
  }
}

/** The archive walk both DSv2 readers share — open, the filter-matching
  * entry iterator and the entry read. ONE definition of "which entries
  * this scan emits", so the pushed-COUNT(*) path can never disagree with
  * the row path about what counts as a row. */
private[sources] object ZipEntryWalk {
  /** Test observability: archives actually opened by the DSv2 readers.
    * Counting is OFF unless a test flips [[countOpens]] — production reads
    * carry no global side effect, and parallel queries can't race a
    * counter nobody is incrementing. The pruning assertions that read it
    * assume a single-threaded (one query at a time) test session. */
  val countOpens = new java.util.concurrent.atomic.AtomicBoolean(false)
  val opened = new java.util.concurrent.atomic.AtomicLong

  /** Entry names decode as cp437 unless the entry's EFS flag says UTF-8 —
    * the zip appnote's rule (APPNOTE 4.4.4/D.2), which
    * `ZipInputStream(in, charset)` implements: the charset argument applies
    * only to non-EFS entries. The reference's wax-glob path is lossy on
    * non-UTF8 names; we decode them faithfully (documented divergence,
    * SURVEY.md §7.6). */
  private val EntryNameCharset = java.nio.charset.Charset.forName("IBM437")

  def open(part: ZipInputPartition, conf: SerializableConfiguration): ZipInputStream =
    try {
      if (countOpens.get) opened.incrementAndGet()
      val p = new Path(part.readPath)
      val fs = p.getFileSystem(conf.value)
      new ZipInputStream(new java.io.BufferedInputStream(fs.open(p), 1 << 16),
        EntryNameCharset)
    } catch { case e: java.io.IOException =>
      // src/error.rs:5-8 — the archive itself is unreadable
      GraftError.raise(GraftError.ReadFile(part.displayPath, e.toString))
    }

  /** Next entry this scan emits (directory-skipping, glob + pushed-filter
    * matching), or null at end of archive. Errors carry the zip taxonomy. */
  def nextMatching(zin: ZipInputStream, glob: Option[Pattern],
      filters: Array[Filter], part: ZipInputPartition): ZipEntry = {
    while (true) {
      val e =
        try zin.getNextEntry
        catch { case scala.util.control.NonFatal(x) =>
          // NonFatal (not just ZipException|IOException): JDK ZipCoder throws
          // IllegalArgumentException on malformed UTF-8 entry names — those
          // belong to the same GraftError.Zip contract (src/error.rs:13-16).
          GraftError.raise(GraftError.Zip(part.displayPath, x.toString))
        }
      if (e == null) return null
      if (!e.isDirectory &&
          glob.forall(_.matcher(e.getName).matches()) &&
          ZipFilterEval.matches(filters, e.getName, part.displayPath)) return e
    }
    null // unreachable
  }

  /** The current entry's bytes, failing typed past `maxBytes` (the scale
    * guard: EntryTooLarge instead of an executor OOM) or mid-inflate. */
  def readEntry(zin: ZipInputStream, maxBytes: Long, name: String,
      zipPath: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(8192)
    val buf = new Array[Byte](1 << 16)
    try {
      var n = zin.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size() > maxBytes)
          GraftError.raise(GraftError.EntryTooLarge(name, zipPath, maxBytes))
        n = zin.read(buf)
      }
    } catch {
      case g: GraftError.GraftException => throw g // EntryTooLarge from above
      case scala.util.control.NonFatal(x) =>
        // src/error.rs:17-21 — this entry's stream failed mid-inflate.
        // NonFatal: inflater internals can throw beyond ZipException|IOException.
        GraftError.raise(GraftError.ReadFileInZip(name, zipPath, x.toString))
    }
    out.toByteArray
  }
}

/** Streams one archive's entries as InternalRows, honoring pushed filters
  * (before the entry read) and the pruned projection (read elision). */
class ZipPartitionReader(
    part: ZipInputPartition,
    conf: SerializableConfiguration,
    glob: Option[Pattern],
    filters: Array[Filter],
    columns: Array[String],
    limit: Int = -1,
    maxBodyBytes: Long = 1L << 30) extends PartitionReader[InternalRow] {

  private var emitted = 0L

  private val needBody = columns.contains("body")
  private val needHash = columns.contains("hash")

  private val zin = ZipEntryWalk.open(part, conf)
  private var current: InternalRow = _
  private var closed = false

  override def next(): Boolean = {
    current = null
    if (limit >= 0 && emitted >= limit) {
      if (!closed) { closed = true; zin.close() }
      return false
    }
    if (closed) return false
    // pushed name/source predicates run BEFORE the entry read — the DSv2
    // form of src/builder.rs:180-183 (shared walk with the COUNT(*) path)
    val e = ZipEntryWalk.nextMatching(zin, glob, filters, part)
    if (e == null) { closed = true; zin.close(); return false }
    var body: Array[Byte] = null
    var hash: String = null
    if (needBody || needHash) { // read elision: src/builder.rs:185
      val bytes = ZipEntryWalk.readEntry(zin, maxBodyBytes, e.getName,
        part.displayPath)
      if (needHash) hash = ZipExtract.sha256Hex(bytes) // src/builder.rs:196-209
      if (needBody) body = bytes                       // src/builder.rs:185-195
    }
    val values = columns.map {
      case "name" => UTF8String.fromString(e.getName)
      case "source" => UTF8String.fromString(part.displayPath)
      case "body" => body
      case "hash" => if (hash != null) UTF8String.fromString(hash) else null
    }
    current = new GenericInternalRow(values.asInstanceOf[Array[Any]])
    emitted += 1
    true
  }

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[CustomTaskMetric] = {
    val n = emitted
    Array(new CustomTaskMetric {
      override def name(): String = ZipEntriesRead.Name
      override def value(): Long = n
    })
  }

  override def close(): Unit = if (!closed) { closed = true; zin.close() }
}

/** Driver/executor-side evaluation of the pushed v1 filters over the two
  * pre-read columns. Conservative: unknown filter shapes are unsupported
  * (never pushed), and `sourceMayMatch` only prunes archives on predicates
  * that reference `source` alone. */
object ZipFilterEval {
  def supported(f: Filter): Boolean = f match {
    case _: sources.EqualTo | _: sources.StringStartsWith |
         _: sources.StringEndsWith | _: sources.StringContains |
         _: sources.In | _: sources.IsNotNull | _: sources.IsNull => true
    case sources.And(l, r) => supported(l) && supported(r)
    case sources.Or(l, r) => supported(l) && supported(r)
    case sources.Not(c) => supported(c)
    case _ => false
  }

  /** Evaluate one entry (name, source) against every pushed filter. */
  def matches(filters: Array[Filter], name: String, source: String): Boolean =
    filters.forall(eval(_, Map("name" -> name, "source" -> source)))

  /** Archive-level pruning: can any entry of this archive pass? Filters
    * referencing only `source` are decidable before opening the zip. */
  def sourceMayMatch(filters: Array[Filter], source: String): Boolean =
    filters.filter(_.references.forall(_ == "source"))
      .forall(eval(_, Map("source" -> source)))

  private def eval(f: Filter, row: Map[String, String]): Boolean = f match {
    case sources.EqualTo(a, v) => row.get(a).contains(String.valueOf(v))
    case sources.StringStartsWith(a, v) => row.get(a).exists(_.startsWith(v))
    case sources.StringEndsWith(a, v) => row.get(a).exists(_.endsWith(v))
    case sources.StringContains(a, v) => row.get(a).exists(_.contains(v))
    case sources.In(a, vs) => row.get(a).exists(x => vs.map(String.valueOf).contains(x))
    case sources.IsNotNull(a) => row.get(a).exists(_ != null)
    case sources.IsNull(a) => row.get(a).forall(_ == null)
    case sources.And(l, r) => eval(l, row) && eval(r, row)
    case sources.Or(l, r) => eval(l, row) || eval(r, row)
    case sources.Not(c) => !eval(c, row)
    case _ => true
  }
}

/** Minimal serializable wrapper for the Hadoop Configuration (the one in
  * spark-core is private[spark]). */
class SerializableConfiguration(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
