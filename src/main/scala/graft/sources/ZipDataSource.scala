package graft.sources

import java.util
import java.util.regex.Pattern

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
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
  *     and `hash` elides the entry read — no body array, no SHA-256; a
  *     `hash` without `body` streams the entry through SHA-256 and builds
  *     no body array.
  *
  * `source` also takes runtime filters ([[SupportsRuntimeFiltering]]).
  * Aggregates and limits stay with Spark: a COUNT(*) (the reference's
  * count pass, src/builder.rs:24-41) prunes every column, so its scan
  * emits empty rows and reads no entry, and a LIMIT stops pulling rows,
  * so no entry past the last row it takes is read.
  *
  * Archives are read through their central directory ([[ZipArchive]]), so
  * names-only, COUNT(*) and glob-miss scans read only the archive's tail
  * and directory: no local header, no data byte, no inflate.
  *
  * Options: `glob` (wax-style entry-name glob, as `-g`, src/main.rs:38-40)
  * and `maxBodyBytes` (per-entry scale guard, a non-negative integer,
  * default 1 GiB).
  * Partitioning: about one [[InputPartition]] per core, each a contiguous
  * run of archives and entry ranges of about equal bytes. One target,
  * [[ZipScan.cutTarget]] (a core's even share of the scan's archive
  * bytes), serves twice: a scan which reads entry data (`body` or `hash`)
  * first cuts an archive above it into contiguous entry ranges of about
  * equal compressed bytes, and then the ordered run of whole archives and
  * ranges is packed into partitions of about that many bytes, as Spark's
  * own file sources pack small files into `maxSplitBytes` splits. The
  * central directory, read once on the driver, says where every entry
  * starts, so a range task seeks straight to its first entry; the
  * reference instead caps an archive at one thread
  * (src/builder.rs:49-50,64), and runs one thread per archive however
  * small. Scans of no data column (names-only, COUNT(*)) read only the
  * directories: they pack whole archives and read nothing on the driver.
  * A task reads its archives one at a time. Rows come in archive order,
  * then entry order. Entries stream one at a time, so task memory is
  * bounded by one archive's central directory plus one decompressed
  * entry, never the archive.
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
  * in its task). The table opens no archive: the driver reads a central
  * directory only where a data scan cuts an archive into entry ranges
  * ([[ZipScan]]). */
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
    Option(options.get("maxBodyBytes")).fold(1L << 30) { v =>
      v.toLongOption.filter(_ >= 0).getOrElse(GraftError.raise(GraftError.InvalidArgument(
        s"option maxBodyBytes expects a non-negative integer, got '$v'")))
    }
  private[graft] val archives: Seq[ZipSlice] =
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
  def list(spark: SparkSession, patterns: Seq[String]): Seq[ZipSlice] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val archives = patterns.flatMap { pat =>
      val p = new Path(pat)
      val fs = p.getFileSystem(conf)
      Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.isFile).map { st =>
          val uri = st.getPath.toUri
          val display = if (uri.getScheme == "file") uri.getPath else st.getPath.toString
          ZipSlice(st.getPath.toString, display, st.getLen)
        }
    }.distinctBy(_.readPath).sortBy(_.readPath)
    if (archives.isEmpty) GraftError.raise(GraftError.NoInputsFound(patterns))
    archives
  }
}

class ZipScanBuilder(table: ZipTable)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ZipExtract.schema

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

  override def build(): Scan = new ZipScan(table, pushed, required)
}

class ZipScan(table: ZipTable, filters: Array[Filter], required: StructType)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private val readsData =
    required.fieldNames.contains("body") || required.fieldNames.contains("hash")

  /** Runtime (execution-time) filtering on `source` — the archive axis.
    * A broadcast join against a small manifest (the ingest-dedup story:
    * "only archives not yet ingested") hands the scan an IN-set of source
    * paths after the build side materializes; [[planInputPartitions]] then
    * drops the slices of every other archive, and the partitions left
    * empty, before a single byte is opened. Partition-exact:
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
    * little (taken as ~1% of archive bytes) and reads only the
    * directories; body/hash projections emit about the compressed bytes
    * or more. */
  override def estimateStatistics(): Statistics = {
    val archiveBytes = table.archives.map(_.bytes).sum
    val estimate = if (readsData) archiveBytes else math.max(archiveBytes / 100, 1)
    new Statistics {
      override def sizeInBytes: java.util.OptionalLong =
        java.util.OptionalLong.of(estimate)
      override def numRows: java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }
  override def description(): String =
    s"ZipScan(glob=${table.globText.getOrElse("*")}, " +
      s"pushed=[${filters.mkString(", ")}], cols=${required.fieldNames.mkString(",")})"

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new ZipEntriesRead)

  /** The scan's partitions before runtime filtering, made once because
    * Spark plans every copy of the scan node again. The archives the
    * pushed filters keep are weighed by their listed bytes; a scan which
    * reads entry data cuts an archive above [[ZipScan.cutTarget]] into
    * entry ranges (its central directory is read here, on the driver), or
    * drops it when the glob and pushed filters leave it no entry. The
    * ordered run of archives and ranges is then cut at the same target
    * into contiguous packs, one partition each. */
  private lazy val plan: Seq[ZipInputPartition] = {
    val kept = table.archives.filter(a => ZipFilterEval.sourceMayMatch(filters, a.displayPath))
    val target = ZipScan.cutTarget(kept.map(_.bytes).sum,
      SparkSession.active.sparkContext.defaultParallelism)
    val slices = kept.flatMap(a =>
      if (readsData && a.bytes > target) split(a, target) else Seq(a -> a.bytes)).toIndexedSeq
    ZipScan.cut(slices.map(_._2), target).map { case (from, until) =>
      ZipInputPartition(slices.slice(from, until).map(_._1))
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    plan.flatMap { p =>
      val kept = p.slices.filter(s => ZipFilterEval.sourceMayMatch(runtimeFilters, s.displayPath))
      if (kept.isEmpty) None else Some(ZipInputPartition(kept))
    }.toArray

  /** `a` as entry ranges, each with the compressed bytes it reads. */
  private def split(a: ZipSlice, target: Long): Seq[(ZipSlice, Long)] = {
    val entries = ZipEntryWalk.directory(a, SparkSession.active.sparkContext.hadoopConfiguration)
    val emits = entries.map(ZipEntryWalk.emits(_, table.glob, filters, a))
    // entries this scan skips cost no data read: they weigh nothing
    val weights = entries.indices.map(i => if (emits(i)) entries(i).compressedSize else 0L)
    val ranges = ZipScan.cut(weights, target)
    if (!emits.contains(true)) Seq.empty // no row to read: no task
    else if (ranges.size <= 1) Seq(a -> a.bytes)
    else ranges.map { case (from, until) =>
      a.copy(from = from, until = until) -> weights.slice(from, until).sum
    }
  }

  /** The Hadoop conf rides one broadcast per scan (as Spark's own
    * `FileScan` does), not a serialized copy in every task. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val sc = SparkSession.active.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    ZipReaderFactory(conf, table.glob, filters, required.fieldNames, table.maxBodyBytes)
  }
}

object ZipScan {
  /** Test seam: when positive, replaces the derived cut target, and so
    * sets both the entry-range cut and the partition packing. */
  @volatile private[graft] var cutTargetOverride: Long = 0L

  /** Bytes a scan partition aims at: a core's even share of the scan's
    * archives (rounded up, so an even cut needs no extra task), but never
    * below 1 MiB, where a task's fixed cost (opening its archives, reading
    * their directories, starting a Parquet part) would outweigh its work.
    * A data-reading scan cuts an archive above it into entry ranges; every
    * scan packs its archives and ranges into partitions of about it. */
  def cutTarget(totalBytes: Long, parallelism: Int): Long = {
    val cores = math.max(parallelism, 1).toLong
    if (cutTargetOverride > 0) cutTargetOverride
    else math.max((totalBytes + cores - 1) / cores, 1L << 20)
  }

  /** Cut items with these weights (an archive's entries by compressed
    * bytes, in directory order, or a scan's archives and ranges by bytes,
    * in row order) into contiguous `[from, until)` index ranges that cover
    * every item. Each range is non-empty and weighs at most `target`,
    * unless it holds exactly one weighted item that alone weighs more;
    * weightless items join a neighbouring range, so no range is weightless
    * unless every item is. Ranges aim at an equal share of the total so
    * the last one is not a sliver. */
  def cut(weights: IndexedSeq[Long], target: Long): Seq[(Int, Int)] = {
    val total = weights.sum
    val n = (math.max(total, 1L) - 1) / target + 1 // no overflow at Long.MaxValue
    val aim = total / n
    val out = Seq.newBuilder[(Int, Int)]
    var from = 0
    var sum = 0L // weight of [from, i)
    var left = total // weight of [i, length)
    var i = 0
    while (i < weights.length) {
      // a weightless item never closes a range, nor does one close weightless
      if (weights(i) > 0 && sum > 0 && sum + weights(i) > target) {
        out += ((from, i)); from = i; sum = 0L
      }
      sum += weights(i)
      left -= weights(i)
      i += 1
      // trailing weightless entries join the last range
      if (sum > 0 && sum >= aim && left > 0) {
        out += ((from, i)); from = i; sum = 0L
      }
    }
    if (from < weights.length) out += ((from, weights.length))
    out.result()
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

/** One archive, or the entries `[from, until)` of its central directory.
  * `bytes` is the archive's listed length. A whole archive has
  * `until = Int.MaxValue`: its entry count is known only once a task reads
  * the directory. */
case class ZipSlice(readPath: String, displayPath: String, bytes: Long,
    from: Int = 0, until: Int = Int.MaxValue)

/** A scan task's input: archives and entry ranges, read in this order. */
case class ZipInputPartition(slices: Seq[ZipSlice]) extends InputPartition

case class ZipReaderFactory(
    conf: Broadcast[SerializableConfiguration],
    glob: Option[Pattern],
    filters: Array[Filter],
    columns: Array[String],
    maxBodyBytes: Long = 1L << 30) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ZipInputPartition]
    new ZipPartitionReader(p, conf.value.value, glob, filters, columns, maxBodyBytes)
  }
}

/** What the driver's range split and the reader share — opening an
  * archive and the predicate for "which entries this scan emits" — so the
  * split weighs exactly the entries the tasks read. */
private[sources] object ZipEntryWalk {
  /** Open the archive and read its central directory (typed `ReadFile`
    * when the file cannot be opened, `Zip` when it is no readable zip). */
  def open(part: ZipSlice, conf: Configuration): ZipArchive = {
    val in =
      try {
        val p = new Path(part.readPath)
        p.getFileSystem(conf).open(p)
      } catch { case e: java.io.IOException =>
        // src/error.rs:5-8 — the archive itself is unreadable
        GraftError.raise(GraftError.ReadFile(part.displayPath, e.toString))
      }
    ZipArchive.open(in, part.bytes, part.displayPath)
  }

  /** Does this scan emit entry `e`? Directories never; then the glob and
    * the pushed filters. */
  def emits(e: ZipCdEntry, glob: Option[Pattern], filters: Array[Filter],
      part: ZipSlice): Boolean =
    !e.isDirectory &&
      glob.forall(_.matcher(e.name).matches()) &&
      ZipFilterEval.matches(filters, e.name, part.displayPath)

  /** `a`'s central directory, read as [[open]] reads it. */
  def directory(a: ZipSlice, conf: Configuration): Array[ZipCdEntry] = {
    val zip = open(a, conf)
    try zip.entries finally zip.close()
  }
}

/** Streams one partition's entries as InternalRows, one archive at a
  * time, honoring pushed filters (before the entry read) and the pruned
  * projection (read elision). */
class ZipPartitionReader(
    part: ZipInputPartition,
    conf: Configuration,
    glob: Option[Pattern],
    filters: Array[Filter],
    columns: Array[String],
    maxBodyBytes: Long = 1L << 30) extends PartitionReader[InternalRow] {

  private var emitted = 0L

  private val needBody = columns.contains("body")
  private val needHash = columns.contains("hash")

  private val slices = part.slices.iterator
  private var slice: ZipSlice = _
  private var zip: ZipArchive = _ // the open archive of `slice`, or null
  private var end = 0
  private var at = 0 // index of the next directory entry to consider
  private var current: InternalRow = _
  private var closed = false

  override def next(): Boolean = {
    current = null
    while (!closed) {
      if (zip == null) {
        if (!slices.hasNext) { close(); return false }
        slice = slices.next()
        zip = ZipEntryWalk.open(slice, conf)
        end = math.min(slice.until, zip.entries.length)
        at = slice.from
      }
      // pushed name/source predicates run BEFORE the entry read — the DSv2
      // form of src/builder.rs:180-183
      val entries = zip.entries
      while (at < end && !ZipEntryWalk.emits(entries(at), glob, filters, slice))
        at += 1
      if (at < end) {
        val e = entries(at)
        at += 1
        // read elision: src/builder.rs:185; hash src/builder.rs:196-209, body
        // src/builder.rs:185-195
        val (body, hash) =
          if (needBody || needHash) zip.read(e, needBody, needHash, maxBodyBytes)
          else (null, null)
        val values = columns.map {
          case "name" => UTF8String.fromString(e.name)
          case "source" => UTF8String.fromString(slice.displayPath)
          case "body" => body
          case "hash" => if (hash != null) UTF8String.fromString(hash) else null
        }
        current = new GenericInternalRow(values.asInstanceOf[Array[Any]])
        emitted += 1
        return true
      }
      closeArchive()
    }
    false
  }

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[CustomTaskMetric] = {
    val n = emitted
    Array(new CustomTaskMetric {
      override def name(): String = ZipEntriesRead.Name
      override def value(): Long = n
    })
  }

  private def closeArchive(): Unit = if (zip != null) { zip.close(); zip = null }

  override def close(): Unit = if (!closed) { closed = true; closeArchive() }
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
