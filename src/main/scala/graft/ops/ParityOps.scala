package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.zip.{GlobRegex, ZipExtract, ZipToParquetConfig}

/** The reference's operator surface (SURVEY.md §2.1 O1-O10) re-expressed
  * over the harness tables. `documents.text` stands in for the zip-entry
  * `body` where an oracle is needed (DuckDB can't unzip); the REAL zip
  * extractor is exercised by `z_zip_extract` (rows-only check) and by the
  * scalatest golden/property suites.
  */
object ParityOps {
  import Tables._

  /** O6 — SHA-256 hex of the body (reference src/builder.rs:196-209, with
    * the intended plain-hex semantics, not the quote-wrapped bug B2). */
  def hashSha256(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), sha2(col("text").cast(BinaryType), 256).as("hash"))
      .orderBy("doc_id")

  /** O4 — glob predicate on a name-like column (reference
    * src/builder.rs:180-183; wax glob → regex via GlobRegex). */
  def globFilter(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(col("source").rlike(GlobRegex.translate("src1*")))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** O5/O7 — column drop semantics: `--no-body` style flags null the column
    * but keep the 4-col schema (reference src/builder.rs:185-217,256-274). */
  def projectNullCols(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        concat(lit("doc_"), col("doc_id").cast("string")).as("name"),
        col("source"),
        lit(null).cast(BinaryType).as("body"), // --no-body
        sha2(col("text").cast(BinaryType), 256).as("hash"))
      .orderBy("name")

  /** O8 — global COUNT(*) pre-scan (reference src/builder.rs:24-41). */
  def countStar(s: SparkSession, d: String): DataFrame =
    documents(s, d).agg(count(lit(1)).as("n"))

  /** Multi-input concatenation = UNION ALL (reference src/builder.rs:54-73:
    * one producer per matched zip, single shared channel). */
  def unionAll(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    docs.filter(col("lang") === "en").select(col("doc_id"), col("lang"))
      .unionAll(docs.filter(col("lang") === "fr").select(col("doc_id"), col("lang")))
      .orderBy("doc_id")
  }

  /** DISTINCT projection (no reference analog — Spark-free extension of the
    * projection surface; SURVEY.md §2.2 set-ops row). */
  def distinctRows(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("lang"), col("source")).distinct()
      .orderBy("lang", "source")

  /** Deterministic ~10% sample by content hash — the reproducible-sampling
    * primitive a 100 TB pipeline uses for eval splits and sketch
    * calibration. Unlike TABLESAMPLE/rand() it is stable across engines,
    * partitionings and reruns: membership is a pure function of doc_id.
    * Narrow (a filter on a hash expression), pushes no shuffle anywhere. */
  def sampleMod(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(expr(s"${DedupOps.h60("CAST(doc_id AS STRING)")} % 100") < 10)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** The 3-entry zip both zip queries read, written fresh to a temp dir. */
  private def fixtureZip(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dir.deleteOnExit()
    val zipPath = new java.io.File(dir, "fixture.zip")
    val zout = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zipPath))
    def add(name: String, body: Array[Byte]): Unit = {
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(body)
      zout.closeEntry()
    }
    add("a.txt", "hello".getBytes("UTF-8"))
    add("dir/b.png", Array.tabulate[Byte](16)(i => (i * 7).toByte))
    add("dir/sub/c.txt", Array.emptyByteArray)
    zout.close()
    zipPath.getAbsolutePath
  }

  /** O1-O3+O5-O7 end-to-end — the REAL extractor over a deterministic zip
    * synthesized at query time (driver runs a rows-only check; exact-value
    * coverage lives in ZipExtractSpec). Output excludes `source` (a temp
    * path) so the result is deterministic. */
  def zipExtract(s: SparkSession, d: String): DataFrame =
    ZipExtract.entries(s, ZipToParquetConfig(inputs = Seq(fixtureZip("graft_zip"))))
      .select(col("name"), col("hash"), length(col("body")).as("body_len"))
      .orderBy("name")

  /** The DSv2 `format("zip")` source end-to-end (SURVEY.md §7.2 M3) with a
    * pushed name predicate and pruned columns — same fixture as
    * [[zipExtract]]; rows-only check (plan-level pushdown assertions live
    * in ZipDataSourceSpec). */
  def zipDsv2(s: SparkSession, d: String): DataFrame =
    s.read.format("zip").load(fixtureZip("graft_zip_v2"))
      .filter(col("name").endsWith(".txt")) // pushed into the scan
      .select(col("name"), col("hash"))     // pruned: body never read
      .orderBy("name")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p_hash_sha256" -> hashSha256,
    "p_glob_filter" -> globFilter,
    "p_project_nullcols" -> projectNullCols,
    "p_count_star" -> countStar,
    "p_union_all" -> unionAll,
    "p_distinct" -> distinctRows,
    "p_sample_mod" -> sampleMod,
    "z_zip_extract" -> zipExtract,
    "z_zip_dsv2" -> zipDsv2)

  val oracles: Map[String, String] = Map(
    "p_hash_sha256" ->
      "SELECT doc_id, sha256(text) AS hash FROM documents ORDER BY doc_id",
    "p_glob_filter" ->
      "SELECT doc_id, source FROM documents WHERE regexp_matches(source, '^src1[^/]*$') ORDER BY doc_id",
    "p_project_nullcols" ->
      ("SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS name, source, " +
       "CAST(NULL AS BLOB) AS body, sha256(text) AS hash " +
       "FROM documents ORDER BY name"),
    "p_count_star" -> "SELECT count(*) AS n FROM documents",
    "p_sample_mod" -> """
      SELECT doc_id, lang FROM documents
      WHERE list_reduce(list_prepend(0::BIGINT,
              list_transform(string_split_regex(
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), ''),
                c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),
              (a, b) -> a * 16 + b) % 100 < 10
      ORDER BY doc_id""",
    "p_union_all" ->
      ("SELECT doc_id, lang FROM documents WHERE lang = 'en' " +
       "UNION ALL SELECT doc_id, lang FROM documents WHERE lang = 'fr' " +
       "ORDER BY doc_id"),
    "p_distinct" ->
      "SELECT DISTINCT lang, source FROM documents ORDER BY lang, source",
    // DuckDB cannot open zip archives, but both zip queries run over a
    // DETERMINISTIC in-test fixture whose expected rows are known constants
    // (three entries with fixed names/bodies) — so the oracle is a VALUES
    // relation of those constants and the gate gets a full rows+schema+hash
    // check instead of rows-only. The hex literals are sha256("hello"),
    // sha256(the 16-byte (i*7) ramp), sha256("") — the same values
    // ZipExtractSpec pins against java.security.MessageDigest.
    "z_zip_extract" -> """
      SELECT * FROM (VALUES
        ('a.txt', '2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824', 5),
        ('dir/b.png', 'f7bc6c13e813d37799484d9cd24d1570d3e943fe0fe6e8f64925faabce0af40d', 16),
        ('dir/sub/c.txt', 'e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855', 0)
      ) AS t(name, hash, body_len) ORDER BY name""",
    // z_zip_dsv2 filters name LIKE '%.txt' and prunes to (name, hash).
    "z_zip_dsv2" -> """
      SELECT * FROM (VALUES
        ('a.txt', '2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824'),
        ('dir/sub/c.txt', 'e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855')
      ) AS t(name, hash) ORDER BY name""")
}
