package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Table loading + convention-based normalization.
 *
 * Mirrors the reference's `preprocess_domain_table` semantics
 * (/root/reference/src/cehrbert_data/utils/spark_utils.py:240-296): tables live
 * as one parquet dir per table; column names are lowercased; any `*date*`
 * column is coerced to DateType and `*datetime*` to TimestampType, because
 * real-world exports frequently carry everything as strings
 * (spark_utils.py:252-260). Key columns are discovered by name convention
 * (spark_utils.py:41-155) rather than a declared schema.
 *
 * Scale notes: these are pure projections — they stay inside the parquet scan
 * (column pruning + pushdown are unaffected). Nanosecond parquet timestamps
 * are read as long (see [[GraftSession]]) and restored to micro-precision
 * TimestampType here; `ts div 1000` is integer division so the full 63-bit
 * nano epoch is preserved without double rounding.
 */
object Tables {

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Conf gate for the OPT-IN bucketed base-table layout (default off).
    *
    * WHY (the 100 TB argument, SURVEY §4): the engine's dominant repeated
    * shuffle is the person/user-keyed join + window chain — every pipeline
    * re-partitions the same fact tables on the same key per run. A one-time
    * layout pass ([[materializeBucketed]]) persists that partitioning ON
    * DISK as a bucketed catalog table; with the gate on, loads resolve to
    * the bucketed scan and every equi-join/groupBy/window on the bucket key
    * starts from HashPartitioning — no exchange, run after run. Opt-in
    * because the layout pass costs one full rewrite of each table and only
    * pays off for key-aligned repeated workloads; with the gate off (or a
    * table not materialized) behavior is bit-identical to the plain path. */
  val BucketedLayoutConf = "spark.graft.tables.bucketedLayout"

  /** Catalog name of the bucketed layout table for a base table. */
  def bucketedTableName(name: String): String = s"graft_bucketed_$name"

  /** Table properties recording WHAT a layout table materialized: the
    * source data directory and the normalization convention ("raw" =
    * [[load]] as-is, "normalized" = [[normalize]]d, "cdm" = the OMOP
    * normalize+rename of [[graft.omop.Preprocess.domainTable]]). The
    * catalog name alone is ambiguous — a session pointed at a DIFFERENT
    * dataset dir, or a raw-vs-normalized mix-up, would silently read the
    * wrong data through the same `graft_bucketed_<name>` table —
    * so [[bucketedLayout]] validates both and falls back to the plain
    * path on any mismatch. */
  val SourceProp = "graft.layout.source"
  val ConventionProp = "graft.layout.convention"

  /** Canonical form of a source dir for provenance comparison (trailing
    * slashes, relative segments, and symlink spellings must not defeat the
    * match). `getCanonicalPath` resolves symlinks at stamp/read time, so
    * the same physical dir reached through a link still matches — and a
    * link RE-POINTED since materialization resolves to its new target,
    * mismatches the recorded path, and falls back safely to the plain
    * path. Provenance is by resolved path, not content: rewriting the
    * files in place under the same path is not detected. */
  private def canonDir(dir: String): String =
    new java.io.File(dir).getCanonicalPath

  /** One-time layout pass: persist `df` (already normalized per
    * `convention`, so gated reads are drop-in identical) as the bucketed
    * layout table for `name`, stamped with its source-dir + convention
    * provenance. `buckets` should make one bucket ≈ one comfortable task
    * (≲ 1 GiB) at full scale — see [[Bucketing]]. */
  def materializeBucketed(df: DataFrame, name: String, sourceDir: String,
                          convention: String, buckets: Int,
                          keys: Seq[String], sortKeys: Seq[String] = Nil): Unit = {
    val t = bucketedTableName(name)
    Bucketing.writeBucketed(df, t, buckets, keys, sortKeys)
    // set the properties through the catalog API, not string-built SQL —
    // a source dir containing a quote must not break (or worse, reshape)
    // the statement
    val catalog = df.sparkSession.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(t)
    val meta = catalog.getTableMetadata(ident)
    catalog.alterTable(meta.copy(properties = meta.properties ++
      Map(SourceProp -> canonDir(sourceDir), ConventionProp -> convention)))
  }

  /** Gate-aware resolution: the bucketed catalog scan when the layout is
    * enabled, materialized for `name`, AND its recorded provenance matches
    * this read's source dir + convention; else None (caller falls back to
    * the plain parquet path). Every resolution lands in [[Decisions]], so
    * a run's log shows exactly which tables rode the layout — and why a
    * mismatched one did not. */
  def bucketedLayout(spark: SparkSession, name: String, dir: String,
                     convention: String): Option[DataFrame] = {
    val enabled = spark.conf.getOption(BucketedLayoutConf).exists(_.equalsIgnoreCase("true"))
    val t = bucketedTableName(name)
    val use = enabled && spark.catalog.tableExists(t) && {
      val props = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).properties
      val ok = props.get(SourceProp).contains(canonDir(dir)) &&
        props.get(ConventionProp).contains(convention)
      if (!ok) Decisions.record(s"tables.bucketedLayoutMismatch($name)",
        s"table=[${props.getOrElse(SourceProp, "?")}, " +
          s"${props.getOrElse(ConventionProp, "?")}] " +
          s"read=[${canonDir(dir)}, $convention] — falling back to plain path")
      ok
    }
    Decisions.record(s"tables.bucketedLayout($name)", use)
    if (use) Some(spark.table(t)) else None
  }

  /** Process-level parquet SCHEMA memo for [[load]] (r16, guide §1.2/§6):
    * `spark.read.parquet(p)` runs a footer-reading schema-inference job on
    * EVERY call — measured 75-90 ms per call on this host, and the bench's
    * ~120 table references paid it ~120 times for 4 distinct tables
    * (~10 s of the 75-query suite; the dominant share of the ~0.2 s
    * per-cheap-query floor). The memo caches only METADATA (the inferred
    * StructType — what a catalog/metastore holds for every production
    * table; at 100 TB nobody schema-infers per query), keyed on the
    * canonical path PLUS a fingerprint of its data: (length, mtime) for a
    * single file; for a directory, one listing of its top-level data
    * files (count, total length, latest mtime), since the directory's own
    * status does not change when a part file is rewritten in place. Not
    * detected: a rewrite that keeps the count, total length and latest
    * mtime, and rewrites below a partition subdirectory. Data is
    * re-read from parquet on every action as before — this caches no rows,
    * no plans, no results. Bounded: cleared past 256 entries (rewrites
    * under the same path retire old keys). */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Long, Long), StructType]()

  private def readParquet(spark: SparkSession, p: String): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val st =
      try Some(fs.getFileStatus(hp))
      catch { case _: java.io.FileNotFoundException => None }
    st match {
      case Some(s) =>
        // data files as Spark lists them: hidden (`.`) and metadata (`_`) names skipped
        val files =
          if (s.isDirectory) fs.listStatus(hp).toSeq.filter { f =>
            val n = f.getPath.getName
            !n.startsWith(".") && !n.startsWith("_")
          }
          else Seq(s)
        val key = (p, files.size, files.map(_.getLen).sum,
          files.map(_.getModificationTime).foldLeft(0L)(math.max))
        val cached = schemaMemo.get(key)
        if (cached != null) spark.read.schema(cached).parquet(p)
        else {
          val df = spark.read.parquet(p)
          if (schemaMemo.size() > 256) schemaMemo.clear()
          schemaMemo.put(key, df.schema)
          df
        }
      case None => spark.read.parquet(p) // surface the standard path error
    }
  }

  /** Raw scan of one table dir (reference spark_utils.py:247). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, path(dir, name))
    // TIMESTAMP(NANOS) columns arrive as LongType under nanosAsLong=true;
    // restore TimestampType at micro precision. Convention: nano-epoch longs
    // are ~1e18, so only convert columns the writer marked as timestamps —
    // we detect via the parquet logical type not being recoverable; here the
    // testdata contract is that `events.ts` is the only such column.
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Load + normalize, the default entry for convention-schema inputs.
    * Resolves to the bucketed layout table when the opt-in gate is on and
    * the table is materialized (the materialization stores the NORMALIZED
    * frame, so the two paths are value-identical). */
  def loadNormalized(spark: SparkSession, dir: String, name: String): DataFrame =
    bucketedLayout(spark, name, dir, "normalized")
      .getOrElse(normalize(load(spark, dir, name)))

  /** Lowercase every column name, nothing else (reference rollups lowercase
    * without the date casts — vocab_utils.py:95,129). */
  def lowercaseColumns(df: DataFrame): DataFrame =
    df.select(df.schema.fieldNames.map(n => col(n).as(n.toLowerCase)).toIndexedSeq: _*)

  /**
   * Lowercase all columns; cast `*date*`→date, `*datetime*`→timestamp.
   * Reference: spark_utils.py:252-260 (plus the CDM 5.2→5.3 rename at :262-265,
   * generalized by `renames`).
   */
  def normalize(df: DataFrame, renames: Map[String, String] = Map.empty): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val lower = f.name.toLowerCase
      val named = renames.getOrElse(lower, lower)
      val c = col(f.name)
      val cast =
        if (lower.contains("datetime") && f.dataType != TimestampType) c.cast(TimestampType)
        else if (lower.contains("date") && !lower.contains("datetime") && f.dataType != DateType)
          c.cast(DateType)
        else c
      cast.as(named)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /**
   * Convention-based key discovery, generalizing the reference's
   * DOMAIN_KEY_FIELDS + fallback name scanning (spark_utils.py:41-155):
   * find the first column matching each role by substring.
   */
  final case class TableKeys(idField: Option[String], conceptField: Option[String],
                             dateField: Option[String], datetimeField: Option[String])

  def discoverKeys(df: DataFrame): TableKeys = {
    val names = df.schema.fieldNames.map(_.toLowerCase)
    def first(p: String => Boolean): Option[String] = names.find(p)
    TableKeys(
      idField = first(n => n.endsWith("_id") && !n.endsWith("concept_id")),
      conceptField = first(_.endsWith("concept_id")),
      dateField = first(n => n.contains("date") && !n.contains("datetime")),
      datetimeField = first(_.contains("datetime")))
  }
}
