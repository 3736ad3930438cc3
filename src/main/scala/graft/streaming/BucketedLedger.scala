package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

/**
 * Bucketed, self-compacting parquet LEDGER for the foreachBatch dedup sinks
 * — the persistent "seen" state that must be consulted by every micro-batch
 * for the whole life of the stream.
 *
 * WHY bucketed (the 100 TB argument): the sinks' cross-batch check is an
 * anti-/band-join of the (small) micro-batch against the (ever-growing)
 * ledger. A plain parquet ledger re-SHUFFLES the entire stream history into
 * that join every batch — O(history) per batch, unbounded. Stored as a
 * catalog bucketed table on the join key (`DataFrameWriter.bucketBy`),
 * the ledger side is pre-partitioned ON DISK: the join reads
 * matching buckets in place and only the micro-batch side moves — per-batch
 * cost O(batch + ledger-scan), with no history shuffle. (At small ledger
 * sizes Spark may broadcast the ledger instead — also shuffle-free; the
 * bucketing is what keeps the plan one-sided once the ledger dwarfs the
 * broadcast threshold.)
 *
 * WHY self-compacting: one append per micro-batch is a small-files
 * explosion over a long-lived stream (files ∝ batches × buckets). Appends
 * are pre-partitioned to one file per bucket, and once the file count
 * exceeds `compactAfterFiles` the table is rewritten to exactly `buckets`
 * files. The rewrite swap is NON-destructive (rename main aside → rename
 * compacted temp in → drop the set-aside copy), so at every instant at
 * least one complete copy of the ledger exists under some name; a crash at
 * any point is healed by [[recover]] on the writer's next append/compaction,
 * while reads resolve the surviving copy without touching the catalog
 * (single-writer, many-reader safe).
 * Compaction cost is one ledger rewrite amortized over
 * `compactAfterFiles / buckets` batches, and it rewrites key-plus-signature
 * rows — never document bodies.
 *
 * RETENTION (optional): `retention` is a SQL boolean expression over the
 * ledger columns selecting the rows to KEEP (e.g.
 * `"seen_at > now() - interval 30 days"` against a `seen_at` column the
 * caller appends). Expired rows stop suppressing duplicates immediately —
 * [[readOrEmpty]] filters them out of every per-batch join (a pushed-down
 * parquet filter; the bucketed scan's partitioning survives a Filter, so
 * the join stays one-sided) — and are physically removed at the next
 * compaction rewrite. This gives bounded-window dedup semantics: a
 * fingerprint older than the window re-admits, one inside it still drops.
 *
 * Delivery note: append-then-compact inside foreachBatch keeps the sinks'
 * at-least-once story — a crash between append and compaction leaves a
 * valid (merely uncompacted) ledger.
 */
object BucketedLedger {
  /** Transient: a catalog probe succeeded but the directory listing raced
    * the compaction swap's rename and came back empty (see
    * [[BucketedLedger.readOrEmpty]]). Retried internally; escapes only if
    * the listing stays empty past the retry budget AND the location
    * carries no [[EmptyMarker]] — i.e. a file-less table that is not the
    * known legitimate kind, which neither append() nor maybeCompact() can
    * produce. */
  final class MidSwapListing(msg: String) extends RuntimeException(msg)

  /** Marker file a retention compaction leaves when EVERY row expired and
    * the rewrite therefore landed zero data files — the one legitimate
    * file-less ledger state (first observed by the retention_compaction
    * soak: the boundary compaction emptied the ledger and the sink's next
    * read misread the stable empty listing as a torn swap and died).
    * Underscore-prefixed, so Spark's file index and [[BucketedLedger
    * .fileCount]] both ignore it; the next append adds data files and the
    * marker becomes irrelevant (empty-listing checks only consult it when
    * the listing IS empty). */
  val EmptyMarker = "_graft_empty"
}

final case class BucketedLedger(table: String, buckets: Int,
                                keys: Seq[String], schemaDdl: String,
                                compactAfterFiles: Int = 64,
                                retention: Option[String] = None,
                                now: Option[() => java.sql.Timestamp] = None) {
  require(table.matches("[A-Za-z_][A-Za-z0-9_]*"),
    s"ledger table must be a plain SQL identifier: $table")
  require(keys.nonEmpty, "ledger needs at least one bucket key")
  require(buckets > 0 && compactAfterFiles >= buckets,
    s"compactAfterFiles ($compactAfterFiles) must be >= buckets ($buckets) " +
      "or every append would trigger a rewrite")

  def schema: StructType = StructType.fromDDL(schemaDdl)

  /** Retention predicate with the optional `{now}` token resolved against
    * the injected clock — re-evaluated at EVERY use so a long-lived ledger
    * sees the clock advance. Production retention exprs reference
    * `current_timestamp()` directly and pass through untouched; `{now}`
    * exists for deterministic replays (the sq3 oracle), where window
    * expiry must be a function of the batch sequence, not of how fast the
    * batches happened to run — the substituted foldable expression also
    * pushes down to the parquet scan, which `current_timestamp()` (a
    * per-query-start value, still foldable) equally allows. The token is
    * rendered as `timestamp_micros(<epoch>)` — instant-based, like the
    * `lit(...)` path that stamps `seen_at` — never as a `TIMESTAMP '...'`
    * string literal: `Timestamp.toString` renders the wall clock in the
    * JVM DEFAULT zone while the literal parses in the SESSION zone (pinned
    * UTC), so on a non-UTC host the string round-trip would shift the
    * window boundary by the host offset relative to the stamps. */
  private def retentionPredicate: Option[String] = retention.map { r =>
    if (r.contains("{now}")) {
      val clock = now.getOrElse(sys.error(
        s"ledger $table: retention references {now} but no clock was injected"))
      val ts = clock()
      val micros = ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
      r.replace("{now}", s"timestamp_micros(${micros}L)")
    } else r
  }

  private val tmpT = table + "__compacting"
  private val oldT = table + "__old"

  /** The ledger as a DataFrame — a bucketed catalog scan when the table
    * exists (its HashPartitioning rides into joins), else an empty frame
    * with the ledger schema (first micro-batch). With `retention` set,
    * expired rows are filtered out here so they never suppress a duplicate
    * past the window, even before compaction physically removes them.
    *
    * READ-ONLY by design: this entry point never mutates the catalog, so
    * an external monitor session can poll the ledger while the (single)
    * writer is mid-compaction without racing the swap — a reader-side
    * healing rename could rename `__old`/`__compacting` back to main
    * inside the writer's swap window and crash the writer's own rename.
    * A crash half-state is instead READ THROUGH: whichever complete copy
    * survives (main, else the compacted temp, else the set-aside copy) is
    * scanned in place; the catalog heals on the writer's next
    * [[append]]/[[maybeCompact]] via [[recover]].
    *
    * Concurrency contract (precise form of "many-reader safe"): readers
    * never CORRUPT the writer's swap, but a read that straddles the
    * millisecond rename window can transiently misfire three ways —
    * resolve main just as it is renamed aside (table-not-found at
    * analysis); probe all three names across the swap so that EACH
    * probe individually misses (main already aside, temp already
    * renamed in, `__old` already dropped) and the ledger wrongly reads
    * as empty; or resolve `__old` just as recover() drops it
    * (file-not-found at the caller's later action). The resolve+analyze
    * step below retries through the first two; a failure at ACTION time
    * is outside this method's reach, so an external monitor that scans
    * concurrently with live compactions should wrap its action in the
    * same retry. The in-sink reads are sequential with the writer and
    * never hit any of the three. */
  def readOrEmpty(spark: SparkSession): DataFrame = {
    val cat = spark.catalog
    // resolution order mirrors recover(): the temp, when main is gone, is
    // the complete compacted ledger (crash fell between the two renames);
    // __old is only authoritative when it is the sole surviving copy
    def resolveAndAnalyze(): Option[DataFrame] = {
      val src =
        if (cat.tableExists(table)) Some(table)
        else if (cat.tableExists(tmpT)) Some(tmpT)
        else if (cat.tableExists(oldT)) Some(oldT)
        else None
      src.map { t =>
        // the sinks append/compact through the streaming query's CLONED
        // session; this session's relation cache can therefore point at
        // files a compaction has since deleted. Refresh costs one file
        // listing (≤ compactAfterFiles + buckets files by construction)
        // and makes the scan correct from ANY session.
        cat.refreshTable(t)
        val df = spark.table(t)
        // A catalog probe can succeed while the directory LISTING races
        // the swap's rename: Spark then logs "directory was not found —
        // was it deleted very recently?" and builds an EMPTY file index,
        // so the scan silently returns zero rows (no exception to retry
        // on — observed by the race soak). Every ledger created by
        // append() has ≥ 1 data file, so an existing table with an empty
        // listing is a mid-swap artifact, not an empty ledger — EXCEPT
        // the one legitimate file-less state: a retention compaction that
        // expired every row, which marks its zero-file rewrite with
        // [[BucketedLedger.EmptyMarker]]. Unmarked empties surface as a
        // transient miss for the retry loop; marked ones read as the
        // empty ledger they are.
        if (df.inputFiles.isEmpty) {
          val loc = new org.apache.hadoop.fs.Path(
            spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).location)
          val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
          if (!fs.exists(new org.apache.hadoop.fs.Path(loc, BucketedLedger.EmptyMarker)))
            throw new BucketedLedger.MidSwapListing(
              s"ledger $t resolved with an empty file listing (mid-swap)")
        }
        df
      }
    }
    // The writer's swap window (two catalog renames + a drop) is
    // milliseconds; a handful of short retries outlives it without
    // masking real failures. TWO transient shapes exist (both observed
    // by the live-compaction race soak in BucketedLedgerSpec):
    //  - the table vanishes between resolve and analyze → AnalysisException;
    //  - the three existence probes STRADDLE the swap (main already
    //    renamed aside when probed, the temp already renamed in when
    //    probed, __old already dropped when probed) → src=None, which
    //    without the retry would silently read as "first micro-batch,
    //    empty ledger" — every historical fingerprint gone to a monitor.
    // The only legitimate None (no table was ever created) pays ≤ ~300 ms
    // once; sink callers create the table on their first append.
    var attempt = 0
    var resolved: Option[DataFrame] = None
    var done = false
    while (!done) {
      val out =
        try Some(resolveAndAnalyze())
        catch {
          case _: org.apache.spark.sql.AnalysisException if attempt < 5 => None
          case _: BucketedLedger.MidSwapListing if attempt < 5 => None
        }
      out match {
        case Some(r @ Some(_)) => resolved = r; done = true
        case Some(None) if attempt >= 5 => done = true // genuinely no table
        case _ =>
          attempt += 1
          graft.core.Decisions.record(
            s"ledger.readRetry($table, attempt=$attempt)", true)
          Thread.sleep(20L * attempt)
      }
    }
    resolved match {
      case Some(df) => retentionPredicate.fold(df)(r => df.filter(expr(r)))
      case None =>
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
  }

  /**
   * Heal a half-completed compaction swap. The swap sequence is
   * write `__compacting` → rename main to `__old` → rename `__compacting`
   * to main → drop `__old`; a crash leaves exactly one of these states:
   *
   *  - main present, stale `__compacting` (crash before the first rename):
   *    main is authoritative; the stale temp is dropped by the next
   *    compaction's own cleanup — nothing to do here.
   *  - main MISSING, `__compacting` present (crash between the renames):
   *    the temp holds the complete compacted ledger (no append can
   *    interleave — the sink's batches are sequential), so finish the swap
   *    by renaming it in, then drop any `__old` leftover.
   *  - main MISSING, only `__old` present: restore the set-aside copy.
   *  - main present, `__old` dangling (crash before the final drop): the
   *    swap completed; drop the leftover.
   *
   * WRITER-ONLY: called from [[append]] and [[maybeCompact]], which run
   * under the sinks' single-writer discipline. Readers ([[readOrEmpty]],
   * [[fileCount]]) never heal — a monitor session's healing rename racing
   * the writer's swap window could rename a half-state back to main
   * mid-swap and crash the writer's own rename. A restarted stream heals
   * on its first append, so the "no table → empty ledger → every
   * historical duplicate re-admits" failure still cannot happen, and
   * reads in the meantime resolve the surviving copy read-only.
   * Cost when healthy: two catalog existence probes.
   */
  def recover(spark: SparkSession): Unit = {
    val cat = spark.catalog
    if (!cat.tableExists(table)) {
      if (cat.tableExists(tmpT)) {
        spark.sql(s"ALTER TABLE $tmpT RENAME TO $table")
        graft.core.Decisions.record(s"ledger.recover($table, from=$tmpT)", true)
        // a restored table may not be the one this instance validated —
        // re-check its bucket spec before the next append trusts it
        bucketSpecChecked = false
      } else if (cat.tableExists(oldT)) {
        spark.sql(s"ALTER TABLE $oldT RENAME TO $table")
        graft.core.Decisions.record(s"ledger.recover($table, from=$oldT)", true)
        bucketSpecChecked = false
      }
    }
    if (cat.tableExists(table))
      spark.sql(s"DROP TABLE IF EXISTS $oldT")
  }

  /** The writes below pin their file count with an explicit
    * `repartition(buckets, keys)` — AQE would re-plan that exchange (the
    * planned-write shuffle coalesces under
    * `coalescePartitions`, measured: a 2-bucket rewrite produced 4-6 files
    * tracking the INPUT file count), so the write plans in its OWN derived
    * session with AQE off. `newSession()` shares the SparkContext and the
    * catalog (the `saveAsTable` is visible everywhere) but owns its
    * SQLConf, so concurrent queries on the caller's session never observe
    * the flipped flag.
    *
    * MEMOIZED per parent session: each `newSession()` allocates a fresh
    * SessionState and registers on the shared listener bus, and sessions
    * are only reclaimed by GC — one-per-write over a long-lived stream
    * (1-2 per micro-batch) would churn SessionStates and grow the bus
    * between GCs. A ledger has a single writer, so a one-slot cache keyed
    * on the parent session identity suffices. Only the PARENT is weakly
    * referenced (WeakHashMap key); the clone is the entry's value, held
    * strongly for exactly as long as the parent is reachable. (An earlier
    * shape weakly referenced a (parent, clone) tuple — the tuple itself
    * was only weakly reachable, so ANY minor GC could clear the memo
    * while the parent was still live, silently reverting to per-write
    * SessionState churn between GCs.) */
  @transient
  private lazy val cachedWriteSession =
    new java.util.WeakHashMap[SparkSession, SparkSession](1)
  private[streaming] def writeSession(spark: SparkSession): SparkSession =
    cachedWriteSession.synchronized {
      val cached = cachedWriteSession.get(spark)
      if (cached != null) cached
      else {
        val s = spark.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "false")
        cachedWriteSession.clear() // one-slot: a new parent retires the old clone
        cachedWriteSession.put(spark, s)
        s
      }
    }

  /** Reusing an existing catalog table with the WRONG bucket layout would
    * silently break the one-sided join (Spark re-shuffles a ledger whose
    * bucket keys don't equal the join keys), and one with a WIDER schema
    * would silently lose its extra columns at the next compaction rewrite
    * (which reads the raw files with this ledger's schema) — fail loudly
    * on both instead. Checked once per ledger instance, on the first
    * append/compaction that finds the table; re-armed by [[recover]] when
    * a crash heal swaps a different physical table in. */
  @volatile private var bucketSpecChecked = false
  private def requireBucketSpec(spark: SparkSession): Unit =
    if (!bucketSpecChecked && spark.catalog.tableExists(table)) {
      val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      val spec = meta.bucketSpec
      val ok = spec.exists(s =>
        s.numBuckets == buckets &&
          s.bucketColumnNames.map(_.toLowerCase) == keys.map(_.toLowerCase))
      require(ok,
        s"existing table $table has bucket spec ${spec.orNull}, but this " +
          s"ledger needs bucketBy($buckets, ${keys.mkString(", ")}); " +
          "reusing it would re-shuffle the ledger side of every batch join")
      val onDisk = meta.schema.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq
      val declared = schema.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq
      require(onDisk == declared,
        s"existing table $table has schema ${meta.schema.toDDL}, but this " +
          s"ledger declares '$schemaDdl'; compacting through the narrower " +
          "schema would silently drop columns from disk")
      bucketSpecChecked = true
    }

  /** Append `rows` (must match the ledger schema). Pre-partitioned on the
    * bucket keys so each append adds at most `buckets` files — without it a
    * W-task write adds up to W × buckets files, compaction or not. */
  def append(rows: DataFrame): Unit = {
    val timing = sys.env.get("SPARK_GRAFT_REPLAY_TIMING").exists(v => v == "1" || v == "true")
    def mark[A](what: String)(body: => A): A =
      if (!timing) body
      else {
        val t0 = System.nanoTime()
        val r = body
        System.err.println(f"[append-timing] $table $what ${(System.nanoTime() - t0) / 1e9}%.3f s")
        r
      }
    val spark = rows.sparkSession
    mark("recover") { recover(spark) }
    mark("spec") { requireBucketSpec(spark) }
    // re-plan the rows in the AQE-off clone (the upstream compute still
    // runs under the caller's conf — only the write exchange must not be
    // re-planned). Re-bind the ANALYZED plan instead of round-tripping
    // through `.rdd` (r16): the RDD path deserializes every row to
    // external format and severs the shared CacheManager, so the sinks'
    // persisted micro-batch was re-read through a deserializer on every
    // ledger append; the re-bound plan stays columnar off the cache.
    val w = mark("clone") { writeSession(spark) }
    mark("write") {
      org.apache.spark.sql.graftbridge.DatasetBridge.rebind(rows, w)
        .repartition(buckets, keys.map(col): _*)
        .write.mode("append").format("parquet")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .saveAsTable(table)
    }
  }

  /** Data-file count straight off the filesystem — NOT
    * `spark.table(...).inputFiles`, which reads through the calling
    * session's relation cache and goes stale when another session appends
    * (measured: the streaming sinks append through the query's CLONED
    * session, so a monitoring caller on the original session saw a
    * frozen count forever). The compaction trigger and any external
    * observer must agree on fragmentation, so both read the live listing. */
  def fileCount(spark: SparkSession): Int =
    if (!spark.catalog.tableExists(table)) 0
    else {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(loc)) 0
      else fs.listStatus(loc).count { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }

  /** Rewrite the ledger to exactly `buckets` files when fragmentation
    * exceeds `compactAfterFiles`. Returns true when a rewrite ran (recorded
    * in [[graft.core.Decisions]] either way).
    *
    * The rewrite reads the RAW parquet files, not the catalog table: a
    * bucketed-write whose source is the same-bucketed table scan elides the
    * exchange entirely and emits one output file PER INPUT FILE (measured —
    * a "compaction" that compacts nothing). The raw read has no bucketing
    * metadata, so the explicit repartition stands and the rewrite lands at
    * `buckets` files. With `retention` set, expired rows are dropped here —
    * the physical half of the bounded-window semantics.
    *
    * The swap is non-destructive — rename main aside, rename the compacted
    * temp in, then drop the set-aside copy — so a complete ledger exists
    * under some name at every instant; [[recover]] (run by the writer
    * entry points, including this one) heals whichever half-state a crash
    * leaves.
    * The initial `DROP TABLE IF EXISTS $tmpT` only ever removes a STALE
    * temp: recover() has just ensured the main table exists, so the temp is
    * never the only copy when that drop runs. */
  def maybeCompact(spark: SparkSession): Boolean = {
    recover(spark)
    // the rewrite reads the raw files with THIS ledger's schema — a reused
    // table whose real schema is wider would silently lose columns, so the
    // same spec/schema gate as append runs before any rewrite
    requireBucketSpec(spark)
    val n = fileCount(spark)
    val go = n > compactAfterFiles
    graft.core.Decisions.record(s"ledger.compact($table, files=$n)", go)
    if (go) {
      spark.sql(s"DROP TABLE IF EXISTS $tmpT")
      val loc = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(table))
        .location.toString
      val w = writeSession(spark)
      val raw = w.read.schema(schema).parquet(loc)
      retentionPredicate.fold(raw)(r => raw.filter(expr(r)))
        .repartition(buckets, keys.map(col): _*)
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .saveAsTable(tmpT)
      // a retention rewrite that expired EVERY row lands zero data files —
      // mark the location so readers can tell this legitimate empty state
      // from a torn mid-swap listing (BucketedLedger.EmptyMarker). Written
      // before the renames, so the state is never observable unmarked.
      val tmpLoc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(tmpT)).location)
      val tmpFs = tmpLoc.getFileSystem(spark.sessionState.newHadoopConf())
      val hasData = tmpFs.exists(tmpLoc) && tmpFs.listStatus(tmpLoc).exists { s =>
        val nm = s.getPath.getName
        s.isFile && !nm.startsWith("_") && !nm.startsWith(".")
      }
      if (!hasData)
        tmpFs.create(new org.apache.hadoop.fs.Path(
          tmpLoc, BucketedLedger.EmptyMarker), true).close()
      spark.sql(s"ALTER TABLE $table RENAME TO $oldT")
      spark.sql(s"ALTER TABLE $tmpT RENAME TO $table")
      spark.sql(s"DROP TABLE IF EXISTS $oldT")
    }
    go
  }
}
