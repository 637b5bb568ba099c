package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.{IndexDef, IndexMetadata}
import graft.operators.{AsOfJoin, IndexBuild, IndexJoin, IndexProbe, IntervalJoin}
import graft.sources.FileReader
import graft.store.{Fs, IndexStore, SnapshotTable, StorageMigrations}

/** A named file-level secondary index over a set of raw data files — the
  * user-facing API, mirroring the reference's capability surface
  * (reference: src/main/scala/dev/cjfravel/ariadne/Index.scala:34-1323)
  * re-expressed Spark-first: DataFrame plans end-to-end, executor-side
  * probes, `_metadata` file attribution, parquet+manifest persistence.
  *
  * {{{
  * val idx = Index(spark, "orders", ordersSchema, "parquet")
  * idx.addIndex("o_custkey")
  * idx.addRangeIndex("o_orderkey")
  * idx.addFile(files: _*)
  * idx.update()
  * idx.join(customersDf, Seq("o_custkey"))   // reads only matching files
  * }}}
  */
final class Index private (
    val spark: SparkSession,
    val name: String,
    private var meta: IndexMetadata,
    private val selection: Option[Seq[String]]) {

  private val store = new IndexStore(spark, name)

  def metadata: IndexMetadata = meta

  // ---- index configuration -------------------------------------------------

  private def addDef(d: IndexDef): Index = synchronized {
    meta = meta.withIndex(d)
    store.writeMetadata(meta)
    this
  }

  /** Distinct-value (regular) index. */
  def addIndex(column: String): Index = {
    requireTopLevel(column)
    addDef(IndexDef(column, "regular"))
  }

  /** Bloom-filter index (equality probes only, string-hash semantics). */
  def addBloomIndex(column: String, fpr: Double = 0.01): Index = {
    requireTopLevel(column)
    addDef(IndexDef(column, "bloom", fpr = Some(fpr)))
  }

  /** Min/max range index. */
  def addRangeIndex(column: String): Index = {
    requireTopLevel(column)
    addDef(IndexDef(column, "range"))
  }

  /** Latest-version (SCD-style) index: joins through this column return only
    * the latest row per value by `tsColumn` (which may be a nested path). */
  def addTemporalIndex(column: String, tsColumn: String): Index = {
    requireTopLevel(column)
    addDef(IndexDef(column, "temporal", tsColumn = Some(tsColumn)))
  }

  /** Index over an arbitrary Spark SQL scalar expression, materialized as
    * `alias` at read time (e.g. `substring(Id, 1, 4)`, `year(ts)`). */
  def addComputedIndex(alias: String, sqlExpr: String): Index =
    addDef(IndexDef(alias, "computed", expr = Some(sqlExpr)))

  /** Index over the ELEMENTS of an array-typed SQL expression (e.g.
    * `items.sku` or `split(text, ' ')`), joinable via `alias`. */
  def addExplodedIndex(alias: String, arraySqlExpr: String): Index =
    addDef(IndexDef(alias, "exploded", expr = Some(arraySqlExpr)))

  /** Bloom-mode exploded index: per-file bloom filter over the ELEMENTS of
    * an array-typed SQL expression, joinable/probe-able via `alias` with
    * the same read semantics as [[addExplodedIndex]]. The scale path for
    * element universes proportional to CONTENT size (sliding-window
    * hashes, shingles: ~rows × windows distinct values per file) where an
    * exploded value array would route every file through the large-index
    * overflow table — the bloom is fixed-size (`expectedItems` capacity at
    * `fpr`, ~1.2 MB per file at the defaults) regardless of element count,
    * so build cost is one streaming aggregate with no eviction pass and
    * probe cost is a bloom membership scan of the index table. False
    * positives only ever read extra files — the residual join keeps
    * results exact. */
  def addExplodedBloomIndex(
      alias: String, arraySqlExpr: String, fpr: Double = 0.01,
      expectedItems: Long = 1000000L): Index = {
    require(expectedItems > 0, "expectedItems must be positive")
    addDef(IndexDef(alias, "exploded_bloom", expr = Some(arraySqlExpr),
      fpr = Some(fpr), expectedItems = Some(expectedItems)))
  }

  /** Statistics-only HyperLogLog index: one Datasketches HLL sketch per
    * file over `column` (~`2^lgConfigK` bytes each; lgConfigK 12 ≈ 1.6%
    * relative standard error). Sketches UNION across any file subset, so
    * [[distinctEstimate]] answers "how many distinct keys in these
    * files / this table" from index rows alone — the broadcast-vs-
    * shuffle and pre-aggregation planning input — without touching data.
    * Cannot answer membership probes (query() on this column throws);
    * deleteFiles just drops rows and the union re-derives. */
  def addHllIndex(column: String, lgConfigK: Int = 12): Index = {
    requireTopLevel(column)
    require(lgConfigK >= 4 && lgConfigK <= 21,
      "lgConfigK must be in [4, 21] (Datasketches HLL bound)")
    addDef(IndexDef(column, "hll", lgConfigK = Some(lgConfigK)))
  }

  /** Reference-shaped convenience: index one FIELD of an array-of-struct
    * column, joinable via `asColumn` (reference: Index.scala:324-370
    * addExplodedFieldIndex("items", "sku", "item_sku")). Delegates to the
    * general expression form. */
  def addExplodedFieldIndex(arrayColumn: String, fieldPath: String, asColumn: String): Index = {
    requireTopLevel(arrayColumn)
    addExplodedIndex(asColumn, s"transform($arrayColumn, x -> x.$fieldPath)")
  }

  /** Names of all indexed (joinable) columns (reference: Index.scala:372). */
  def indexes: Set[String] = meta.indexes.map(_.column).toSet

  private def requireTopLevel(column: String): Unit = {
    require(meta.schema.fieldNames.contains(column),
      s"Column '$column' is not a top-level column of index '$name' schema " +
        "(indexed value columns must be top-level; computed/exploded indexes " +
        "cover expressions — reference rule IndexBuildOperations.scala:92-97)")
  }

  // ---- file ledger ---------------------------------------------------------

  /** Register files. The replaced keys are the qualified paths, so the
    * ledger rewrite needs no `distinct` over them (past
    * `spark.graft.buildBatchMaxFiles` paths it drops them with a broadcast
    * anti-join); it also folds the tombstones of earlier `deleteFiles`
    * calls. */
  def addFile(paths: String*): Index = synchronized {
    val normalized = paths.map(p => FileReader.qualify(spark, p)).distinct
    import spark.implicits._
    val df = normalized.toDF("filename")
      .withColumn("added_at", current_timestamp())
    store.fileListLock.withLock {
      store.fileList.upsertLiteralKeys(df, "filename", normalized)
    }
    this
  }

  def hasFile(path: String): Boolean = {
    val p = FileReader.qualify(spark, path)
    store.fileList.read().exists(df =>
      !df.where(col("filename") === p).isEmpty)
  }

  def files: Seq[String] = store.registeredFiles

  /** Files registered but not yet indexed (left-anti on filename against
    * the main table, whose committed batch segments count: a build that
    * crashed after batch i does not re-process batches 1..i; reference:
    * Index.scala:166-183). */
  def unindexedFiles: Seq[String] = {
    store.fileList.read() match {
      case None => Seq.empty
      case Some(fl) =>
        val pending = store.indexTable.read() match {
          case Some(idx) => fl.join(idx.select("filename"), Seq("filename"), "left_anti")
          case None      => fl
        }
        pending.select("filename").collect().map(_.getString(0)).toSeq
    }
  }

  /** De-register files and purge their index rows everywhere (ledger, main,
    * stats and every large table) — reference: Index.scala:532-616. Each
    * table takes a manifest-only tombstone: no parquet is written and no
    * Spark job runs. The next `addFile` (ledger), `update` (main and stats
    * tables) or `compact` folds them; `spark.graft.maxOverflowSegments`
    * bounds the tombstones that repeated deletes stack up in between. A
    * delete of more than `spark.graft.buildBatchMaxFiles` paths rewrites
    * each table at once instead, so no read filters by a bulk key list. */
  def deleteFiles(paths: String*): Index = synchronized {
    val qualified = paths.map(p => FileReader.qualify(spark, p))
    store.updateLock.withLock {
      store.fileListLock.withLock(store.fileList.deleteLiteralKeys("filename", qualified))
      store.indexTable.deleteLiteralKeys("filename", qualified)
      store.statsTable.deleteLiteralKeys("filename", qualified)
      store.largeColumns.foreach(c =>
        store.largeTable(c).deleteLiteralKeys("filename", qualified))
    }
    this
  }

  // ---- build ---------------------------------------------------------------

  /** Incremental build under the distributed update lock: column backfill →
    * batched build of unindexed files (each batch one atomic segment on the
    * index table, the last batch folding them; readers see whole batches) →
    * auto-compaction (reference: Index.scala:635-693). */
  def update(): Index = synchronized {
    store.updateLock.withLock {
      backfillNewColumns()
      val pending = unindexedFiles
      IndexBuild.update(store, meta, pending)
      maybeAutoCompact()
    }
    this
  }

  /** If an index column was added after some files were already indexed,
    * recompute ONLY the new columns for those files and merge them into the
    * existing rows (reference: Index.scala:194-212,648-652). */
  private def backfillNewColumns(): Unit = {
    store.indexTable.read().foreach { idx =>
      val have = idx.columns.toSet
      val missing = meta.indexes.filterNot(d => have.contains(d.storageColumn))
      if (missing.nonEmpty) {
        val indexedFiles = idx.select("filename").collect().map(_.getString(0)).toSeq
        IndexBuild.backfillColumns(store, meta, missing, indexedFiles)
      }
    }
  }

  /** Compact the main, stats, large and filelist tables into few files,
    * folding their segments and tombstones (the OPTIMIZE analogue;
    * reference: IndexBuildOperations.scala:1197-1294). */
  def compact(): Index = synchronized {
    store.updateLock.withLock {
      compactTables()
      store.writeMetadata(meta)
    }
    this
  }

  /** The tables [[compact]] and auto-compaction fold, and the reset of the
    * auto-compaction count. The caller holds the update lock. */
  private def compactTables(): Unit = {
    store.indexTable.compact()
    store.statsTable.compact()
    store.largeColumns.foreach(c => store.largeTable(c).compact())
    store.fileListLock.withLock(store.fileList.compact())
    meta = meta.copy(consolidationsSinceCompact = 0)
  }

  /** Drop snapshot versions beyond the retention window now, in every
    * table [[compact]] folds (index, stats, overflow and file list). */
  def vacuum(keep: Int = 1): Index = {
    store.indexTable.vacuum(keep)
    store.statsTable.vacuum(keep)
    store.largeColumns.foreach(c => store.largeTable(c).vacuum(keep))
    store.fileList.vacuum(keep)
    this
  }

  /** Time-based vacuum (reference: Index.scala:761
    * `vacuum(retentionHours: Int = 168)`): drop superseded snapshots older
    * than the horizon, keeping EVERY snapshot a reader could have resolved
    * within the last `retentionHours` — wall-clock retention for long
    * concurrent readers, vs the snapshot-count retention of [[vacuum]]
    * (distinct name only because the two Int overloads would erase to the
    * same signature). */
  def vacuumRetention(retentionHours: Int = 168): Index = {
    store.indexTable.vacuumOlderThan(retentionHours)
    store.statsTable.vacuumOlderThan(retentionHours)
    store.largeColumns.foreach(c => store.largeTable(c).vacuumOlderThan(retentionHours))
    store.fileList.vacuumOlderThan(retentionHours)
    this
  }

  private def maybeAutoCompact(): Unit = {
    val threshold = GraftConf.autoCompactThreshold(spark)
    if (threshold <= 0) return
    meta = meta.copy(consolidationsSinceCompact = meta.consolidationsSinceCompact + 1)
    if (meta.consolidationsSinceCompact >= threshold) compactTables()
    store.writeMetadata(meta)
  }

  // ---- query ---------------------------------------------------------------

  /** Restrict the columns read from data files (projection pushdown,
    * user-driven — reference: Index.scala:74-94). Join columns are always
    * force-included. */
  def select(cols: String*): Index = {
    val readable = IndexJoin.readableColumns(meta)
    cols.foreach(c => require(readable.contains(c), s"Unknown column '$c'"))
    new Index(spark, name, meta, Some(cols))
  }

  /** Which files can possibly contain any of these values per column?
    * AND semantics across columns. */
  def locateFiles(values: Map[String, Seq[Any]]): Seq[String] =
    IndexProbe.collectFiles(IndexProbe.candidateFiles(store, meta,
      values.map { case (c, vs) => c -> IndexProbe.Values(vs) }))

  /** Same, driven by the distinct values of a probe DataFrame's columns. */
  def locateFilesFromDataFrame(df: DataFrame, columns: Seq[String]): Seq[String] =
    IndexProbe.collectFiles(IndexProbe.candidateFiles(store, meta,
      columns.map(c => c -> IndexProbe.Frame(df.select(col(c)))).toMap))

  /** Read specific files through the full read path (computed cols applied,
    * selection honored). */
  def readFiles(paths: Seq[String], explodedAliases: Set[String] = Set.empty): DataFrame =
    FileReader.readFiles(spark, meta, paths, explodedAliases, selection)

  /** Read ALL registered files; `latestOnly` applies every temporal index's
    * latest-version semantics (the SQL-catalog read semantic, reference:
    * catalog/AriadneScan.scala:279-283). */
  def read(latestOnly: Boolean = false): DataFrame = {
    val df = readFiles(files)
    if (latestOnly)
      IndexJoin.applyTemporalDedup(df, meta,
        meta.indexes.filter(_.indexType == "temporal").map(_.column).toSet)
    else df
  }

  /** Index-accelerated phrase search over a window-hash index ("find
    * every document containing this quote, reading only candidate
    * files"): the phrase's own sliding-window hashes (same expression
    * the index was built with) probe the exploded/exploded-bloom index
    * on `column`, the candidate files are read, and a token-aligned
    * residual filter keeps exactly the rows whose lowercased token
    * sequence contains the phrase's — sound, because a document
    * containing the phrase necessarily contains every one of its
    * windows, so pruning can only over-approximate. Phrases shorter
    * than `windowTokens` (the grain the index was built at) carry no
    * complete window and fall back to a full read with the same
    * residual filter. Token-aligned means whole space-split tokens:
    * `" " + lower(text) + " "` contains `" " + lower(phrase) + " "` —
    * the exact contract the DuckDB oracle replays. */
  def searchText(
      phrase: String,
      column: String = "win_hash",
      textCol: String = "text",
      windowTokens: Int = 10): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val ix = meta.indexFor(column).getOrElse(
      throw new ColumnNotFoundException(s"Column '$column' is not indexed"))
    require(ix.isExplodedShaped,
      s"Column '$column' must carry an exploded/exploded_bloom " +
        "window-hash index")
    // the probe's window grain and text column MUST match the expression
    // the index was built with — a grain mismatch hashes windows that can
    // never exist in the index and would return silently-empty results
    // instead of the documents that contain the phrase
    val wantExpr =
      graft.operators.Dedup.windowHashSqlExpr(textCol, windowTokens)
    require(ix.expr.contains(wantExpr),
      s"Column '$column' was built with a different window expression " +
        s"than windowHashSqlExpr('$textCol', $windowTokens) — pass the " +
        "windowTokens/textCol the index was created with " +
        s"(stored: ${ix.expr.getOrElse("<none>")})")
    // residual lowercases IN-PLAN on both sides (UTF8String.toLowerCase,
    // the same implementation the index build's lower() used) — JVM
    // String.toLowerCase would diverge on locale-sensitive characters
    val matchExpr = contains(
      concat(lit(" "), lower(col(textCol)), lit(" ")),
      concat(lit(" "), lower(lit(phrase)), lit(" ")))
    val nToks = phrase.split(" ", -1).length
    val located =
      if (nToks < windowTokens) files
      else {
        import spark.implicits._
        // the phrase's windows: bounded by phrase length, one tiny job
        val hashes = spark.range(1)
          .select(explode(graft.operators.Dedup.windowHashes(
            lit(phrase), windowTokens, distinctWithinDoc = true)).as("h"))
          .as[Long].collect().toSeq
        if (hashes.isEmpty) files
        // ALL-values candidates: a containing document holds EVERY phrase
        // window, so per-file match-count/bloom-forall semantics prune
        // strictly tighter than the any-match locateFiles set (a phrase
        // sharing one common window with many files would otherwise drag
        // them all into the residual read)
        else graft.operators.IndexProbe.allValuesCandidates(
          store, meta, ix, hashes)
      }
    readFiles(located).where(matchExpr)
  }

  /** Pruned read for literal predicates: locate files for `values`, read
    * them, and apply the residual row-level filter so pruning is invisible
    * (what the SQL scan path does — reference: catalog/AriadneScan.scala:157-197). */
  def query(values: Map[String, Seq[Any]]): DataFrame = {
    val located = locateFiles(values)
    val aliases = meta.indexes
      .filter(ix => ix.isExplodedShaped && values.contains(ix.column))
      .map(_.column).toSet
    var df = readFiles(located, aliases)
    IndexJoin.applyTemporalDedup(
      values.foldLeft(df) { case (d, (c, vs)) => d.where(col(c).isin(vs: _*)) },
      meta, values.keySet)
  }

  /** Index-accelerated join, index side left (reference: Index.scala:960). */
  def join(df: DataFrame, usingColumns: Seq[String], joinType: String = "inner"): DataFrame =
    IndexJoin.join(store, meta, df, usingColumns, joinType, selection)

  /** Point-in-time join against a temporal index: for each probe row,
    * attach the indexed table's row with the latest `tsColumn` at or before
    * the probe row's `probeTsCol` (per key). Files are pruned by KEY
    * containment only — never by the index's max-timestamps, because the
    * as-of winner at an old probe time can live in any file holding the key
    * (the latest-file-only restriction of normal temporal probes would be
    * wrong here). Left-outer semantics: every probe row survives. */
  def asOfJoin(
      df: DataFrame,
      keyColumn: String,
      probeTsCol: String,
      valueCols: Seq[String],
      rightTsAlias: String = "",
      direction: String = "backward",
      tolerance: Option[Long] = None,
      bucketWidth: Option[Long] = None,
      timePrune: Boolean = false): DataFrame = {
    val ix = meta.indexFor(keyColumn).getOrElse(
      throw new ColumnNotFoundException(s"Column '$keyColumn' is not indexed"))
    require(ix.indexType == "temporal",
      s"asOfJoin needs a temporal index on '$keyColumn' (found ${ix.indexType})")
    var candidates =
      IndexProbe.temporalKeyCandidates(store, ix, df.select(col(keyColumn)))
    // Extra time pruning when the ts column also carries a range index:
    // backward as-of only ever matches rows AT OR BEFORE a probe time, so a
    // file whose min ts exceeds EVERY probe ts contributes nothing
    // (symmetrically max-vs-min for forward). The bound costs one EXTRA
    // evaluation of the probe plan (`agg().first()` below, on top of the
    // key probe and the join itself) — worth it when probes cluster in a
    // narrow time window, pure overhead for an expensive probe plan with
    // near-full time coverage. So: AUTO-enabled when the probe is a local
    // relation (literal probe rows — re-evaluating costs nothing, keeping
    // the r3 always-on behavior for exactly the callers it helped, per r4
    // advice); `timePrune = true` forces it for expensive probe plans whose
    // caller knows the window is narrow. The bound over-approximates per
    // row, which is the only thing pruning may do.
    if (timePrune || IndexProbe.localRows(df).isDefined)
      meta.indexFor(ix.tsColumn.get).filter(_.indexType == "range").foreach { rix =>
      val bound = df.agg(
        if (direction == "backward") max(col(probeTsCol)) else min(col(probeTsCol)))
        .first().get(0)
      if (bound != null) {
        val timeOk = store.indexTable.read().map { indexDf =>
          val keep =
            if (direction == "backward")
              col(s"${rix.storageColumn}.min") <= lit(bound)
            else col(s"${rix.storageColumn}.max") >= lit(bound)
          // a null range entry (not yet backfilled) must stay a candidate
          indexDf.where(keep || col(rix.storageColumn).isNull).select("filename")
        }
        timeOk.foreach(t => candidates = candidates.join(t, Seq("filename"), "left_semi"))
      }
    }
    val files = IndexProbe.collectFiles(candidates)
    val data = FileReader.readFiles(spark, meta, files, Set.empty, selection)
    bucketWidth match {
      // skew-safe two-level plan for hot keys (bucketWidth in µs for
      // timestamp ts columns, own units for numeric)
      case Some(w) => AsOfJoin.asOfBucketed(df, data, Seq(keyColumn),
        probeTsCol, ix.tsColumn.get, valueCols, w, rightTsAlias, tolerance,
        direction)
      case None => AsOfJoin.asOf(df, data, Seq(keyColumn), probeTsCol,
        ix.tsColumn.get, valueCols, rightTsAlias, direction, tolerance)
    }
  }

  /** Multi-window pruned read: rows of `column` falling in ANY of the
    * closed `[lo, hi]` spans, reading only files whose range index
    * overlaps some span — the backfill access pattern ("these three days,
    * those two key bands") the single-window [[queryRange]] can't prune
    * precisely. Residual OR-of-BETWEEN filter keeps pruning invisible. */
  def querySpans(column: String, spans: Seq[(Any, Any)]): DataFrame = {
    require(spans.nonEmpty, "at least one span required")
    val ix = meta.indexFor(column).getOrElse(
      throw new ColumnNotFoundException(s"Column '$column' is not indexed"))
    require(ix.indexType == "range",
      s"querySpans needs a range index on '$column' (found ${ix.indexType})")
    val spansDf = spans.map { case (l, h) =>
      spark.range(1).select(lit(l).as("lo"), lit(h).as("hi"))
    }.reduce(_.unionByName(_))
    val files = IndexProbe.collectFiles(
      IndexProbe.rangeSpanCandidates(store, ix, spansDf))
    val df = FileReader.readFiles(spark, meta, files, Set.empty, selection)
    df.where(spans.map { case (l, h) => col(column) >= lit(l) && col(column) <= lit(h) }
      .reduce(_ || _))
  }

  /** Interval-containment join against a range index: read only files whose
    * [min,max] on `ptColumn` overlaps at least one probed span, then run the
    * binned equi-join ([[graft.operators.IntervalJoin]]). Inner-join
    * semantics, so range pruning (an over-approximation) is always safe.
    * `spans` must carry `loCol`/`hiCol` plus `keyCols`/`valueCols`. */
  def intervalJoin(
      spans: DataFrame,
      ptColumn: String,
      keyCols: Seq[String],
      loCol: String,
      hiCol: String,
      binWidth: Long,
      valueCols: Seq[String]): DataFrame = {
    val ix = meta.indexFor(ptColumn).getOrElse(
      throw new ColumnNotFoundException(s"Column '$ptColumn' is not indexed"))
    require(ix.indexType == "range",
      s"intervalJoin needs a range index on '$ptColumn' (found ${ix.indexType})")
    val files = IndexProbe.collectFiles(
      IndexProbe.rangeSpanCandidates(store, ix,
        spans.select(col(loCol), col(hiCol))))
    val data = FileReader.readFiles(spark, meta, files, Set.empty, selection)
    IntervalJoin.joinPointsToIntervals(data, spans, keyCols,
      ptColumn, loCol, hiCol, binWidth, valueCols)
  }

  /** Per-column index statistics, INCLUDING the large-index overflow
    * contribution (reference: IndexQueryOperations.scala:911-972; r1 gap). */
  def stats(): DataFrame = {
    val idx = store.indexTable.read().getOrElse(
      return spark.emptyDataFrame)
    val arrayCols = meta.indexes.filter(_.isArrayShaped).map(_.column)
      .filter(idx.columns.contains)
    val frames = arrayCols.map { c =>
      val largeCounts: DataFrame = store.largeTable(c).read() match {
        case Some(large) =>
          large.groupBy("filename").agg(count(lit(1)).as("__n"))
        case None =>
          spark.emptyDataFrame
            .withColumn("filename", lit(null).cast("string"))
            .withColumn("__n", lit(null).cast("long"))
      }
      val sizes = idx.select(col("filename"), col(c))
        .join(largeCounts, Seq("filename"), "left_outer")
        .select(coalesce(col("__n"), size(col(c)).cast("long")).as("__sz"))
        .where(col("__sz").isNotNull && col("__sz") >= 0)
      sizes.agg(
        lit(c).as("column"),
        count(lit(1)).as("files_with_values"),
        min(col("__sz")).as("min_values"),
        max(col("__sz")).as("max_values"),
        avg(col("__sz")).as("avg_values"),
        expr("percentile_approx(__sz, 0.5)").as("median_values"),
        stddev(col("__sz")).as("stddev_values"))
    }
    if (frames.isEmpty) spark.emptyDataFrame
    else frames.reduce(_.unionByName(_))
  }

  /** Distinct-count estimate for an hll-indexed column over the whole
    * table or a file subset — the per-file sketches union in one
    * index-table aggregate, no data scan (Datasketches HLL: relative
    * standard error ≈ 1.04/sqrt(2^lgConfigK), ~1.6% at the default 12).
    * Files registered but not yet built (null sketch) contribute
    * nothing — run `update()` first for a complete answer. Returns 0
    * for an empty index or an empty subset. */
  def distinctEstimate(column: String, files: Option[Seq[String]] = None): Long = {
    val ix = meta.indexFor(column).getOrElse(
      throw new ColumnNotFoundException(s"Column '$column' is not indexed"))
    require(ix.indexType == "hll", s"Column '$column' has no hll index")
    store.indexTable.read() match {
      case None => 0L
      case Some(idx) =>
        if (!idx.columns.contains(ix.storageColumn)) return 0L
        val scoped = files match {
          case Some(fs) =>
            val qualified = fs.map(p => graft.sources.FileReader.qualify(spark, p))
            idx.where(col("filename").isin(qualified: _*))
          case None => idx
        }
        val row = scoped.where(col(ix.storageColumn).isNotNull)
          .agg(call_function("hll_sketch_estimate",
            call_function("hll_union_agg", col(ix.storageColumn)))
            .as("__est"))
          .first()
        if (row.isNullAt(0)) 0L else row.getLong(0)
    }
  }

  /** Which files can contain values in [lo, hi] on a range-indexed column,
    * as a pruned + residual-filtered read (BETWEEN-style range scan — goes
    * beyond the reference's value-list probes). */
  def queryRange(column: String, lo: Any, hi: Any): DataFrame = {
    val ix = meta.indexFor(column).getOrElse(
      throw new ColumnNotFoundException(s"Column '$column' is not indexed"))
    require(ix.indexType == "range", s"Column '$column' has no range index")
    val files = IndexProbe.collectFiles(
      IndexProbe.rangeWindowCandidates(store, ix, lo, hi))
    if (GraftConf.metricsEnabled(spark)) IndexJoin.recordMetrics(store, files)
    readFiles(files).where(col(column) >= lit(lo) && col(column) <= lit(hi))
  }

  /** Materialize this index's probe state — the serving-process warm-up.
    * Index tables are version-cached on first read
    * (`spark.graft.cacheIndexTables`), but the FIRST probe after a connect
    * pays the full cold scan: measured 7.8 s cold vs 2.0 s warm for a 2-hop
    * egonet whose four locates scan a ×300 bloom index (BENCH_SCALE
    * scale_r13_ego_serve_crossover). A serving process calls this once at
    * startup so its first query doesn't eat that cost. One read per table
    * (main + each column's overflow): a snapshot within
    * `spark.sql.autoBroadcastJoinThreshold` is collected to the driver by
    * the read itself, a larger one is Spark-cached and filled by one count.
    * Idempotent; a no-op before the first `update()`. */
  def warmProbeCache(): Unit =
    (store.indexTable +: meta.indexes.map(ix => store.largeTable(ix.column)))
      .flatMap(_.read())
      .filter(IndexProbe.localRows(_).isEmpty)
      .foreach(_.count())

  /** Human-readable diagnostics (reference: IndexQueryOperations.scala:975-1002). */
  def printMetadata(): Unit = {
    println(s"Index: ${meta.name} (format=${meta.format}, " +
      s"metadataVersion=${meta.metadataVersion}, storageVersion=${meta.storageVersion})")
    println(s"Schema: ${meta.schema.simpleString}")
    meta.indexes.foreach { d =>
      val extra = (d.expr.map(e => s"expr=$e") ++ d.tsColumn.map(t => s"ts=$t") ++
        d.fpr.map(f => s"fpr=$f")).mkString(", ")
      println(s"  ${d.indexType} index on ${d.column}" +
        (if (extra.nonEmpty) s" ($extra)" else ""))
    }
  }

  def printIndex(numRows: Int = 20): Unit =
    store.indexTable.read() match {
      case Some(df) => df.show(numRows, truncate = 40)
      case None     => println(s"Index '${meta.name}' has no index table yet")
    }

  def pruningMetrics: Option[IndexJoin.PruningMetrics] = IndexJoin.lastMetrics
}

object Index {

  /** Create or reconnect. On reconnect, schema + format must match exactly
    * unless `allowSchemaMismatch` (reference: Index.scala:1229-1253). */
  def apply(
      spark: SparkSession,
      name: String,
      schema: StructType,
      format: String = "parquet",
      readOptions: Map[String, String] = Map.empty,
      allowSchemaMismatch: Boolean = false): Index = {
    FileReader.requireSupported(format)
    val store = new IndexStore(spark, name)
    store.readMetadata().map(m =>
      if (m.storageVersion < StorageMigrations.CurrentVersion)
        store.updateLock.withLock(StorageMigrations.ensureCurrent(store, m))
      else m) match {
      case Some(existing) =>
        if (existing.format != format)
          throw new FormatMismatchException(
            s"Format mismatch for index '$name': stored ${existing.format}, got $format")
        if (!allowSchemaMismatch && existing.schema != schema)
          throw new SchemaMismatchException(
            s"Schema mismatch for index '$name' (pass allowSchemaMismatch=true to evolve)")
        val updated =
          if (existing.schema != schema) {
            // evolution: every indexed column must survive in the new schema
            val newCols = schema.fieldNames.toSet
            existing.indexes.filter(ix => ix.indexType == "regular" ||
              ix.indexType == "bloom" || ix.indexType == "range" ||
              ix.indexType == "temporal" || ix.indexType == "hll").foreach { ix =>
              require(newCols.contains(ix.column),
                s"Indexed column '${ix.column}' missing from new schema")
            }
            existing.copy(schemaJson = schema.json)
          } else existing
        if (updated != existing) store.writeMetadata(updated)
        val idx = new Index(spark, name, updated, None)
        // serving-process startup: pay the index-table scan here, once,
        // instead of inside the first latency-sensitive locate (measured
        // 7.8 s cold vs 2.0 s warm on the x300 bloom index)
        if (GraftConf.warmOnConnect(spark)) idx.warmProbeCache()
        idx
      case None =>
        val m = IndexMetadata(name, format, schema.json, readOptions,
          storageVersion = StorageMigrations.CurrentVersion)
        store.writeMetadata(m)
        new Index(spark, name, m, None)
    }
  }

  /** Reconnect to an existing index without re-stating the schema. */
  def connect(spark: SparkSession, name: String): Index = {
    val store = new IndexStore(spark, name)
    val read = store.readMetadata().getOrElse(
      throw new IndexNotFoundException(s"Index '$name' does not exist"))
    val m = if (read.storageVersion < StorageMigrations.CurrentVersion)
      store.updateLock.withLock(StorageMigrations.ensureCurrent(store, read))
    else read
    new Index(spark, name, m, None)
  }

  def exists(spark: SparkSession, name: String): Boolean =
    new IndexStore(spark, name).readMetadata().isDefined

  def remove(spark: SparkSession, name: String): Unit =
    new IndexStore(spark, name).remove()

  def list(spark: SparkSession): Seq[String] = IndexStore.list(spark)

  /** Enrichment-direction joins: `df.join(index, cols, joinType)`
    * (reference implicit: Index.scala:1296-1323). */
  implicit class DataFrameOps(private val df: DataFrame) extends AnyVal {
    def join(index: Index, usingColumns: Seq[String], joinType: String): DataFrame =
      IndexJoin.joinReversed(
        new IndexStore(index.spark, index.name), index.metadata,
        df, usingColumns, joinType, None)
    def join(index: Index, usingColumns: Seq[String]): DataFrame =
      join(index, usingColumns, "inner")
  }
}
