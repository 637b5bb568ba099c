package graft.operators

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftConf
import graft.functions.Blooms
import graft.model.{IndexDef, IndexMetadata}
import graft.sources.FileReader
import graft.store.{IndexStore, SnapshotTable}

/** Incremental index build: analyze → bin-pack into batches → per-batch
  * aggregation, each batch one atomic segment append on the index and stats
  * tables → the last batch's upsert folds the segments into one directory.
  *
  * Mirrors the reference's scale machinery (analyze:
  * IndexBuildOperations.scala:686-733, batcher: :747-808, staged append +
  * consolidation: :973-1003,1319-1373) with Spark-first changes:
  *  - distinct counts estimated with `approx_count_distinct` (HLL) instead
  *    of exact `countDistinct` — one cheap pass, no extra shuffle precision
  *  - no staging table: a batch is a segment of the index table itself
  *    (`SnapshotTable.appendReplacing`, last writer wins per file), so the
  *    commit that makes a batch crash-safe is the one readers see
  *  - bloom aggregation buffers sized from the analysis estimate rather
  *    than a fixed worst-case (the r1 memory-blowup finding)
  *
  * Index-row shapes are unchanged (SURVEY §1.3): regular/computed/exploded
  * → `collect_set` array; bloom → binary; range → struct(min,max); temporal
  * → array<struct(value,max_ts)>; `file_size` from native `_metadata`.
  */
object IndexBuild extends Logging {
  private val F = FileReader.FilenameCol

  /** Storage column of a membership index's HLL distinct-stats sidecar
    * (the `auto_bloom_<col>` naming pattern). Absent on stores built
    * with `spark.graft.statsSidecars=false` or by older versions —
    * probes then keep the fixed order. */
  def statsColumn(column: String): String = s"hll_stats_$column"

  /** Column holding the auto-bloom that large-index eviction leaves for an
    * array index whose file array moved to the overflow table (the array
    * entry itself becomes null). */
  def autoBloomColumn(column: String): String = s"auto_bloom_$column"

  final case class FileAnalysis(filename: String, maxDistinct: Long)

  /** Entry point: build all `files` in bin-packed batches. Every batch but
    * the last is one segment append on the index and stats tables
    * (O(batch) I/O; its manifest claims the batch's files); the last
    * batch's upsert folds those segments and any `deleteFiles` tombstones
    * into one directory. Each write is an atomic pointer swap, so readers
    * see whole batches, never part of one. A crash after batch i leaves
    * batches 1..i committed: `Index.unindexedFiles` no longer lists their
    * files, and the next build's last upsert folds them. A long build also
    * folds at `spark.graft.maxOverflowSegments` segments. */
  def update(store: IndexStore, meta: IndexMetadata, files: Seq[String]): Unit = {
    if (files.isEmpty) return
    val spark = store.spark
    val batches = planBatches(store, meta, files)
    logInfo(s"index ${meta.name}: building ${files.size} files in ${batches.size} batches")
    batches.zipWithIndex.foreach { case ((batch, estDistinct), i) =>
      val (built, cached) = buildBatchTracked(store, meta, batch, estDistinct)
      // one index row per file: the replaced keys are exactly the batch's
      // files, so no write evaluates the build plan again for its key set
      val keys = batch.map(p => FileReader.qualify(spark, p))
      val write: (SnapshotTable, DataFrame) => Unit =
        if (i == batches.size - 1) _.upsertLiteralKeys(_, "filename", keys)
        else _.appendReplacing(_, "filename", keys)
      val (main, statsOpt, pinned) = splitStats(built)
      // stats first: the index write commits the batch (it drops the files
      // from `unindexedFiles`), so a committed batch always has its stats
      statsOpt.foreach(write(store.statsTable, _))
      write(store.indexTable, main)
      pinned.foreach(_.unpersist(blocking = true))
      // Drop the build-scoped cache NOW: leaking it across builds both
      // hoards executor memory and — worse — serves stale file content if
      // the same path is ever legitimately re-indexed (streaming replay).
      cached.foreach(_.unpersist(false))
    }
  }

  /** Split a built batch frame into the hot index rows and the advisory
    * HLL stats sidecars ([[statsColumn]]): the stats are planning
    * metadata for the multi-column probe orderer and must not widen the
    * table every probe scans and Spark-caches (measured: +40 % on
    * single-column probe latency when they rode the main table). The
    * built plan is pinned for the duration of the two writes so the
    * data is scanned ONCE, not once per write; the caller unpersists
    * the returned frame. */
  private def splitStats(
      built: DataFrame): (DataFrame, Option[DataFrame], Option[DataFrame]) = {
    val statsCols = built.columns.filter(_.startsWith("hll_stats_")).toSeq
    if (statsCols.isEmpty) (built, None, None)
    else {
      val pinned = built.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (pinned.drop(statsCols: _*),
        Some(pinned.select(("filename" +: statsCols).map(col): _*)),
        Some(pinned))
    }
  }

  /** Parquet footer record count — metadata only, no data scan, no Spark
    * job. None for non-parquet or unreadable footers. */
  private def parquetRowCount(
      store: IndexStore, path: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, graft.store.Fs.hadoopConf(store.spark))
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Some(r.getRecordCount) finally r.close()
    } catch { case _: Exception => None }

  /** Analyze pending files and greedily bin-pack: files sorted by estimate
    * desc, packed until the batch's summed estimate exceeds the budget or
    * the file cap; oversized files get their own batch (reference's
    * analyze+pack: IndexBuildOperations.scala:686-733,747-808). Returns
    * (batch files, max single-file estimate in batch).
    *
    * Estimation is METADATA-ONLY — no data scan: per-file distinct counts
    * are bounded above by row counts, which parquet footers give for free
    * (CSV/JSON fall back to bytes/32). The reference runs an exact
    * countDistinct pass over every pending file before building — a full
    * extra read of the data per update; an upper bound merely packs
    * conservatively (never too-large batches), and bloom sizing from it
    * can only over-provision. Exploded indexes multiply the bound (array
    * fan-out) by a fixed slack factor. */
  def planBatches(
      store: IndexStore,
      meta: IndexMetadata,
      files: Seq[String]): Seq[(Seq[String], Long)] = {
    val spark = store.spark
    val budget = GraftConf.buildBatchDistinctBudget(spark)
    val maxFiles = GraftConf.buildBatchMaxFiles(spark)
    val arrayDefs = meta.indexes.filter(d => d.isArrayShaped || d.indexType == "bloom")
    val explodedSlack = if (meta.indexes.exists(_.isExplodedShaped)) 8L else 1L

    // Analyzed even for a single file: the estimate also decides whether the
    // large-eviction size check can be skipped (see buildBatchTracked), which
    // must never be decided from a placeholder.
    val analyses: Seq[FileAnalysis] =
      if (arrayDefs.isEmpty) files.map(FileAnalysis(_, 1L))
      else files.map { f =>
        val rows = parquetRowCount(store, f).getOrElse(
          math.max(graft.store.Fs.fileSize(spark, f) / 32L, 1L))
        FileAnalysis(f, math.max(rows, 1L) * explodedSlack)
      }

    val sorted = analyses.sortBy(-_.maxDistinct)
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Long)]
    var cur = scala.collection.mutable.ArrayBuffer.empty[FileAnalysis]
    var curSum = 0L
    def flush(): Unit = if (cur.nonEmpty) {
      batches += ((cur.map(_.filename).toSeq, cur.map(_.maxDistinct).max))
      cur = scala.collection.mutable.ArrayBuffer.empty[FileAnalysis]
      curSum = 0L
    }
    sorted.foreach { fa =>
      if (cur.nonEmpty && (curSum + fa.maxDistinct > budget || cur.size >= maxFiles))
        flush()
      cur += fa
      curSum += fa.maxDistinct
    }
    flush()
    batches.toSeq
  }

  /** Build index rows for one batch of files (one row per file). The default
    * estimate is conservative (worst case) so direct callers keep full
    * large-eviction checking; planBatches-driven callers pass the real
    * per-file bound. */
  def buildBatch(
      store: IndexStore,
      meta: IndexMetadata,
      files: Seq[String],
      estDistinct: Long = Long.MaxValue): DataFrame =
    buildBatchTracked(store, meta, files, estDistinct)._1

  /** buildBatch plus the frames it cached — the caller must unpersist them
    * once the batch is written. */
  private def buildBatchTracked(
      store: IndexStore,
      meta: IndexMetadata,
      files: Seq[String],
      estDistinct: Long = Long.MaxValue): (DataFrame, Seq[DataFrame]) = {
    val spark = store.spark
    val limit = GraftConf.largeIndexLimit(spark)
    // bloom buffers sized from the analysis estimate (x2 slack), not the
    // global worst case — keeps partial-agg buffers proportional to data
    val estTwice = if (estDistinct > Long.MaxValue / 2) Long.MaxValue else 2 * estDistinct
    val bloomItems = math.min(math.max(estTwice, 1024L), math.max(limit, 1024L))

    val tagged = FileReader.readTagged(spark, meta, files)
    val base = FileReader.applyComputed(tagged, meta)

    val scalarDefs = meta.indexes.filter(ix =>
      ix.indexType == "regular" || ix.indexType == "computed" ||
        ix.indexType == "bloom" || ix.indexType == "range" ||
        ix.indexType == "hll")

    // HLL distinct-stats sidecar per membership index (the auto-bloom
    // sidecar pattern): one fixed-size sketch per (file, column) riding
    // the aggregate pass the index pays anyway. Feeds cost-aware probe
    // ordering (IndexProbe) and survives large-index eviction — a
    // sketch summarizes the FILE's values wherever the array rows live.
    val sidecars = GraftConf.statsSidecars(spark)
    // cast-to-string universality (the bloom-agg trick): hll_sketch_agg
    // accepts int/long/string/binary only, but any column type's
    // distinct count survives a string rendering
    def statsAgg(values: Column, column: String): Seq[Column] =
      if (!sidecars) Nil
      else Seq(call_function("hll_sketch_agg", values.cast("string"),
        lit(12)).as(statsColumn(column)))

    val aggCols: Seq[Column] =
      (first(col(FileReader.FileSizeCol)).as("file_size") +:
        scalarDefs.map {
          case ix if ix.indexType == "bloom" =>
            Blooms.bloomAgg(col(ix.column).cast("string"), bloomItems,
              ix.fpr.getOrElse(0.01)).as(ix.storageColumn)
          case ix if ix.indexType == "range" =>
            struct(min(col(ix.column)).as("min"), max(col(ix.column)).as("max"))
              .as(ix.storageColumn)
          case ix if ix.indexType == "hll" =>
            // Datasketches HLL (Spark-native aggregate): fixed-size
            // per-file sketch, mergeable at estimate time across any
            // file subset
            call_function("hll_sketch_agg", col(ix.column),
              lit(ix.lgConfigK.getOrElse(12))).as(ix.storageColumn)
          case ix =>
            collect_set(col(ix.column)).as(ix.storageColumn)
        }) ++ scalarDefs.filter(_.indexType != "hll")
          .flatMap(ix => statsAgg(col(ix.column), ix.column))

    var rows = base.groupBy(col(F).as("filename")).agg(aggCols.head, aggCols.tail: _*)

    // Exploded-array indexes change row multiplicity → separate aggregation,
    // merged by filename (reference: IndexBuildOperations.scala:852-867).
    meta.indexes.filter(_.indexType == "exploded").foreach { ix =>
      val eAggs = collect_set(col(ix.column)).as(ix.column) +:
        statsAgg(col(ix.column), ix.column)
      val e = tagged
        .select(col(F).as("filename"), explode(expr(ix.expr.get)).as(ix.column))
        .groupBy("filename").agg(eAggs.head, eAggs.tail: _*)
      rows = rows.join(e, Seq("filename"), "left_outer")
    }

    // Exploded-bloom: same exploded aggregation shape, but the per-file
    // state is a FIXED-SIZE bloom (capacity from the index definition, not
    // the batch estimate — the element universe scales with content, and a
    // too-small bloom silently loses pruning power via fpr inflation).
    // No collect_set, no eviction pass: this is the scale path for
    // window-hash-grade element counts.
    meta.indexes.filter(_.indexType == "exploded_bloom").foreach { ix =>
      val cap = ix.expectedItems.getOrElse(1000000L)
      val ebAggs = Blooms.bloomAgg(col("__ev").cast("string"), cap,
        ix.fpr.getOrElse(0.01)).as(ix.storageColumn) +:
        statsAgg(col("__ev"), ix.column)
      val e = tagged
        .select(col(F).as("filename"), explode(expr(ix.expr.get)).as("__ev"))
        .groupBy("filename")
        .agg(ebAggs.head, ebAggs.tail: _*)
      rows = rows.join(e, Seq("filename"), "left_outer")
    }

    // Temporal: per-(file, value) max timestamp, then per-file set of
    // (value, max_ts) structs (reference: IndexBuildOperations.scala:891-913).
    meta.indexes.filter(_.indexType == "temporal").foreach { ix =>
      val t = base
        .select(col(F).as("filename"), col(ix.column).as("__v"),
          col(ix.tsColumn.get).as("__ts"))
        .groupBy("filename", "__v").agg(max("__ts").as("__mts"))
        .groupBy("filename")
        .agg(collect_set(struct(col("__v").as("value"), col("__mts").as("max_ts")))
          .as(ix.column))
      rows = rows.join(t, Seq("filename"), "left_outer")
    }

    // A registered file with zero rows must still get an index row, or it
    // would be re-processed as "unindexed" on every update.
    import spark.implicits._
    val qualified = files.map(p => FileReader.qualify(spark, p))
    val filesDf = qualified.toDF("filename")
    rows = filesDf.join(rows, Seq("filename"), "left_outer")

    // The eviction size check costs a cache + an extra aggregation action per
    // batch. For non-exploded shapes, per-file distinct count ≤ per-file row
    // count, and estDistinct bounds the batch's max row count (parquet
    // footers) — below the limit NO array can evict, so the check is skipped
    // outright. Exploded indexes fan out past the row count and always check.
    val evictionPossible =
      meta.indexes.exists(_.indexType == "exploded") || estDistinct >= limit
    if (!evictionPossible) (rows, Seq.empty)
    else applyLargeEviction(store, meta, rows, qualified)
  }

  /** Large-index eviction: arrays with >= limit distinct values move to the
    * per-column overflow table; the main row keeps an auto-bloom instead
    * (reference: IndexBuildOperations.scala:977-988,1022-1074,1131-1189).
    * Returns the result plus any frame cached along the way (the caller
    * unpersists once the batch is written). */
  private def applyLargeEviction(
      store: IndexStore, meta: IndexMetadata, rowsIn: DataFrame,
      batchFiles: Seq[String]): (DataFrame, Seq[DataFrame]) = {
    val spark = store.spark
    val limit = GraftConf.largeIndexLimit(spark)
    val arrayDefs = meta.indexes.filter(_.isArrayShaped)
    if (arrayDefs.isEmpty) return (rowsIn, Seq.empty)

    var rows = rowsIn.cache()
    val sizeAggs = arrayDefs.map(ix => max(size(col(ix.column))).as(ix.column))
    val maxSizes = rows.agg(sizeAggs.head, sizeAggs.tail: _*).first()
    arrayDefs.foreach { ix =>
      val maxSize = Option(maxSizes.getAs[Any](ix.column))
        .map(_.toString.toLong).getOrElse(-1L)
      if (maxSize >= limit) {
        val isLarge = size(col(ix.column)) >= limit
        val largeRows = rows.where(isLarge)
          .select(col("filename"), explode(col(ix.column)).as("value"))
        // Segmented append: write ONLY this batch's exploded values; the
        // manifest claims every batch file, so a re-indexed file's stale
        // overflow rows (even from builds where it no longer evicts) stop
        // being visible — O(delta) I/O where the old upsert rewrote the
        // whole multi-GB overflow table per batch (r1 scale finding).
        store.largeTable(ix.column).appendReplacing(largeRows, "filename", batchFiles)
        rows = rows
          .withColumn(autoBloomColumn(ix.column),
            when(isLarge, Blooms.bloomFromArray(GraftConf.autoBloomFpr(spark))(col(ix.column)))
              .otherwise(lit(null).cast("binary")))
          .withColumn(ix.column, when(isLarge, lit(null)).otherwise(col(ix.column)))
      }
    }
    (rows, Seq(rowsIn))
  }

  /** Column-level backfill: compute ONLY `newDefs` for every file already in
    * the index, and merge the new columns into existing rows (reference:
    * Index.scala:194-212 — avoids re-reading for columns already built). */
  def backfillColumns(
      store: IndexStore,
      meta: IndexMetadata,
      newDefs: Seq[IndexDef],
      files: Seq[String]): Unit = {
    if (newDefs.isEmpty || files.isEmpty) return
    val partial = meta.copy(indexes = newDefs.toList)
    val batches = planBatches(store, partial, files)
    batches.foreach { case (batch, est) =>
      val (built, cached) = buildBatchTracked(store, partial, batch, est)
      // a batch that evicted an array carries its auto-bloom: without it the
      // null entry would read as unbuilt and every probe would locate the file
      val newCols = newDefs.map(_.storageColumn) ++
        newDefs.map(d => autoBloomColumn(d.column)).filter(built.columns.contains)
      val (main, statsOpt, pinned) = splitStats(built)
      store.indexTable.mergeColumns(main.select("filename", newCols: _*), "filename")
      statsOpt.foreach(store.statsTable.mergeColumns(_, "filename"))
      pinned.foreach(_.unpersist(blocking = true))
      cached.foreach(_.unpersist(false))
    }
  }
}
