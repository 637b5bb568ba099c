package graft.store

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{broadcast, col, lit, not, when}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.GraftConf

/** A versioned parquet table with atomic snapshot swap — the non-Delta
  * persistence layer for all index state.
  *
  * Layout: `{root}/v{N}/part-*.parquet` plus a `{root}/_current` pointer
  * file. A write materializes new data directories and then atomically
  * renames the pointer — readers resolve the pointer once and read immutable
  * directories, so concurrent reads never observe a partial write (the
  * capability Delta provided in the reference; behavior parity per
  * reference: IndexBuildOperations.scala:1334-1360, re-expressed without the
  * Delta dependency because only plain Spark 4 jars ship here).
  *
  * Two write shapes:
  *  - FULL REWRITE (`overwrite`/`upsertLiteralKeys`/`mergeColumns`):
  *    pointer names one directory, folding any segments.
  *  - SEGMENTED APPEND (`appendReplacing`/`deleteLiteralKeys`): pointer
  *    names an ordered directory list; each append writes ONLY its delta
  *    rows plus a `_keys` manifest naming the keys it (re)wrote. A row is
  *    live iff no LATER segment's manifest claims its key — LSM-style
  *    last-writer-wins without rewriting earlier segments.
  *    `deleteLiteralKeys` writes the manifest alone: a tombstone with no
  *    parquet and no Spark job.
  *
  * Which table takes which shape: the main index table, the stats table
  * and the file list (one row per data file) are rewritten by `update`
  * and `addFile`, and take TOMBSTONE deletes in between, which the next
  * rewrite folds. During a multi-batch build the index and stats tables
  * also take one segment append per batch; the last batch's upsert folds
  * them. The large-index OVERFLOW tables (exploded values,
  * multi-GB at scale) take segment appends and tombstones, at O(delta)
  * I/O instead of O(table) (the r1 scale finding). Segment count is
  * bounded: reaching `spark.graft.maxOverflowSegments` folds the table
  * into one directory.
  *
  * Key lists stay small in plans: a write or read drops a key set with a
  * literal `NOT IN` up to [[literalKeyLimit]] keys and with a broadcast
  * anti-join beyond it, and a delete past the limit folds at once instead
  * of leaving a tombstone every later read would filter by.
  */
final class SnapshotTable(spark: SparkSession, root: String,
    cache: SnapshotTable.Cache = SnapshotTable.Persisted) {
  private val pointerPath = s"$root/_current"

  def exists: Boolean = Fs.exists(spark, pointerPath)

  /** Pointer lines: `version`, `nonce`, optional `segs:v1,v4,...` (absent ⇒
    * the single directory `v{version}`). The nonce is minted fresh per
    * write, so a table dropped and RECREATED by another process (version
    * numbering restarts) can never alias a previous incarnation's cache
    * entries — (root, version, nonce) identifies one immutable pointer state
    * (single-line pointers from older layouts read as nonce ""). */
  private def readPointer(): Option[(Long, String, Seq[String])] =
    if (!exists) None
    else scala.util.Try {
      val lines = Fs.readString(spark, pointerPath).split('\n')
      val v = lines(0).trim.toLong
      val nonce = if (lines.length > 1) lines(1).trim else ""
      val segs = lines.find(_.startsWith("segs:")) match {
        case Some(l) => l.drop(5).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        case None    => Seq(s"v$v")
      }
      (v, nonce, segs)
    }.toOption

  def currentVersion: Option[Long] = readPointer().map(_._1)

  /** Live segment directory names (diagnostics / tests). */
  def segments: Seq[String] = readPointer().map(_._3).getOrElse(Seq.empty)

  private def versionDir(v: Long): String = s"$root/v$v"
  private def segDir(name: String): String = s"$root/$name"
  private def manifestPath(dir: String): String = s"$dir/_keys"

  /** Manifest: first line is the key column, then one replaced/deleted key
    * per line. Small by construction (≤ buildBatchMaxFiles filenames). */
  private def writeManifest(dir: String, key: String, keys: Seq[String]): Unit =
    Fs.writeStringAtomic(spark, manifestPath(dir), (key +: keys).mkString("\n"))

  private def readManifest(dir: String): Option[(String, Seq[String])] =
    if (!Fs.exists(spark, manifestPath(dir))) None
    else {
      val lines = Fs.readString(spark, manifestPath(dir)).split('\n').toSeq
      Some((lines.head, lines.tail.filter(_.nonEmpty)))
    }

  /** Current snapshot as a DataFrame, if the table has ever been written.
    *
    * Two caches, both keyed by (root, version, nonce) — a pointer state is
    * immutable, so the first read is authoritative:
    *  - the SCHEMA is always cached (without it every read ran a parquet
    *    footer-merge Spark job; an index build issues dozens of reads);
    *  - the DATA is held per the table's [[SnapshotTable.Cache]] mode when
    *    `spark.graft.cacheIndexTables` is on (default), one version per
    *    table; a superseded version is released on the next read. A
    *    [[SnapshotTable.Probed]] table whose snapshot is estimated (from its
    *    parquet bytes, `optimizedPlan.stats`, no job) at most
    *    `spark.sql.autoBroadcastJoinThreshold` is collected once, by the
    *    first read of the version, into a driver-local relation: a probe's
    *    filter and projection over it fold into the optimized plan, so a
    *    warm locate runs no Spark job. Larger snapshots, a threshold ≤ 0 and
    *    [[SnapshotTable.Persisted]] tables are Spark-cached
    *    (MEMORY_AND_DISK, LRU-evictable) on first use. */
  def read(): Option[DataFrame] =
    readPointer().map { case (v, nonce, segs) =>
      val key = (root, v, nonce)
      def assemble: DataFrame = {
        // manifest-only segments (tombstones) hold no parquet: nothing to
        // infer a schema from or to scan
        lazy val dataSegs = segs.filter(d => Fs.hasDataFiles(spark, segDir(d)))
        val schema = SnapshotTable.schemaCache.get(key).getOrElse {
          val s =
            if (dataSegs.isEmpty) new StructType()
            // merged, so a column only a later segment holds is kept
            else spark.read.option("mergeSchema", dataSegs.size > 1)
              .parquet(dataSegs.map(segDir): _*).schema
          SnapshotTable.cachePut(key, s)
          s
        }
        if (segs.size == 1) spark.read.schema(schema).parquet(segDir(segs.head))
        else assembleSegments(segs, dataSegs.toSet, schema)
      }
      // optional repartition of the assembled index table (reference:
      // spark.ariadne.indexRepartitionCount, AriadneContext.scala:121-141 —
      // dodges FetchFailed on very large index tables). Applied BEFORE the
      // cache so the cost is paid once per version, not per probe.
      def shaped(df: DataFrame): DataFrame = {
        val n = GraftConf.indexRepartitionCount(spark)
        if (n > 0) df.repartition(n) else df
      }
      if (cache == SnapshotTable.Uncached || !GraftConf.cacheIndexTables(spark)) shaped(assemble)
      else SnapshotTable.dfCache.getOrElseUpdate(key, {
        SnapshotTable.dfCache.keys
          .filter(k => k._1 == root && k != key)
          .foreach(k => SnapshotTable.dfCache.remove(k)
            .foreach(_.unpersist(false)))
        val snapshot = assemble
        if (cache == SnapshotTable.Probed && fitsDriver(snapshot)) collectLocal(snapshot)
        else shaped(snapshot).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      })
    }

  /** Is the snapshot's estimated size — its parquet bytes, as Spark sizes a
    * broadcast side — at most `spark.sql.autoBroadcastJoinThreshold` (off at
    * ≤ 0)? Planning only: runs no job. */
  private def fitsDriver(df: DataFrame): Boolean = {
    val limit = SQLConf.get.getConf(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD)
    limit > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= limit
  }

  /** `df` collected once (one job, as a Dataset action: one SQL execution)
    * into a DataFrame over a `LocalRelation` of the executed plan's internal
    * rows — no conversion to external `Row`s and back. */
  private def collectLocal(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
    GraftSqlBridge.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(df.schema), rows.toIndexedSeq))
  }

  /** Union the data segments' scans (each with the assembled schema, so no
    * per-dir inference) and apply last-writer-wins: a row survives iff no
    * LATER segment's manifest claims its key. The manifests are read on the
    * driver, and each scan drops the keys claimed after it ([[without]]):
    * up to [[literalKeyLimit]] keys that is a literal `NOT IN` and no join,
    * so a base directory plus tombstones plans like one filtered directory
    * scan. */
  private def assembleSegments(
      segs: Seq[String],
      dataSegs: Set[String],
      schema: StructType): DataFrame = {
    val manifests = segs.map(d => readManifest(segDir(d)))
    val parts = segs.indices.filter(i => dataSegs.contains(segs(i))).map { i =>
      val scan = spark.read.schema(schema).parquet(segDir(segs(i)))
      val later = manifests.drop(i + 1).flatten
      later.headOption.fold(scan)(m => without(scan, m._1, later.flatMap(_._2).distinct))
    }
    if (parts.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else parts.reduce(_.unionByName(_))
  }

  /** Replace the table content atomically with a single directory (folds any
    * segments). The written schema is cached so the next read() never runs a
    * schema-inference job. */
  def overwrite(df: DataFrame): Long = {
    val prev = readPointer()
    val next = prev.map(_._1).getOrElse(0L) + 1L
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    df.write.mode("overwrite").parquet(versionDir(next))
    SnapshotTable.cachePut((root, next, nonce), df.schema)
    Fs.writeStringAtomic(spark, pointerPath, s"$next\n$nonce")
    // Durably record WHEN the outgoing directories stopped being referenced:
    // time-based vacuum dates retention from these markers, never from FS
    // mtimes (object stores report unreliable/zero mtimes for directories).
    markSuperseded(prev.map(_._3).getOrElse(Seq.empty).filterNot(_ == s"v$next"))
    // The superseded pointer's segments stay readable for one more write
    // (the retention guarantee readers in flight rely on); the write after
    // this one reaps them.
    cleanup(next, prev.map(_._3.toSet).getOrElse(Set.empty) + s"v$next")
    next
  }

  /** Upsert by key, where the replaced key set is KNOWN to the caller (an
    * index build's batch file list, or the paths one `addFile` registers):
    * rows in `df` replace the rows with those keys, and schema evolution is
    * by `unionByName(allowMissingColumns)`, so adding an index column later
    * backfills nulls (reference behavior: IndexBuildOperations.scala:
    * 1339-1347 withSchemaEvolution). Knowing the keys avoids
    * re-evaluating `df`'s plan a second time just to derive its keys — `df`
    * may be an expensive unmaterialized aggregation. The old rows drop the
    * keys with [[without]], so a key list of any length plans at a bounded
    * size. Below [[literalKeyLimit]] nothing shuffles, so the kept rows are
    * coalesced to the partition count a shuffle of their size would get:
    * each write would otherwise add `df`'s files to the table, and every
    * later scan a task per file. */
  def upsertLiteralKeys(df: DataFrame, key: String, keys: Seq[String]): Long = {
    val merged = read() match {
      case Some(old) =>
        val advisory = SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
        val parts = old.queryExecution.optimizedPlan.stats.sizeInBytes / advisory + 1
        without(old, key, keys)
          .coalesce(parts.min(Int.MaxValue).toInt)
          .unionByName(df, allowMissingColumns = true)
      case None => df
    }
    overwrite(merged)
  }

  /** Segmented upsert: write ONLY `df` (the delta) as a new segment whose
    * manifest claims `keys` — earlier segments' rows for those keys stop
    * being visible, at O(delta) write cost. Atomic via the pointer swap.
    * When the segment count reaches `spark.graft.maxOverflowSegments`, the
    * table folds into one directory instead (amortized O(table /
    * maxSegments) per append). */
  def appendReplacing(df: DataFrame, key: String, keys: Seq[String]): Long =
    readPointer() match {
      case None => overwrite(df)
      case Some((_, _, segs)) if segs.size >= GraftConf.maxOverflowSegments(spark) =>
        overwrite(without(read().get, key, keys).unionByName(df, allowMissingColumns = true))
      case Some(prev) =>
        pushSegment(prev, key, keys)(df.write.mode("overwrite").parquet(_)) { s =>
          StructType(s.fields ++ df.schema.fields.filterNot(f => s.fieldNames.contains(f.name)))
        }
    }

  /** Segmented delete: a manifest-only segment tombstones the keys — no data
    * read or rewrite, no Spark job. At `spark.graft.maxOverflowSegments`
    * segments, or past [[literalKeyLimit]] keys (a bulk delete every later
    * read would otherwise filter by), the table folds into one directory
    * instead. */
  def deleteLiteralKeys(key: String, keys: Seq[String]): Unit =
    if (keys.nonEmpty) readPointer().foreach { prev =>
      if (prev._3.size >= GraftConf.maxOverflowSegments(spark) || keys.size > literalKeyLimit)
        read().foreach(old => overwrite(without(old, key, keys)))
      else pushSegment(prev, key, keys)(Fs.mkdirs(spark, _))(identity)
    }

  /** The most keys a plan carries as literals: one build batch's files
    * (`spark.graft.buildBatchMaxFiles`), the most an index write claims. */
  private def literalKeyLimit: Int = GraftConf.buildBatchMaxFiles(spark)

  /** `df` without the rows whose `key` is one of `keys`: a literal `NOT IN`
    * up to [[literalKeyLimit]] keys, else a broadcast anti-join against the
    * keys (cast to the key column's type), so no plan, task or filter
    * carries an unbounded literal list. */
  private def without(df: DataFrame, key: String, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) df
    else if (keys.size <= literalKeyLimit) df.where(not(col(key).isin(keys: _*)))
    else {
      import spark.implicits._
      val keyFrame = keys.toDF(key).select(col(key).cast(df.schema(key).dataType).as(key))
      df.join(broadcast(keyFrame), Seq(key), "left_anti")
    }

  /** Write the next version directory with `write`, add its manifest
    * claiming `keys`, and swap the pointer to the segment list plus it. The
    * new pointer state's schema is `evolve` of the previous state's when
    * that is cached, so the next read() runs no footer inference. */
  private def pushSegment(prev: (Long, String, Seq[String]), key: String, keys: Seq[String])(
      write: String => Unit)(evolve: StructType => StructType): Long = {
    val (v, nonce, segs) = prev
    val next = v + 1
    val dir = versionDir(next)
    write(dir)
    writeManifest(dir, key, keys)
    val fresh = java.util.UUID.randomUUID().toString.take(8)
    SnapshotTable.schemaCache.get((root, v, nonce))
      .foreach(s => SnapshotTable.cachePut((root, next, fresh), evolve(s)))
    Fs.writeStringAtomic(spark, pointerPath,
      s"$next\n$fresh\nsegs:${(segs :+ s"v$next").mkString(",")}")
    next
  }

  /** Column-level merge: set the non-key columns of `df` on the keys `df`
    * holds, keeping every other row's values and all other columns — the
    * backfill write shape, applied once per batch, so a later batch must not
    * clear what an earlier one wrote (reference: Delta merge
    * withSchemaEvolution, IndexBuildOperations.scala:1339-1347). */
  def mergeColumns(df: DataFrame, key: String): Long = {
    val newCols = df.columns.filterNot(_ == key)
    val merged = read() match {
      case Some(old) =>
        val hit = "__merge_hit"
        val incoming = df.select(col(key) +: lit(true).as(hit) +:
          newCols.map(c => col(c).as(s"__merge_$c")).toSeq: _*)
        old.join(incoming, Seq(key), "left_outer")
          .select(old.columns.filterNot(newCols.contains).map(col).toSeq ++
            newCols.map { c =>
              val fresh = col(s"__merge_$c")
              (if (old.columns.contains(c)) when(col(hit), fresh).otherwise(col(c))
               else fresh).as(c)
            }: _*)
      case None => df
    }
    overwrite(merged)
  }

  /** Rewrite the current snapshot into `numFiles` files (small-file
    * compaction — the OPTIMIZE analogue; also folds segments). */
  def compact(numFiles: Int = 1): Unit =
    read().foreach(df => overwrite(df.coalesce(math.max(numFiles, 1))))

  /** Drop snapshot versions older than the retention window NOW (the
    * VACUUM analogue; normal writes already trim lazily). Directories still
    * referenced by the current pointer are never touched. */
  def vacuum(keep: Int = 1): Unit =
    readPointer().foreach { case (cur, _, segs) =>
      deadDirs(cur, math.max(keep, 1), segs.toSet)
        .foreach(d => Fs.delete(spark, segDir(d)))
    }

  /** TIME-based retention: drop non-live version dirs SUPERSEDED before
    * the wall-clock horizon. A reader that resolved the pointer up to
    * `retentionHours` ago can still finish — the guarantee concurrent
    * readers actually reason in (hours of query runtime), where the
    * count-based [[vacuum]] depends on how often writers commit.
    *
    * Supersession time comes from the durable `_superseded_at` marker the
    * pointer swap wrote into the outgoing directory — NOT from filesystem
    * mtimes, which object stores commonly report as 0/unreliable for
    * directory paths (an mtime-based reaper would then see every superseded
    * snapshot as infinitely old and break the in-flight-reader guarantee).
    * A dir with no readable marker (pre-marker layout, or a writer that
    * died between swap and mark) is stamped NOW and left alone — it becomes
    * deletable only after a further full retention window, the safe
    * direction. Directories named by the current pointer are never touched
    * regardless of age. */
  def vacuumOlderThan(retentionHours: Int): Unit =
    readPointer().foreach { case (cur, _, segs) =>
      val now = System.currentTimeMillis()
      val horizon = now - retentionHours.toLong * 3600L * 1000L
      val live = segs.toSet
      Fs.listDirs(spark, root)
        .filter(_.startsWith("v"))
        .flatMap(d => scala.util.Try(d.drop(1).toLong).toOption.map(_ -> d))
        .filter { case (v, d) => v < cur && !live.contains(d) }
        .foreach { case (_, d) =>
          supersededAt(d) match {
            case Some(t) if t <= horizon => Fs.delete(spark, segDir(d))
            case Some(_) => () // inside the horizon — keep
            case None => // no durable record (missing or unreadable marker):
              // (re)stamp NOW so the dir becomes deletable one window later
              Fs.writeStringAtomic(spark, supersededMarker(segDir(d)),
                now.toString)
          }
        }
    }

  private def supersededMarker(dir: String): String = s"$dir/_superseded_at"

  /** Wall-clock millis at which `dirName` stopped being pointer-referenced,
    * if durably recorded. Unreadable/zero values count as unknown. */
  private def supersededAt(dirName: String): Option[Long] = {
    val p = supersededMarker(segDir(dirName))
    if (!Fs.exists(spark, p)) None
    else scala.util.Try(Fs.readString(spark, p).trim.toLong)
      .toOption.filter(_ > 0L)
  }

  /** Stamp `_superseded_at` (current wall clock) into each directory, if not
    * already stamped — first mark wins, so re-stamping a dir that already
    * carries its true supersession time is a no-op. Underscore-prefixed, so
    * parquet scans of the dir ignore it. */
  private def markSuperseded(dirs: Iterable[String]): Unit = {
    val now = System.currentTimeMillis()
    dirs.foreach { d =>
      val p = supersededMarker(segDir(d))
      if (Fs.exists(spark, segDir(d)) && !Fs.exists(spark, p))
        Fs.writeStringAtomic(spark, p, now.toString)
    }
  }

  private def cleanup(current: Long, live: Set[String]): Unit =
    deadDirs(current, GraftConf.retainedSnapshots(spark).max(1), live)
      .foreach(d => Fs.delete(spark, segDir(d)))

  /** Version dirs older than the retention window and not live segments. */
  private def deadDirs(current: Long, keep: Int, live: Set[String]): Seq[String] =
    Fs.listDirs(spark, root)
      .filter(d => d.startsWith("v") && !live.contains(d))
      .filter(d => scala.util.Try(d.drop(1).toLong).toOption
        .exists(v => v <= current - keep))

  def drop(): Unit = {
    SnapshotTable.invalidate(root)
    Fs.delete(spark, root)
  }
}

object SnapshotTable {
  /** How [[SnapshotTable.read]] holds the version it read. */
  sealed trait Cache
  /** Not cached: each read plans a fresh scan of the version's directories. */
  case object Uncached extends Cache
  /** Spark-cached (MEMORY_AND_DISK, LRU-evictable), filled by the first
    * action over it — for tables read about once per write. */
  case object Persisted extends Cache
  /** A table every probe filters (the index and overflow tables): a
    * snapshot within `spark.sql.autoBroadcastJoinThreshold` lives on the
    * driver as a local relation, collected by the version's first read, so
    * the open index keeps at most the threshold's worth of rows per table
    * there; a larger one is [[Persisted]]. */
  case object Probed extends Cache

  /** (root, version, nonce) -> schema; bounded by LRU-ish trim at 4096. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, String), StructType]
  /** (root, version, nonce) -> cached snapshot DataFrame (Spark-cached or
    * driver-local). */
  private val dfCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, String), DataFrame]
  private[store] def cachePut(
      k: (String, Long, String), v: StructType): Unit = {
    if (schemaCache.size > 4096) schemaCache.clear()
    schemaCache.put(k, v)
  }
  /** Drop every cache entry for a table root (called on drop()). */
  private[store] def invalidate(root: String): Unit = {
    schemaCache.keys.filter(_._1 == root).foreach(schemaCache.remove)
    dfCache.keys.filter(_._1 == root)
      .foreach(k => dfCache.remove(k).foreach(_.unpersist(false)))
  }
}
