package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.IndexMetadata
import graft.operators.{IndexJoin, IndexProbe}
import graft.sources.FileReader
import graft.store.IndexStore

/** One graft index as a read-only SQL table with file-pruning filter
  * pushdown (reference: catalog/AriadneTable.scala:64-79,
  * catalog/AriadneScan.scala:32-299).
  *
  * The scan is a V1Scan that delegates the actual reading to the normal
  * graft read path (`spark.read` + computed columns + temporal dedup), so
  * Spark's own parquet reader, codegen and AQE all apply — we only decide
  * WHICH files to read (same delegation the reference documents at
  * AriadneScan.scala:99-104).
  *
  * Deliberately NOT `SupportsRuntimeV2Filtering`: that hook only fires on a
  * true V2 `BatchScanExec` (which would mean a from-scratch multi-format
  * `PartitionReaderFactory` instead of this delegation), and the temporal
  * latest-version dedup is a cross-file aggregate no per-partition Scan
  * contract can express — see SURVEY.md §7.1 for the full r4 evaluation.
  * SQL join pruning rides [[GraftJoinRule]] instead.
  */
class GraftTable(val meta: IndexMetadata) extends Table with SupportsRead {

  override def name(): String = meta.name

  override def schema(): StructType = meta.schema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(meta)
}

/** Pushdown contract: EqualTo/In on indexed columns, plus one-sided range
  * comparisons (`>`, `>=`, `<`, `<=` — BETWEEN arrives as a > AND a < pair)
  * on RANGE-indexed columns, are used for file pruning; ALL filters are
  * returned as residuals so Spark re-applies them row-level after the scan
  * (pruning must stay invisible — reference: catalog/AriadneScan.scala:
  * 50-60,90-95; the reference pushes only EqualTo/In, so a SQL
  * `WHERE ts BETWEEN …` scans every file there). */
class GraftScanBuilder(meta: IndexMetadata)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pruningFilters: Array[Filter] = Array.empty
  private var requiredSchema: StructType = meta.schema

  private def rangeIndexed(attr: String): Boolean =
    meta.indexFor(attr).exists(_.indexType == "range")

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pruningFilters = filters.filter {
      // statistics-only kinds (hll) cannot prune: leave their columns
      // un-pushed so the scan stays a full read + residual
      case EqualTo(attr, _)            => meta.indexFor(attr).exists(_.canProbe)
      case In(attr, _)                 => meta.indexFor(attr).exists(_.canProbe)
      case GreaterThan(attr, _)        => rangeIndexed(attr)
      case GreaterThanOrEqual(attr, _) => rangeIndexed(attr)
      case LessThan(attr, _)           => rangeIndexed(attr)
      case LessThanOrEqual(attr, _)    => rangeIndexed(attr)
      case _                           => false
    }
    filters // all residual: Spark applies every filter after the scan
  }

  override def pushedFilters(): Array[Filter] = pruningFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    this.requiredSchema = requiredSchema

  override def build(): Scan = new GraftScan(meta, pruningFilters, requiredSchema)
}

class GraftScan(
    val meta: IndexMetadata,
    pruningFilters: Array[Filter],
    requiredSchema: StructType)
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = requiredSchema

  override def description(): String =
    s"GraftScan(${meta.name}, pruning=[${pruningFilters.mkString(", ")}])"

  /** Candidate files under the pushed filters, located ONCE per scan and
    * shared by statistics estimation (planning) and the actual read
    * (execution) — statistics never pay a second probe. */
  private[catalog] lazy val locatedFiles: Seq[String] =
    GraftScan.locateFiles(SparkSession.active, meta, pruningFilters)

  /** Post-pruning size from the index table's own `file_size` column —
    * no data scan, no footer reads. Without this, a DSv2 relation
    * defaults to `spark.sql.defaultSizeInBytes` (Long.MaxValue), so a
    * graft table pruned to one band could NEVER plan as the broadcast
    * side of a join; with it, Catalyst sees the size of the files the
    * scan will actually read. `numRows` stays unreported (the index
    * stores byte sizes, not row counts) — sizeInBytes alone drives the
    * broadcast decision. Disable via `spark.graft.reportStatistics`. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val spark = SparkSession.active
    val size: java.util.OptionalLong =
      if (!graft.GraftConf.reportStatistics(spark))
        java.util.OptionalLong.empty()
      else {
        val store = new IndexStore(spark, meta.name)
        store.indexTable.read() match {
          case Some(idx) if idx.columns.contains("file_size") =>
            val scoped =
              if (pruningFilters.isEmpty) idx
              else {
                // semi-join, not an isin literal: the candidate list can
                // be thousands of paths on a real lake
                import spark.implicits._
                idx.join(locatedFiles.toDF("filename"),
                  Seq("filename"), "left_semi")
              }
            val row = scoped.agg(org.apache.spark.sql.functions
              .coalesce(org.apache.spark.sql.functions.sum("file_size"),
                org.apache.spark.sql.functions.lit(0L))).first()
            java.util.OptionalLong.of(math.max(row.getLong(0), 1L))
          case _ => java.util.OptionalLong.empty()
        }
      }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = size
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftBaseRelation(context.sparkSession, meta, () => locatedFiles,
      requiredSchema)
      .asInstanceOf[T]
}

object GraftScan {

  /** Which pushed filters may prune FILES without breaking the catalog's
    * latest-version semantic? Temporal dedup computes per-key winners over
    * the rows actually read, so pruning must never remove the file holding
    * a surviving key's globally-latest row:
    *  - no temporal config → any pushed filter prunes (dedup is a no-op);
    *  - one temporal config → only probes on ITS key column prune (the
    *    temporal probe locates each probed key's latest-ts file, so the
    *    global winner is always read); filters on other columns — including
    *    range bounds on the ts column itself — could locate files holding
    *    only STALE versions of a key and resurrect them, so they read-all;
    *  - several temporal configs → no pruning (a second config's winner
    *    context can't be guaranteed by the first's probe).
    * The reference's catalog scan prunes on any indexed EqualTo/In and so
    * can resurrect stale versions on temporal tables
    * (AriadneScan.scala:50-60 + 279-283); this rule pins the safe subset. */
  private def pruneSafe(meta: IndexMetadata)(f: Filter): Boolean = {
    val temporal = meta.indexes.filter(_.indexType == "temporal")
    if (temporal.isEmpty) true
    else if (temporal.size == 1) f match {
      case EqualTo(attr, _) => attr == temporal.head.column
      case In(attr, _)      => attr == temporal.head.column
      case _                => false
    } else false
  }

  /** Candidate files for the safe subset of the pushed filters (every
    * registered file when nothing prunes). */
  private[catalog] def locateFiles(
      spark: SparkSession,
      meta: IndexMetadata,
      pruningFilters: Array[Filter]): Seq[String] = {
    val store = new IndexStore(spark, meta.name)
    val safeFilters = pruningFilters.filter(pruneSafe(meta))
    val values: Map[String, Seq[Any]] = safeFilters.collect {
      case EqualTo(attr, v) => attr -> Seq(v)
      case In(attr, vs)     => attr -> vs.toSeq
    }.groupBy(_._1).map { case (k, kvs) => k -> kvs.flatMap(_._2).toSeq }
    // One-sided bounds per range-indexed column; AND-ed per column, then
    // AND-ed (filename ∩) against the value probes. Each bound is an
    // over-approximation (files whose [min,max] could hold a passing row).
    val bounds: Map[String, Seq[(String, Any)]] = safeFilters.collect {
      case GreaterThan(attr, v)        => attr -> (">" -> v)
      case GreaterThanOrEqual(attr, v) => attr -> (">=" -> v)
      case LessThan(attr, v)           => attr -> ("<" -> v)
      case LessThanOrEqual(attr, v)    => attr -> ("<=" -> v)
    }.groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2).toSeq }

    if (values.isEmpty && bounds.isEmpty) store.registeredFiles
    else {
      val valueFrame =
        if (values.isEmpty) None
        else Some(IndexProbe.candidateFiles(store, meta,
          values.map { case (c, vs) => c -> IndexProbe.Values(vs) }))
      val boundFrames = bounds.flatMap { case (c, ops) =>
        meta.indexFor(c).map(ix =>
          IndexProbe.rangeFilterCandidates(store, ix, ops))
      }
      // each frame holds at most a few rows per file: intersect with
      // semi-joins and dedup on the driver in collectFiles
      val all = (valueFrame.toSeq ++ boundFrames)
        .reduce((a, b) => a.join(b, Seq("filename"), "left_semi"))
      IndexProbe.collectFiles(all)
    }
  }
}

/** Reads the scan's located files through the normal read path, applies
  * latest-version semantics for every temporal index (the catalog read
  * semantic, reference: AriadneScan.scala:279-283), projects required
  * columns. Residual row filters are applied by Spark. */
class GraftBaseRelation(
    spark: SparkSession,
    meta: IndexMetadata,
    locatedFiles: () => Seq[String],
    requiredSchema: StructType) extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = spark.sqlContext

  override def schema: StructType = requiredSchema

  override def buildScan(): RDD[Row] = {
    val files = locatedFiles()
    if (graft.GraftConf.metricsEnabled(spark))
      IndexJoin.recordMetrics(new IndexStore(spark, meta.name), files)

    var df = FileReader.readFiles(spark, meta, files)
    df = IndexJoin.applyTemporalDedup(df, meta,
      meta.indexes.filter(_.indexType == "temporal").map(_.column).toSet)
    df.select(requiredSchema.fieldNames.map(col).toIndexedSeq: _*).rdd
  }
}
