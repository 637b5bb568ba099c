package graft.operators

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftConf
import graft.functions.{Blooms, BroadcastSets}
import graft.model.{IndexDef, IndexMetadata}
import graft.store.IndexStore

/** File-location probes: given queried values (literal list or a distributed
  * probe DataFrame) per indexed column, return the set of files that can
  * possibly contain matching rows.
  *
  * Design deltas vs the reference (SURVEY §7.1 — 100 TB posture):
  *  - candidate sets stay DataFrames of filenames end-to-end; AND-semantics
  *    across queried columns is a semi-join on filename, collected ONCE at
  *    the very end (vs per-probe CSV-staging round trips,
  *    reference: IndexQueryOperations.scala:305-365)
  *  - bloom probes run as executor-side UDF filters over the index table
  *    (vs collecting every file's filter bytes to the driver,
  *    reference: BloomFilterOperations.scala:255-287)
  *  - DataFrame probes only collect bounded value lists (capped by
  *    `spark.graft.probeValueLimit` / `probeBroadcastLimit`; a local probe
  *    is read on the driver without a job); past the caps a column falls
  *    back to a semi-join or to no pruning — correct, just less selective,
  *    and never driver-OOM.
  *  - probe values convert to the column's element type once ([[resolve]]),
  *    and every membership kind reads only the converted values.
  */
object IndexProbe {

  /** A probe for one column: either literal values or a 1-column DataFrame
    * of probe values (column name irrelevant; first column is used). */
  sealed trait Probe
  final case class Values(values: Seq[Any]) extends Probe
  final case class Frame(df: DataFrame) extends Probe

  /** DataFrame of distinct candidate `filename`s for the probes, honoring
    * AND semantics across columns (reference: IndexQueryOperations.scala:188-287). */
  def candidateFiles(
      store: IndexStore,
      meta: IndexMetadata,
      probes: Map[String, Probe]): DataFrame = {
    val spark = store.spark
    val indexDfOpt = store.indexTable.read()
    val indexed = probes.flatMap { case (c, p) => meta.indexFor(c).map(_ -> p) }.toSeq
    require(indexed.nonEmpty, "at least one probed column must be indexed")
    indexDfOpt match {
      case None => emptyFilenames(spark)
      case Some(indexDf) =>
        // Latest-file winnowing for a temporal column is sound ONLY when it
        // is the sole probed column: the row-level dedup then computes each
        // value's winner over rows filtered by nothing else, and that winner
        // provably lives in the value's latest file. With ANY second probed
        // column (another filter, or a second temporal config), the
        // filtered winner for a value can live in an OLDER file — its
        // globally-latest row may fail the other filter — so temporal
        // columns fall back to key-CONTAINMENT pruning (every file holding
        // the value), which keeps the complete filtered row set readable.
        // Mirrors the SQL catalog's r4 temporal-safety guard on the
        // programmatic path.
        val latestFileOk = indexed.size == 1
        val scores =
          if (indexed.size > 1 && GraftConf.probeOrderingEnabled(spark))
            hllProbeScores(store, indexed)
          else Map.empty[String, Double]
        if (scores.isEmpty) {
          lastProbeTrace = None
          // every per-column frame holds at most a few rows per file, so a
          // semi-join intersects without multiplying rows and the final
          // dedup stays on the driver ([[collectFiles]])
          indexed
            .map { case (ix, probe) =>
              candidatesForColumn(store, meta, indexDf, ix, probe, latestFileOk) }
            .reduce((a, b) => a.join(b, Seq("filename"), "left_semi"))
        } else orderedCandidateFiles(store, meta, indexDf, indexed, scores)
    }
  }

  /** One step of an ordered multi-column probe, for diagnostics:
    * the column probed, the running candidate count AFTER it (−1 when
    * skipped), and whether the short-circuit skipped it. Recorded only
    * under `spark.graft.metricsEnabled`. */
  final case class ProbeStep(column: String, candidates: Long,
      skipped: Boolean)
  @volatile var lastProbeTrace: Option[Seq[ProbeStep]] = None

  /** Selectivity scores from the HLL distinct-stats SIDECARS the index
    * build writes alongside every membership index
    * ([[IndexBuild.statsColumn]], persisted in the store's separate
    * `stats` table so the hot index table stays lean): for each probed
    * column with a sidecar, estimate the expected per-file match count
    * of its probe as `nValues × avgPerFileDistinct / globalDistinct` —
    * the union-bound probability proxy for "does a given file survive
    * this probe". Lower = more selective = probe earlier. One bounded
    * aggregate over the stats table computes every score (per-file
    * sketches estimate per row; the global estimate is their union —
    * Datasketches HLL, ~1.6 % rse at lgK 12). Literal probes use their
    * exact distinct value count; DataFrame probes a configured prior
    * (counting them would cost a planning scan of the probe side).
    * Columns with no sidecar get no score and keep their original
    * relative order AFTER every scored column. */
  private def hllProbeScores(
      store: IndexStore,
      indexed: Seq[(IndexDef, Probe)]): Map[String, Double] = {
    val spark = store.spark
    val stats = store.statsTable.read().getOrElse(return Map.empty)
    val statCols = indexed.flatMap { case (ix, probe) =>
      val sc = IndexBuild.statsColumn(ix.column)
      if (stats.columns.contains(sc)) Some((ix.column, sc, probe))
      else None
    }
    if (statCols.isEmpty) return Map.empty
    val aggs = statCols.flatMap { case (c, sc, _) =>
      Seq(
        avg(call_function("hll_sketch_estimate", col(sc)))
          .as(s"__avg_$c"),
        call_function("hll_sketch_estimate",
          call_function("hll_union_agg", col(sc), lit(true)))
          .as(s"__u_$c"))
    }
    val row = stats.agg(aggs.head, aggs.tail: _*).first()
    val framePrior = GraftConf.probeOrderFramePrior(spark).toDouble
    statCols.zipWithIndex.flatMap { case ((c, _, probe), i) =>
      val (avgI, uI) = (2 * i, 2 * i + 1)
      if (row.isNullAt(avgI) || row.isNullAt(uI)) None
      else {
        val perFile = row.getDouble(avgI)
        val global = math.max(1L, row.getLong(uI)).toDouble
        val nVals = probe match {
          case Values(vs) => math.max(1, vs.distinct.size).toDouble
          case Frame(_) => framePrior
        }
        Some(c -> nVals * perFile / global)
      }
    }.toMap
  }

  /** Ordered, short-circuiting AND-intersection: probe the most
    * selective column FIRST (ascending [[hllProbeScores]]; unscored
    * columns keep their original relative order after every scored
    * one), restrict each later probe's index frame to the running
    * candidate set, and SKIP remaining probes once the running set is
    * at most `spark.graft.probeShortCircuitFiles` files (or provably
    * empty) — each skipped probe saves a full index-table pass while
    * costing at most that many extra file reads, and the result is a
    * SUPERSET of the fixed-order intersection, which pruning is always
    * allowed to be (residual joins/filters keep results exact). Every
    * step pins its bounded filename frame (≤ one row per file) and
    * counts it — the count is the short-circuit decision AND the
    * intersection-tightness certificate recorded in [[lastProbeTrace]].
    * Overflow-segment candidates are re-intersected with the running
    * set explicitly: the large-table scan is not restricted by the
    * frame, so its matches must not re-admit files an earlier probe
    * eliminated. */
  private def orderedCandidateFiles(
      store: IndexStore,
      meta: IndexMetadata,
      indexDf: DataFrame,
      indexed: Seq[(IndexDef, Probe)],
      scores: Map[String, Double]): DataFrame = {
    val spark = store.spark
    // stable sort: scored columns ascending, unscored (MaxValue) keep
    // their original relative order at the end; ties broken by column
    // name for plan determinism
    val ordered = indexed.sortBy { case (ix, _) =>
      (scores.getOrElse(ix.column, Double.MaxValue), ix.column)
    }
    val floor = GraftConf.probeShortCircuitFiles(spark).toLong
    val trace = scala.collection.mutable.ArrayBuffer.empty[ProbeStep]
    var cand: Option[DataFrame] = None
    var candCount = Long.MaxValue
    ordered.foreach { case (ix, probe) =>
      if (candCount <= floor) trace += ProbeStep(ix.column, -1L, true)
      else {
        val frame = cand match {
          case Some(c) => indexDf.join(c, Seq("filename"), "left_semi")
          case None => indexDf
        }
        var next = candidatesForColumn(store, meta, frame, ix, probe,
            latestFileOk = false)
          .select("filename").distinct()
        cand.foreach(c => next = next.join(c, Seq("filename"), "left_semi"))
        val pinned = next.localCheckpoint()
        candCount = pinned.count()
        cand = Some(pinned)
        trace += ProbeStep(ix.column, candCount, false)
      }
    }
    lastProbeTrace =
      if (GraftConf.metricsEnabled(spark)) Some(trace.toSeq) else None
    cand.get
  }

  /** Collect the final path list. Every frame handed here holds at most a
    * few rows per file (the probes filter the one-row-per-file index table;
    * shapes that fan out per value dedup their own rows), so the list is
    * bounded and deduplicated on the driver. Over a driver-local index
    * snapshot the probe's filter folds into the plan and the names are read
    * from it ([[localRows]]): no job. Otherwise one job, no shuffle. */
  def collectFiles(df: DataFrame): Seq[String] = {
    val names = df.select("filename")
    localRows(names).map(_.map(_.getString(0)))
      .getOrElse(names.collect().map(_.getString(0)).toSeq)
      .distinct
  }

  private def emptyFilenames(spark: SparkSession): DataFrame = {
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("filename", StringType))))
  }

  private def candidatesForColumn(
      store: IndexStore,
      meta: IndexMetadata,
      indexDf: DataFrame,
      ix: IndexDef,
      probe: Probe,
      latestFileOk: Boolean = true): DataFrame = {
    // storage column entirely absent = registered but never built (backfill
    // pending): no pruning possible, every file is a candidate
    if (!indexDf.columns.contains(ix.storageColumn))
      return indexDf.select("filename")
    // Files whose index entry for this column is NULL (registered but not
    // yet backfilled after a later addIndex) may contain ANYTHING and must
    // stay candidates for every probe type — pruning may only ever
    // over-approximate, and residual filters/joins keep results exact.
    // Array and bloom kinds fold that test into their own filter (for array
    // kinds a null entry can also mean values evicted to the overflow
    // table); range and temporal add the null-entry rows here.
    def withUnbuilt(matched: DataFrame): DataFrame =
      matched.select("filename")
        .unionByName(indexDf.where(col(ix.storageColumn).isNull).select("filename"))
    val spark = store.spark
    ix.indexType match {
      case "regular" | "computed" | "exploded" =>
        arrayCandidates(store, indexDf, ix,
          resolve(spark, probe, elementType(indexDf, ix)))
      case "bloom" | "exploded_bloom" =>
        bloomCandidates(spark, indexDf, ix,
          resolve(spark, probe, bloomElementType(spark, meta, ix)))
      case "range"    => withUnbuilt(rangeCandidates(spark, indexDf, ix, probe))
      case "temporal" => withUnbuilt(temporalCandidates(indexDf, ix,
        resolve(spark, probe, elementType(indexDf, ix)), latestFileOk))
      case "hll" => throw new IllegalArgumentException(
        s"Column '${ix.column}' carries a statistics-only hll index — " +
          "it cannot answer membership probes; use Index.distinctEstimate")
      case t => throw new IllegalStateException(s"unknown index type $t")
    }
  }

  /** Files that can contain EVERY one of `values` on an exploded /
    * exploded_bloom column — the phrase-search probe: a document holding
    * the phrase holds ALL of its window hashes, so requiring every value
    * (per-file match-count == distinct probe values for arrays; bloom
    * `forall` for blooms) prunes strictly tighter than the any-match
    * candidate set while staying sound (over-approximation only).
    * Registered-but-unbuilt files (null entry) stay candidates, exactly
    * like [[candidateFiles]]; values that do not resolve to the element
    * type ([[resolve]]) prune nothing. */
  def allValuesCandidates(
      store: IndexStore,
      meta: IndexMetadata,
      ix: IndexDef,
      values: Seq[Any]): Seq[String] = {
    require(values.nonEmpty, "allValuesCandidates needs at least one value")
    require(ix.isExplodedShaped,
      s"all-values probe needs an exploded kind, got ${ix.indexType}")
    val spark = store.spark
    val idx = store.indexTable.read().getOrElse(return Seq.empty)
    if (!idx.columns.contains(ix.storageColumn))
      return collectFiles(idx) // registered but never built: no pruning
    val dt =
      if (ix.indexType == "exploded_bloom") bloomElementType(spark, meta, ix)
      else elementType(idx, ix)
    val need = resolve(spark, Values(values), dt) match {
      case t: Typed => t
      case _ => return collectFiles(idx)
    }
    val matched = ix.indexType match {
      case "exploded_bloom" =>
        idx.where(col(ix.storageColumn).isNull ||
            Blooms.mightContainAll(need.bloomKeys(spark))(col(ix.storageColumn)))
          .select("filename")
      case _ =>
        val main = idx.where(col(ix.storageColumn).isNotNull)
          .select(col("filename"), explode(col(ix.storageColumn)).as("__v"))
        val large = store.largeTable(ix.column).read()
        val all = large match {
          case Some(l) =>
            main.unionByName(l.select(col("filename"), col("value").as("__v")))
          case None => main
        }
        all.where(typedMember(spark, need)(col("__v")))
          .groupBy("filename")
          .agg(count_distinct(col("__v")).as("__n"))
          .where(col("__n") === need.values.size)
          .select("filename")
          .unionByName(
            idx.where(unbuiltArray(idx, ix, large.isDefined)).select("filename"))
    }
    collectFiles(matched)
  }

  /** Distinct-array columns (regular / computed / exploded): files whose
    * value array intersects the probe, plus files whose entry is unbuilt
    * (reference: IndexQueryOperations.scala:115-135,484-521,687-723).
    *
    * The resolved probe picks the shape:
    *  - typed values within `probeValueLimit` match each file's row directly
    *    with a codegen'd `arrays_overlap` against a typed literal array: one
    *    narrow pass over the one-row-per-file index table, one row per file,
    *    no shuffle;
    *  - more typed values explode the arrays and filter element rows with the
    *    typed broadcast set ([[typedMember]]), deduplicated back to one row
    *    per file; an unbounded Frame probe semi-joins them instead;
    *  - an unprunable probe locates every file.
    * Files evicted to the overflow table (null array, non-null auto-bloom)
    * are matched through its rows, pre-filtered by the auto-bloom for typed
    * values; a null array with no auto-bloom is unbuilt (backfill pending)
    * and stays a candidate. */
  private def arrayCandidates(
      store: IndexStore,
      indexDf: DataFrame,
      ix: IndexDef,
      probe: Resolved): DataFrame = {
    if (probe == Unprunable) return indexDf.select("filename")
    val spark = store.spark
    val arr = col(ix.column)
    val ab = IndexBuild.autoBloomColumn(ix.column)
    val large = store.largeTable(ix.column).read()
    val unbuilt = unbuiltArray(indexDf, ix, large.isDefined)
    val overflow = large.map { l =>
      val rows = l.select(col("filename"), col("value").as("__v"))
      // Auto-bloom pre-filter: restrict the (potentially huge) overflow scan
      // to files whose bloom might contain a probe value (reference:
      // IndexQueryOperations.scala:124-131,387-468). `bloomFromArray` keys
      // each element by its JVM string, which equals the string cast only
      // for integral and string elements; other element types and unbounded
      // probes scan the overflow rows unfiltered.
      probe match {
        case t: Typed if indexDf.columns.contains(ab) && autoBloomTypes(t.dt) =>
          rows.join(indexDf.where(bloomAnyFilter(spark, t.bloomKeys(spark))(col(ab)) ||
              col(ab).isNull)
            .select("filename"), Seq("filename"), "left_semi")
        case _ => rows
      }
    }
    probe match {
      case t: Typed if t.values.size <= GraftConf.probeValueLimit(spark) =>
        val main = indexDf.where(arrays_overlap(arr, t.array) || unbuilt).select("filename")
        overflow.fold(main)(o =>
          main.unionByName(probedRows(spark, o, t).select("filename").distinct()))
      case _ =>
        val exploded = indexDf.where(arr.isNotNull)
          .select(col("filename"), explode(arr).as("__v"))
        probedRows(spark, overflow.fold(exploded)(exploded.unionByName), probe)
          .select("filename").distinct()
          .unionByName(indexDf.where(unbuilt).select("filename"))
    }
  }

  private val autoBloomTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, StringType)

  /** A null array entry is unbuilt (registered, backfill pending: any value
    * possible) unless eviction moved the file's values to the overflow
    * table, which leaves a non-null auto-bloom. Without an overflow table
    * every null entry counts as unbuilt. */
  private def unbuiltArray(indexDf: DataFrame, ix: IndexDef, hasOverflow: Boolean): Column = {
    val ab = IndexBuild.autoBloomColumn(ix.column)
    if (hasOverflow && indexDf.columns.contains(ab)) col(ix.column).isNull && col(ab).isNull
    else col(ix.column).isNull
  }

  /** Element type of an array-shaped index column; for temporal, the type
    * of its `value` field. */
  private def elementType(indexDf: DataFrame, ix: IndexDef): DataType =
    indexDf.schema(ix.column).dataType.asInstanceOf[ArrayType].elementType match {
      case s: StructType if ix.indexType == "temporal" => s("value").dataType
      case t => t
    }

  /** Type of the values a bloom kind hashes: the column's type for bloom;
    * for exploded_bloom the element type of its expression, analysed over
    * an empty frame of the table schema (planning only, no job). */
  private def bloomElementType(spark: SparkSession, meta: IndexMetadata, ix: IndexDef): DataType =
    if (ix.indexType == "bloom") meta.schema(ix.column).dataType
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), meta.schema)
      .select(explode(expr(ix.expr.get))).schema.head.dataType

  /** A probe resolved against one column's element type ([[resolve]]). */
  private sealed trait Resolved

  /** Distinct, non-null probe values of element type `dt`, in Catalyst's
    * internal form. */
  private final case class Typed(dt: DataType, values: Seq[Any]) extends Resolved {
    private def literals: Seq[Column] =
      values.map(v => GraftSqlBridge.column(Literal(v, dt)))
    /** `c IN (values)`, constant false for no values. */
    def isin(c: Column): Column = if (values.isEmpty) lit(false) else c.isin(literals: _*)
    def array: Column = GraftSqlBridge.column(
      Literal(new GenericArrayData(values.toArray), ArrayType(dt, containsNull = false)))
    /** The values as a bloom kind's build hashes them: `cast(x as string)`. */
    def bloomKeys(spark: SparkSession): Seq[String] = {
      val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
      values.map(v => Cast(Literal(v, dt), StringType, tz).eval().toString)
    }
  }
  /** A Frame probe with more distinct values than the collect cap. */
  private final case class Unbounded(df: DataFrame) extends Resolved
  /** No value set is known to hold the probe: every file is a candidate. */
  private case object Unprunable extends Resolved

  /** The one conversion of probe values, made before any index kind sees
    * them. A Frame probe's distinct values are collected once (no job for a
    * local probe, whose values are read from its plan; else one job bounded
    * by the larger of `probeValueLimit` and `probeBroadcastLimit`, past which
    * it stays [[Unbounded]]). Each value then converts by [[elementValue]];
    * if any cannot, the column is [[Unprunable]] — the read stays correct,
    * only unpruned. Runs no job beyond the collect: the casts evaluate on
    * the driver. */
  private def resolve(spark: SparkSession, probe: Probe, dt: DataType): Resolved = {
    val literals: Seq[Option[Literal]] = probe match {
      case Values(vs) => vs.filter(_ != null).map(v => Try(Literal.create(v)).toOption)
      case Frame(df) =>
        val cap = math.max(GraftConf.probeValueLimit(spark), GraftConf.probeBroadcastLimit(spark))
        boundedValues(df, cap).getOrElse(return Unbounded(df))
          .filter(_.value != null).map(Some(_))
    }
    val out = scala.collection.mutable.LinkedHashSet.empty[Any]
    literals.foreach { l =>
      l.flatMap(elementValue(_, dt)) match {
        case Some(v) => out ++= v
        case None => return Unprunable
      }
    }
    Typed(dt, out.toSeq)
  }

  /** One probe value in element type `dt`, under Spark's comparison, which
    * casts both sides to their wider type: `Some(Some(t))` when the elements
    * equal to it are exactly those equal to `t`, `Some(None)` when no element
    * can equal it, None when neither is known.
    *  - A value of the element type is kept.
    *  - A numeric value on a numeric column is kept as its cast to `dt` when
    *    that survives the cast back to the comparison type unchanged (`42.0`
    *    → `42L` on bigint, `1.5` → `1.50` on decimal(12,2)), and dropped when
    *    it does not (`42.5` on bigint), provided every element converts
    *    exactly to the comparison type around the value ([[exactIn]]).
    *  - Anything else (strings on numeric columns, numbers on string ones,
    *    mixed date/timestamp types, a bigint column against a double of
    *    magnitude ≥ 2^53) is unknown. */
  private def elementValue(l: Literal, dt: DataType): Option[Option[Any]] =
    (l.dataType, dt) match {
      case (vt, _) if vt == dt => Some(Some(l.value))
      case (vt: NumericType, _: NumericType) =>
        TypeCoercion.findWiderTypeForTwo(vt, dt).flatMap { ct =>
          val vc = Cast(l, ct, None, EvalMode.TRY).eval()
          if (vc == null || !exactIn(dt, ct, vc)) None
          else Some(Option(Cast(l, dt, None, EvalMode.TRY).eval())
            .filter(t => Cast(Literal(t, dt), ct, None, EvalMode.TRY).eval() == vc))
        }
      case _ => None
    }

  /** Do distinct elements of `dt` stay distinct once cast to the comparison
    * type `ct`, near the comparison value `vc`? A double holds integers below
    * 2^53 and decimals of up to 15 digits exactly, a float integers below
    * 2^24 and decimals of up to 6; a decimal holds every element of no larger
    * scale. An element that overflows an integral or decimal comparison type
    * fails the comparison rather than merging with another. */
  private def exactIn(dt: DataType, ct: DataType, vc: Any): Boolean = (dt, ct) match {
    case (d: DecimalType, DoubleType) => d.precision <= 15
    case (d: DecimalType, FloatType) => d.precision <= 6
    case (d: DecimalType, c: DecimalType) => d.scale <= c.scale
    case (ByteType | ShortType | IntegerType | LongType, DoubleType | FloatType) =>
      math.abs(vc.asInstanceOf[Number].doubleValue) <
        (if (ct == DoubleType) 1L << 53 else 1L << 24)
    case _ => true // the same type, float into double, integral into wider
  }

  /** Element rows (`__v`) of `rows` equal to a probed value. */
  private def probedRows(spark: SparkSession, rows: DataFrame, probe: Resolved): DataFrame =
    probe match {
      case t: Typed => rows.where(typedMember(spark, t)(col("__v")))
      case Unbounded(df) => rows.join(df.toDF("__v").distinct(), Seq("__v"), "left_semi")
      case Unprunable => rows
    }

  /** Membership in typed values: an `isin` literal list within
    * `probeValueLimit`; past it, for the key types real joins use, a
    * broadcast sorted array tested by a codegen'd expression
    * ([[graft.functions.BroadcastSets]]) — a 10^4-literal `isin` tree bloats
    * the serialized plan shipped with every task. Other element types keep
    * the literal list (correct, merely bigger plans). */
  private def typedMember(spark: SparkSession, t: Typed): Column => Column =
    if (t.values.size <= GraftConf.probeValueLimit(spark)) t.isin
    else t.dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        val longs = t.values.map(_.asInstanceOf[Number].longValue)
        (c: Column) => BroadcastSets.longSetContains(spark, longs)(c.cast("long"))
      case StringType => BroadcastSets.stringSetContains(spark, t.values.map(_.toString))
      case _ => t.isin
    }

  /** Row-level membership filter of column type `dt` with the same meaning
    * as `isin(vs)`: values that resolve to the column type go through
    * [[typedMember]]; otherwise a plain `isin`, which Spark coerces. */
  private[operators] def memberFilter(
      spark: SparkSession,
      dt: DataType,
      vs: Seq[Any]): Column => Column =
    resolve(spark, Values(vs), dt) match {
      case t: Typed => typedMember(spark, t)
      case _ => (c: Column) => c.isin(vs: _*)
    }

  /** Bloom any-match predicate with the same shape discipline: literal
    * closure list within the cap, broadcast array past it. */
  private def bloomAnyFilter(
      spark: SparkSession,
      keys: Seq[String]): Column => Column =
    if (keys.size <= GraftConf.probeValueLimit(spark)) Blooms.mightContainAny(keys)
    else Blooms.mightContainAnyBroadcast(spark.sparkContext.broadcast(keys.toArray))

  /** Bloom and exploded_bloom: files whose bloom might hold a typed value's
    * string form, the key the build hashed. Within the literal cap the keys
    * inline as a closure list; past it they ship broadcast into the executor
    * any-match (pruning keeps working for 10^4–10^5 values). An unbounded or
    * unprunable probe prunes nothing. */
  private def bloomCandidates(
      spark: SparkSession, indexDf: DataFrame, ix: IndexDef, probe: Resolved): DataFrame = {
    val sc = col(ix.storageColumn)
    probe match {
      case t: Typed =>
        indexDf.where(bloomAnyFilter(spark, t.bloomKeys(spark))(sc) || sc.isNull)
          .select("filename")
      case _ => indexDf.select("filename")
    }
  }

  /** Range columns: per-value containment for small probes, min/max
    * bounding-box overlap for big ones (reference:
    * IndexQueryOperations.scala:572-599,818-885 — but collect-free for the
    * big-probe path). */
  private def rangeCandidates(
      spark: SparkSession, indexDf: DataFrame, ix: IndexDef, probe: Probe): DataFrame = {
    val lo = col(s"${ix.storageColumn}.min")
    val hi = col(s"${ix.storageColumn}.max")
    val exactLimit = GraftConf.rangeProbeExactLimit(spark)
    def containing(points: Seq[Column]): DataFrame =
      if (points.isEmpty) indexDf.where(lit(false))
      else indexDf.where(points.map(v => lo <= v && hi >= v).reduce(_ || _))
    probe match {
      case Values(vs) =>
        val nonNull = vs.filter(_ != null)
        if (nonNull.size <= exactLimit) containing(nonNull.map(lit))
        else {
          // Bounding box may admit false-positive files — acceptable: pruning
          // must only ever over-approximate.
          val qmin = nonNull.map(lit).reduce((a, x) => least(a, x))
          val qmax = nonNull.map(lit).reduce((a, x) => greatest(a, x))
          indexDf.where(hi >= qmin && lo <= qmax)
        }
      case Frame(df) =>
        boundedValues(df, exactLimit) match {
          case Some(ls) =>
            containing(ls.filter(_.value != null).map(GraftSqlBridge.column))
          case None =>
            // Collect-free: aggregate the probe frame's bounds, cross-join
            // the single bounds row against the (small) index table.
            val v = col(df.columns.head)
            val bounds = df.agg(min(v).as("__qmin"), max(v).as("__qmax"))
            indexDf.crossJoin(broadcast(bounds))
              .where(hi >= col("__qmin") && lo <= col("__qmax"))
              .drop("__qmin", "__qmax")
        }
    }
  }

  /** Temporal columns: for each probed value, only the file holding the
    * LATEST timestamp for that value can contribute the latest row
    * (reference: IndexQueryOperations.scala:539-555,769-796). Filename is a
    * determinism tiebreak on equal timestamps.
    *
    * `latestFileOk = false` (multi-column probes — see [[candidateFiles]])
    * skips the latest-file winnowing and returns every file CONTAINING a
    * probed value: with other filters in play the per-value winner can live
    * in a non-latest file, and pruning may only ever over-approximate. */
  private def temporalCandidates(
      indexDf: DataFrame, ix: IndexDef, probe: Resolved,
      latestFileOk: Boolean = true): DataFrame = {
    if (probe == Unprunable) return indexDf.select("filename")
    val exploded = indexDf.where(col(ix.column).isNotNull)
      .select(col("filename"), explode(col(ix.column)).as("__s"))
      .select(col("filename"), col("__s.value").as("__v"), col("__s.max_ts").as("__ts"))
    val matched = probedRows(indexDf.sparkSession, exploded, probe)
    // One hash aggregation with partial (map-side) combine instead of a
    // window over the value key: a window shuffles + sorts every matched
    // index row and lands each hot value on ONE task — at 10^6 files a
    // frequently-updated key is exactly such a hot value. max(struct) keeps
    // whole-stage codegen and pre-aggregates per partition, so skewed keys
    // cost O(partitions), not O(rows-for-key) on a single task.
    //
    // EVERY file tying at a key's max ts is kept (null-safe equality
    // against the per-value max): the row-level dedup breaks ts ties by
    // greatest payload, and the winning payload of a tie may live in any
    // tying file — keeping only one (the old greatest-filename pick) could
    // return a different winner than an unpruned read, making pruning
    // observable. The extra join runs on the small per-file index frame,
    // never on data rows; an all-null-ts key keeps all its files (the
    // over-approximation pruning is allowed).
    // Matched rows are per (file, value); the distinct keeps the frame at
    // one row per file, as [[collectFiles]] expects.
    if (!latestFileOk) return matched.select("filename").distinct()
    val winners = matched.groupBy(col("__v")).agg(max(col("__ts")).as("__mx"))
    matched.join(winners, Seq("__v"))
      .where(col("__ts") <=> col("__mx"))
      .select("filename")
      .distinct()
  }

  /** Files CONTAINING a probed key in a temporal index, with no
    * latest-timestamp restriction — as-of joins need every historical row
    * for a key (the winner at a probe time may live in any file), so only
    * key-containment pruning is safe. */
  def temporalKeyCandidates(
      store: IndexStore,
      ix: IndexDef,
      probeDf: DataFrame): DataFrame = {
    store.indexTable.read() match {
      case None => emptyFilenames(store.spark)
      case Some(indexDf) if !indexDf.columns.contains(ix.storageColumn) =>
        indexDf.select("filename") // not built yet → no pruning
      case Some(indexDf) =>
        resolve(store.spark, Frame(probeDf), elementType(indexDf, ix)) match {
          case Unprunable => indexDf.select("filename")
          case probe =>
            val exploded = indexDf.where(col(ix.column).isNotNull)
              .select(col("filename"), col(ix.column).getField("value").as("__vs"))
              .select(col("filename"), explode(col("__vs")).as("__v"))
            // null entry (not yet backfilled) stays a candidate
            probedRows(store.spark, exploded, probe).select("filename")
              .unionByName(
                indexDf.where(col(ix.storageColumn).isNull).select("filename"))
              .distinct()
        }
    }
  }

  /** Files whose [min,max] range overlaps ANY of the probed spans — the
    * interval-join pruning probe. A bounded span list collapses to an OR of
    * per-span overlap predicates over the (memory-cached) index table; past
    * the cap it degrades to the spans' bounding box (over-approximates,
    * never misses). `spans` must have (lo, hi) as its first two columns. */
  def rangeSpanCandidates(
      store: IndexStore, ix: IndexDef, spans: DataFrame): DataFrame = {
    store.indexTable.read() match {
      case None => emptyFilenames(store.spark)
      case Some(indexDf) if !indexDf.columns.contains(ix.storageColumn) =>
        indexDf.select("filename") // not built yet → no pruning
      case Some(indexDf) =>
        val fLo = col(s"${ix.storageColumn}.min")
        val fHi = col(s"${ix.storageColumn}.max")
        val loC = col(spans.columns(0))
        val hiC = col(spans.columns(1))
        val cap = GraftConf.rangeProbeExactLimit(store.spark)
        // null entry (not yet backfilled) stays a candidate in both branches
        val nullEntry = col(ix.storageColumn).isNull
        val pruned = boundedRows(spans.select(loC, hiC), cap) match {
          case Some(rows) if rows.nonEmpty =>
            indexDf.where(rows
              .map(r => fHi >= GraftSqlBridge.column(r(0)) &&
                fLo <= GraftSqlBridge.column(r(1)))
              .reduce(_ || _) || nullEntry)
          case _ =>
            val bounds = spans.agg(min(loC).as("__qlo"), max(hiC).as("__qhi"))
            indexDf.crossJoin(broadcast(bounds))
              .where((fHi >= col("__qlo") && fLo <= col("__qhi")) || nullEntry)
        }
        pruned.select("filename")
    }
  }

  /** Files possibly holding rows passing one-sided comparison filters on a
    * range-indexed column (the SQL-pushdown probe): `> v`/`>= v` keep files
    * whose max ≥ v, `< v`/`<= v` files whose min ≤ v; several bounds on the
    * same column AND together (a BETWEEN arrives as one of each). Strict
    * bounds use ≥/≤ — an over-approximation, which pruning requires. */
  def rangeFilterCandidates(
      store: IndexStore, ix: IndexDef, ops: Seq[(String, Any)]): DataFrame = {
    store.indexTable.read() match {
      case None => emptyFilenames(store.spark)
      case Some(indexDf) if !indexDf.columns.contains(ix.storageColumn) =>
        indexDf.select("filename") // not built yet → no pruning
      case Some(indexDf) =>
        val lo = col(s"${ix.storageColumn}.min")
        val hi = col(s"${ix.storageColumn}.max")
        val preds = ops.map {
          case (">", v)  => hi >= lit(v)
          case (">=", v) => hi >= lit(v)
          case ("<", v)  => lo <= lit(v)
          case ("<=", v) => lo <= lit(v)
          case (op, _) => throw new IllegalArgumentException(s"unknown bound op $op")
        }
        // null entry (not yet backfilled) stays a candidate
        indexDf.where(preds.reduce(_ && _) || col(ix.storageColumn).isNull)
          .select("filename")
    }
  }

  /** Files whose [min,max] overlaps the query window [lo,hi] — the
    * BETWEEN-style pruning probe behind Index.queryRange. */
  def rangeWindowCandidates(
      store: IndexStore, ix: IndexDef, lo: Any, hi: Any): DataFrame = {
    store.indexTable.read() match {
      case None => emptyFilenames(store.spark)
      case Some(indexDf) if !indexDf.columns.contains(ix.storageColumn) =>
        indexDf.select("filename") // not built yet → no pruning
      case Some(indexDf) =>
        val lc = col(s"${ix.storageColumn}.min")
        val hc = col(s"${ix.storageColumn}.max")
        // null entry (not yet backfilled) stays a candidate
        indexDf.where((hc >= lit(lo) && lc <= lit(hi)) ||
            col(ix.storageColumn).isNull)
          .select("filename")
    }
  }

  /** The rows of `df`, in Catalyst's internal form, when its optimized plan
    * is a `LocalRelation`: a local probe (`toDF` of a local Seq, SQL
    * `VALUES`), or a filter and projection over a driver-local snapshot,
    * which Spark's `ConvertToLocalRelation` folds while optimizing. The rows
    * already sit in driver memory, so reading them runs no job and no SQL
    * execution. */
  private[graft] def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case _ => None
    }

  /** Distinct rows of `df` as typed literals, iff at most `limit`; None ⇒
    * caller must degrade gracefully (no pruning for that column). A local
    * frame's rows are read from its plan ([[localRows]]: no job, already
    * bounded by driver memory) and deduplicated on the driver under the same
    * cap; any other frame runs one bounded `distinct().limit()` collect. */
  private def boundedRows(df: DataFrame, limit: Int): Option[Seq[Seq[Literal]]] = {
    val types = df.schema.map(_.dataType)
    val rows = localRows(df) match {
      case Some(rs) =>
        rs.map(r => types.zipWithIndex.map { case (t, i) => Literal(r.get(i, t), t) }).distinct
      case None =>
        df.distinct().limit(limit + 1).collect().toSeq
          .map(r => types.zipWithIndex.map { case (t, i) => Literal.create(r.get(i), t) })
    }
    if (rows.length > limit) None else Some(rows)
  }

  /** Distinct probe values (first column) as typed literals, null included,
    * iff at most `cap`; see [[boundedRows]]. */
  private def boundedValues(df: DataFrame, cap: Int): Option[Seq[Literal]] =
    boundedRows(df.select(col(df.columns.head)), cap).map(_.map(_.head))
}
