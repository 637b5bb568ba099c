package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Index
import graft.catalog.GraftTable
import graft.harness.Lake
import graft.operators.Dedup

/** The orders lake: one parquet file per custkey band, plus the plain-Spark
  * reference every probe is checked against (per-key row count and
  * o_orderkey sum from one full scan of the same files). */
final class OrdersLake(ctx: Ctx, round: Int) {
  private val spark = ctx.spark
  val dir: String = ctx.dir(s"lake_r$round")
  val name = s"orders_r$round"

  val (files, splitS) = ctx.time {
    Lake.splitByBand(Data.orders(spark, ctx.opts.seed, ctx.opts.sf, ctx.cores),
      s"$dir/orders", "o_custkey", Data.bands(ctx.opts.sf))
  }
  val schema: StructType = spark.read.parquet(files.head).schema
  val fileBytes: Seq[Long] = files.map(f => new File(new java.net.URI(qualified(f))).length())

  private def qualified(f: String) = if (f.contains(":")) f else "file:" + f

  private val BandRe = "band=(\\d+)".r.unanchored
  def bandOf(path: String): Int = path match {
    case BandRe(b) => b.toInt
    case _         => throw new IllegalStateException(s"no band in file path $path")
  }

  private val ref = OrdersLake.reference(ctx, files, bandOf)
  /** key -> (rows, sum of o_orderkey) */
  def keyStats: Map[Long, (Long, Long)] = ref.stats
  /** key -> bands holding it */
  def keyBands: Map[Long, Set[Int]] = ref.bands
  def keysByBand: Map[Int, Array[Long]] = ref.keysByBand

  def expected(ks: Seq[Long]): (Long, Long) =
    ks.distinct.map(k => keyStats.getOrElse(k, (0L, 0L)))
      .foldLeft((0L, 0L)) { case ((c, s), (c2, s2)) => (c + c2, s + s2) }

  /** `n` consecutive keys of `from` from a random position: a key-local probe. */
  def keyRun(rnd: SplittableRandom, n: Int, from: Array[Long]): Seq[Long] = {
    val start = rnd.nextInt(math.max(1, from.length - n + 1))
    from.slice(start, start + n).toSeq
  }

  def newIndex(): Index = {
    val idx = Index(spark, name, schema, "parquet")
    idx.addIndex("o_custkey")
    idx.addRangeIndex("o_orderkey")
    idx.addComputedIndex("o_month", "cast(month(o_orderdate) as bigint)")
    idx
  }

  def remove(): Unit = {
    Index.remove(spark, name)
    spark.catalog.clearCache()
    Ctx.deleteTree(new File(dir))
  }
}

object OrdersLake {
  final class Reference(
      val stats: Map[Long, (Long, Long)],
      val bands: Map[Long, Set[Int]]) {
    val keysByBand: Map[Int, Array[Long]] =
      bands.toSeq.flatMap { case (k, bs) => bs.map(_ -> k) }
        .groupBy(_._1).map { case (b, ks) => b -> ks.map(_._2).toArray.sorted }
  }

  private var cached: Option[Reference] = None

  /** One full scan of the first lake of the run. Every set-up round writes
    * the same rows into the same bands (same seed), so later rounds reuse it. */
  def reference(ctx: Ctx, files: Seq[String], bandOf: String => Int): Reference =
    cached.getOrElse {
      val rows = ctx.spark.read.parquet(files: _*)
        .groupBy(col("o_custkey"), input_file_name().as("f"))
        .agg(count(lit(1)), sum("o_orderkey")).collect()
      val stats = mutable.Map[Long, (Long, Long)]()
      val bands = mutable.Map[Long, Set[Int]]()
      rows.foreach { r =>
        val k = r.getLong(0)
        val (c, s) = stats.getOrElse(k, (0L, 0L))
        stats(k) = (c + r.getLong(2), s + r.getLong(3))
        bands(k) = bands.getOrElse(k, Set.empty[Int]) + bandOf(r.getString(1))
      }
      val ref = new Reference(stats.toMap, bands.toMap)
      cached = Some(ref)
      ref
    }
}

/** Index serving with ingest beside it. Half the lake is indexed; ops
  * cycle through five kinds:
  *  - `write`: `deleteFiles` of the oldest indexed file, then `addFile` +
  *    `update` of the next unindexed one. The deleted file goes back to the
  *    pool, so the indexed set keeps its size and op cost does not drift.
  *  - `fresh_join`: `Index.join` on 19 keys of the new file and one of the
  *    deleted file. It is the first read of the new snapshot, so it misses
  *    the index-table cache; the new rows must be visible, the old must not.
  *  - `join`, `point`, `sql_join`: `Index.join` (20 keys), `Index.query`
  *    (5 keys) and a catalog SQL join through `GraftJoinRule` (20 keys),
  *    key-local in one indexed file; these hit the cache. */
final class Serve(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private var lake: OrdersLake = _
  private var idx: Index = _
  private val live = mutable.Queue[String]()
  private val pool = mutable.Queue[String]()
  private var added = ""
  private var removed = ""
  val cycleOps = 5
  val warmupCycles = 1

  def setup(round: Int): (Double, Double) = {
    lake = new OrdersLake(ctx, round)
    val half = lake.files.size / 2
    live.clear()
    pool.clear()
    live ++= lake.files.take(half)
    pool ++= lake.files.drop(half)
    val (i, buildS) = ctx.time {
      val ix = lake.newIndex()
      ix.addFile(live.toSeq: _*)
      ix.update()
      ix
    }
    idx = i
    if (!spark.experimental.extraOptimizations.contains(graft.catalog.GraftJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.catalog.GraftJoinRule
    (lake.splitS, buildS)
  }

  def teardown(): Unit = lake.remove()
  def indexedDataBytes: Long = live.toSeq.map(f => lake.fileBytes(lake.files.indexOf(f))).sum
  def docsPerPass: Long = 0L

  /** Expected (rows, o_orderkey sum) over the files indexed now. */
  private def expected(keys: Seq[Long]): (Long, Long) = {
    val bands = live.map(lake.bandOf).toSet
    lake.expected(keys.filter(k => lake.keyBands.getOrElse(k, Set.empty[Int]).exists(bands)))
  }

  private def countSum(r: Row): (Long, Long) =
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))

  private def joinStep(t: StepTimer, name: String, keys: Seq[Long]): (Long, Long) = {
    import spark.implicits._
    val probe = keys.toDF("o_custkey")
    val r = t.step(name) {
      val joined = t.tracer.span("IndexProbe.locate")(idx.join(probe, Seq("o_custkey")))
      t.tracer.span("FileReader.read")(joined.agg(count(lit(1)), sum("o_orderkey")).first())
    }
    if (t.traced) ctx.record("matched_rows", r.getLong(0).toDouble)
    countSum(r)
  }

  /** Located-file figures for a traced probe, from a separate untimed locate. */
  private def recordPruning(keys: Seq[Long]): Unit = {
    import spark.implicits._
    val located = idx.locateFilesFromDataFrame(keys.toDF("o_custkey"), Seq("o_custkey"))
    val holding = keys.flatMap(k => lake.keyBands.getOrElse(k, Set.empty[Int])).toSet
    ctx.record("files_read_frac", located.size.toDouble / live.size)
    if (located.nonEmpty)
      ctx.record("empty_file_frac",
        located.count(f => !holding.contains(lake.bandOf(f))).toDouble / located.size)
  }

  private def check(i: Int, keys: Seq[Long], got: (Long, Long)): Boolean = {
    val (en, es) = expected(keys)
    got == ((ctx.expect(i, en), es))
  }

  def op(i: Int, t: StepTimer): () => Boolean = {
    val rnd = new SplittableRandom(ctx.opts.seed * 1000003L + i)
    def localKeys(n: Int) = {
      val band = lake.bandOf(live(rnd.nextInt(live.size)))
      lake.keyRun(rnd, n, lake.keysByBand(band))
    }
    i % 5 match {
      case 0 =>
        t.kind = "write"
        val old = live.dequeue()
        val next = pool.dequeue()
        t.step("delete")(t.tracer.span("IndexBuild.delete")(idx.deleteFiles(old)))
        t.step("append") {
          t.tracer.span("IndexBuild.add_file")(idx.addFile(next))
          t.tracer.span("IndexBuild.update")(idx.update())
        }
        live.enqueue(next)
        pool.enqueue(old)
        added = next
        removed = old
        // the fresh_join that follows checks that the write is visible
        () => true
      case 1 =>
        t.kind = "fresh_join"
        val keys = lake.keyRun(rnd, 19, lake.keysByBand(lake.bandOf(added))) ++
          lake.keyRun(rnd, 1, lake.keysByBand(lake.bandOf(removed)))
        val got = joinStep(t, "fresh_join", keys)
        () => {
          if (t.traced) recordPruning(keys)
          check(i, keys, got)
        }
      case 2 =>
        t.kind = "join"
        val keys = localKeys(20)
        val got = joinStep(t, "join", keys)
        () => {
          var ok = check(i, keys, got)
          if (ctx.opts.trace) {
            import spark.implicits._
            val (full, secs) = ctx.time(spark.read.parquet(live.toSeq: _*)
              .join(keys.toDF("o_custkey"), Seq("o_custkey"))
              .agg(count(lit(1)), sum("o_orderkey")).first())
            ctx.record("fullscan_ms", secs * 1000)
            ok = ok && countSum(full) == got
            if (t.traced) recordPruning(keys)
          }
          ok
        }
      case 3 =>
        t.kind = "point"
        val keys = localKeys(5)
        val r = t.step("point") {
          val df = t.tracer.span("IndexProbe.locate")(idx.query(Map("o_custkey" -> keys)))
          t.tracer.span("FileReader.read")(df.agg(count(lit(1)), sum("o_orderkey")).first())
        }
        if (t.traced) ctx.record("matched_rows", r.getLong(0).toDouble)
        val got = countSum(r)
        () => check(i, keys, got)
      case _ =>
        t.kind = "sql_join"
        val keys = localKeys(20)
        val values = keys.map(k => s"(${k}L)").mkString(", ")
        val q = s"SELECT count(1), sum(o.o_orderkey) FROM graft.${lake.name} o " +
          s"JOIN (VALUES $values) AS p(k) ON o.o_custkey = p.k"
        val (df, r) = t.step("sql_join") {
          val d = t.tracer.span("GraftJoinRule.plan") {
            val d = spark.sql(q)
            d.queryExecution.executedPlan
            d
          }
          (d, t.tracer.span("GraftCatalog.exec")(d.collect().head))
        }
        val got = countSum(r)
        // GraftJoinRule leaves the plan untouched when its rewrite fails, and
        // the plain catalog scan then gives the same answer: an op whose
        // optimized plan still scans the graft table counts as failed
        () => !scansGraftTable(df.queryExecution.optimizedPlan) && check(i, keys, got)
    }
  }

  private def scansGraftTable(plan: LogicalPlan): Boolean = plan.find {
    case r: DataSourceV2Relation     => r.table.isInstanceOf[GraftTable]
    case r: DataSourceV2ScanRelation => r.relation.table.isInstanceOf[GraftTable]
    case _                           => false
  }.isDefined
}

/** Batch curation pass over a seeded corpus with planted duplicates:
  * exact dedup, MinHash LSH pairs and character n-gram Jaccard pairs. */
final class Curate(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private var corpus: Data.Corpus = _
  private var dir: String = _
  private var distinctTexts = 0L
  val cycleOps = 1
  // passes keep getting faster for several passes as the JIT compiles the
  // operators' driver-side planning and row code
  val warmupCycles = 2
  val MinhashThreshold = 0.8
  val NgramThreshold = 0.7
  val NgramN = 5
  val LshMissesAllowed = 2

  def setup(round: Int): (Double, Double) = {
    dir = ctx.dir(s"corpus_r$round")
    val (c, splitS) = ctx.time {
      import spark.implicits._
      val c = Data.corpus(ctx.opts.seed, ctx.opts.sf)
      c.docs.toDF("doc_id", "text").repartition(ctx.cores).write.mode("overwrite").parquet(dir)
      c
    }
    corpus = c
    distinctTexts = spark.read.parquet(dir).select("text").distinct().count()
    require(distinctTexts == corpus.distinctTexts, "corpus written with lost or changed documents")
    (splitS, 0.0)
  }

  def teardown(): Unit = {
    spark.catalog.clearCache()
    Ctx.deleteTree(new File(dir))
  }

  def indexedDataBytes: Long = 0L
  def docsPerPass: Long = corpus.docs.size.toLong

  private def pairs(rows: Array[Row]): Set[(Long, Long)] = rows.map { r =>
    val a = r.getAs[Long]("a_id")
    val b = r.getAs[Long]("b_id")
    (math.min(a, b), math.max(a, b))
  }.toSet

  def op(i: Int, t: StepTimer): () => Boolean = {
    t.kind = "pass"
    val df = spark.read.parquet(dir)
    val groups = t.step("Dedup.exact")(Dedup.exactByHash(df, "text", "doc_id").count())
    val mh = t.step("Dedup.minhash")(
      Dedup.minhashPairs(df, "doc_id", "text", MinhashThreshold).collect())
    val ng = t.step("Dedup.ngram")(
      Dedup.ngramJaccardPairs(df, "doc_id", "text", NgramThreshold, NgramN).collect())
    () => {
      val planted = corpus.planted
      val (mhPairs, ngPairs) = (pairs(mh), pairs(ng))
      val mhRecall = (mhPairs & planted).size.toDouble / planted.size
      val ngRecall = (ngPairs & planted).size.toDouble / planted.size
      ctx.record("planted_recall", math.min(mhRecall, ngRecall))
      // LSH misses a planted pair (token Jaccard about 0.9) with
      // probability about 1e-4 at 16 bands of 8 rows, so up to
      // LshMissesAllowed misses pass; the n-gram join is exact. Neither may
      // report a pair that was not planted.
      groups == ctx.expect(i, distinctTexts) &&
        mhPairs.subsetOf(planted) && (mhPairs & planted).size >= planted.size - LshMissesAllowed &&
        ngPairs.subsetOf(planted) && ngRecall == 1.0
    }
  }
}
