package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.harness.Lake
import graft.sources.FileReader

/** Differential soundness of file locate over every membership kind
  * (regular, computed, exploded, bloom, exploded_bloom, temporal), probe
  * type (int, long, double, decimal, string), and probe shape (literal
  * values, local and distributed frames), on the sf0.001 orders bands, with
  * and without eviction to the overflow table and after a backfill that runs
  * in two-file batches.
  *
  * The reference is the set of lake files that truly hold the value,
  * `spark.read.parquet(f).where(<column> === lit(v))` under Spark's own
  * comparison, never the index's own rules. Every located set must contain
  * it. The array kinds and temporal must also equal it whenever the value
  * converts to the column's element type (or cannot equal any element), and
  * locate every file when it does not. */
class ProbeSoundnessSpec extends GraftSuite {
  import spark.implicits._

  lazy val lake: Lake = Lake.get(spark, sf)

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** One indexed column: its alias, the SQL expression it indexes, whether
    * that expression is an array whose elements are indexed, and the type
    * of the values it holds. */
  private case class Col(alias: String, sql: String, exploded: Boolean, dt: DataType)

  private val bigint = Col("o_custkey", "o_custkey", exploded = false, LongType)
  private val arrayCols = Seq(
    bigint,
    Col("ck_dbl", "cast(o_custkey as double)", exploded = false, DoubleType),
    Col("ck_dec", "cast(o_custkey as decimal(12,2))", exploded = false, DecimalType(12, 2)),
    Col("ck_str", "cast(o_custkey as string)", exploded = false, StringType),
    Col("ck_arr", "array(o_custkey)", exploded = true, LongType))
  private val bloomCols = Seq(
    bigint,
    Col("eb_big", "array(o_custkey)", exploded = true, LongType),
    Col("eb_dbl", "array(cast(o_custkey as double))", exploded = true, DoubleType),
    Col("eb_dec", "array(cast(o_custkey as decimal(12,2)))", exploded = true,
      DecimalType(12, 2)),
    Col("eb_str", "array(cast(o_custkey as string))", exploded = true, StringType))

  private def addArrayKinds(idx: Index): Unit = arrayCols.foreach {
    case c if c.alias == "o_custkey" => idx.addIndex(c.alias)
    case c if c.exploded => idx.addExplodedIndex(c.alias, c.sql)
    case c => idx.addComputedIndex(c.alias, c.sql)
  }
  private def addBloomKinds(idx: Index): Unit = bloomCols.foreach {
    case c if c.alias == "o_custkey" => idx.addBloomIndex(c.alias)
    case c => idx.addExplodedBloomIndex(c.alias, c.sql, expectedItems = 10000L)
  }
  private def addTemporal(idx: Index): Unit = idx.addTemporalIndex("o_custkey", "o_orderdate")

  /** `largeIndexLimit` at the median per-file distinct count: about half the
    * files evict their arrays to the overflow tables. */
  private lazy val evictLimit: Long = {
    val counts = spark.read.parquet(lake.ordersFiles: _*)
      .groupBy(input_file_name()).agg(countDistinct("o_custkey"))
      .collect().map(_.getLong(1)).sorted
    counts(counts.length / 2)
  }

  private def built(name: String, add: Index => Unit): Index = {
    val idx = Index(spark, name, lake.orders.schema, "parquet")
    add(idx)
    idx.addFile(lake.ordersFiles: _*)
    idx.update()
  }

  /** `add`'s indexes backfilled over files already indexed on another
    * column, in two-file batches, with eviction. */
  private def backfilled(name: String, add: Index => Unit): Index = {
    val idx = Index(spark, name, lake.orders.schema, "parquet")
    idx.addIndex("o_orderstatus")
    idx.addFile(lake.ordersFiles: _*)
    idx.update()
    withConf("spark.graft.largeIndexLimit" -> evictLimit.toString,
        "spark.graft.buildBatchMaxFiles" -> "2") {
      add(idx)
      idx.update()
    }
  }

  /** Every lake row tagged with its qualified file path. */
  private lazy val tagged: DataFrame = lake.ordersFiles
    .map(f => spark.read.parquet(f).withColumn("__f", lit(FileReader.qualify(spark, f))))
    .reduce(_ unionByName _)
    .cache()

  private lazy val allFiles: Set[String] =
    lake.ordersFiles.map(FileReader.qualify(spark, _)).toSet

  private val truthCache = scala.collection.mutable.Map.empty[(String, Any), Set[String]]

  /** Files holding a row whose column value equals `v` under Spark's
    * comparison. */
  private def holding(c: Col, v: Any): Set[String] =
    truthCache.getOrElseUpdate((c.sql, v), {
      val x = if (c.exploded) explode(expr(c.sql)) else expr(c.sql)
      tagged.select(col("__f"), x.as("__x")).where(col("__x") === lit(v))
        .select("__f").as[String].collect().toSet
    })

  /** The temporal reference: files holding the key's row at its latest
    * `o_orderdate` (every file tying at it). */
  private def latestHolding(v: Any): Set[String] =
    truthCache.getOrElseUpdate(("latest", v), {
      val rows = tagged.where(col("o_custkey") === lit(v))
      rows.crossJoin(rows.agg(max("o_orderdate").as("__mx")))
        .where(col("o_orderdate") === col("__mx"))
        .select("__f").as[String].collect().toSet
    })

  /** Probe values around key `k`, each with the type a frame of it has. */
  private def probes(k: Long): Seq[(String, Any, DataType)] = Seq(
    ("int", k.toInt, IntegerType),
    ("long", k, LongType),
    ("double", k.toDouble, DoubleType),
    ("double fractional", k + 0.5, DoubleType),
    ("double 2^53+2", (1L << 53).toDouble + 2, DoubleType),
    ("decimal", java.math.BigDecimal.valueOf(k).setScale(1), DecimalType(20, 3)),
    ("decimal fractional", java.math.BigDecimal.valueOf(k).add(new java.math.BigDecimal("0.005")),
      DecimalType(20, 3)),
    ("string", k.toString, StringType))

  /** Does the value convert to the column's type (or provably equal no
    * element), so that an exact located set is expected? */
  private def prunable(c: Col, v: Any): Boolean = (c.dt, v) match {
    case (StringType, _: String) => true
    case (StringType, _) | (_, _: String) => false
    case (LongType, d: Double) => math.abs(d) < (1L << 53).toDouble
    case _ => true
  }

  test("every located set holds the files that hold the probed value, for each " +
      "index kind, probe type and shape, with and without eviction and backfill") {
    val k = tagged.where(col("__f") === allFiles.max).select("o_custkey").as[Long].first()
    val arrayIdx = Seq(
      "plain" -> built("snd_arr", addArrayKinds),
      "evicted" -> withConf("spark.graft.largeIndexLimit" -> evictLimit.toString) {
        built("snd_arr_ev", addArrayKinds) },
      "backfilled" -> backfilled("snd_arr_bf", addArrayKinds))
    val bloomIdx = Seq(
      "plain" -> built("snd_bloom", addBloomKinds),
      "backfilled" -> backfilled("snd_bloom_bf", addBloomKinds))
    val temporalIdx = Seq(
      "plain" -> built("snd_tmp", addTemporal),
      "backfilled" -> backfilled("snd_tmp_bf", addTemporal))
    val evicted = new graft.store.IndexStore(spark, "snd_arr_ev").indexTable.read().get
      .where(col("o_custkey").isNull).count()
    assert(evicted > 0 && evicted < allFiles.size, s"eviction fixture evicted $evicted files")

    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(kind: String, state: String, idx: Index, c: Col, exact: Boolean,
        truth: Any => Set[String]): Unit =
      for ((pname, v, vt) <- probes(k)) {
        val frame = spark.createDataFrame(Seq(Row(v)).asJava,
          StructType(Seq(StructField(c.alias, vt))))
        val shapes = Seq(
          "values" -> (() => idx.locateFiles(Map(c.alias -> Seq(v)))),
          "local frame" -> (() => idx.locateFilesFromDataFrame(frame, Seq(c.alias))),
          "distributed frame" -> (() =>
            idx.locateFilesFromDataFrame(frame.repartition(2), Seq(c.alias))))
        val want = truth(v)
        val expected = if (prunable(c, v)) want else allFiles
        for ((shape, locate) <- shapes) {
          val got = locate().toSet
          val what = s"$kind $state ${c.alias} ${c.dt.simpleString} $pname $shape"
          if (!want.subsetOf(got))
            failures += s"$what: missed ${(want -- got).size} of ${want.size} holding files"
          else if (exact && got != expected)
            failures += s"$what: located ${got.size} files, expected ${expected.size}"
        }
      }

    for ((state, idx) <- arrayIdx; c <- arrayCols)
      check(if (c.exploded) "exploded" else if (c == bigint) "regular" else "computed",
        state, idx, c, exact = true, holding(c, _))
    for ((state, idx) <- bloomIdx; c <- bloomCols)
      check(if (c.exploded) "exploded_bloom" else "bloom",
        state, idx, c, exact = false, holding(c, _))
    for ((state, idx) <- temporalIdx)
      check("temporal", state, idx, bigint, exact = true, latestHolding)
    tagged.unpersist()
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
