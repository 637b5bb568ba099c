package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.harness.Lake
import graft.operators.IndexBuild
import graft.sources.FileReader
import graft.store.{IndexStore, SnapshotTable}

/** Array-kind file locate (regular / computed / exploded): how many Spark
  * jobs a locate costs over each index snapshot form (driver-local, or
  * Spark-cached under `spark.sql.autoBroadcastJoinThreshold=-1`), its
  * located sets against an explode + `isin` reference over the index and
  * overflow tables in both forms, and files whose values were evicted to
  * the overflow table. All over the sf0.001 orders bands. */
class LocateSpec extends GraftSuite {
  import spark.implicits._

  lazy val lake: Lake = Lake.get(spark, sf)

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Qualified paths of the lake files holding `key` in `column`. */
  private def holding(column: String, key: Long): Set[String] =
    lake.ordersFiles
      .filter(f => spark.read.parquet(f).where(col(column) === key).limit(1).count() > 0)
      .map(FileReader.qualify(spark, _)).toSet

  /** The orders bands indexed on o_custkey, and on it cast to double, with
    * `largeIndexLimit` at the median per-file distinct count: about half the
    * files evict their arrays to the overflow tables (leaving auto-blooms),
    * the rest keep them. */
  private lazy val evictLimit: Long = {
    val counts = spark.read.parquet(lake.ordersFiles: _*)
      .groupBy(input_file_name()).agg(countDistinct("o_custkey"))
      .collect().map(_.getLong(1)).sorted
    counts(counts.length / 2)
  }

  private def evictIndex(name: String): Index =
    withConf("spark.graft.largeIndexLimit" -> evictLimit.toString) {
      val idx = Index(spark, name, lake.orders.schema, "parquet")
      idx.addIndex("o_custkey")
      idx.addComputedIndex("o_ckd", "cast(o_custkey as double)")
      idx.addFile(lake.ordersFiles: _*)
      idx.update()
    }

  private lazy val evictIdx: Index = evictIndex("locate_evict")

  /** regular + computed + exploded over the bands, no overflow; then one
    * file per column gets a NULL entry, the state of a registered file
    * whose backfill has not run yet. */
  private def diffIndex(name: String): Index = {
    val idx = Index(spark, name, lake.orders.schema, "parquet")
    idx.addIndex("o_custkey")
    idx.addComputedIndex("o_ck3", "o_custkey div 3")
    idx.addExplodedIndex("o_tok",
      "array(concat('c', cast(o_custkey as string)), o_orderstatus)")
    idx.addFile(lake.ordersFiles: _*)
    idx.update()
    val store = new IndexStore(spark, name)
    val t = store.indexTable.read().get
    val fs = t.select("filename").as[String].collect().sorted
    store.indexTable.overwrite(Seq("o_custkey", "o_ck3", "o_tok").zipWithIndex
      .foldLeft(t) { case (df, (c, i)) =>
        df.withColumn(c, when(col("filename") === fs(i), lit(null)).otherwise(col(c)))
      })
    idx
  }

  private lazy val diffIdx: Index = diffIndex("locate_diff")

  private val cachedForm = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  private def optimized(t: SnapshotTable) = t.read().get.queryExecution.optimizedPlan

  /** Reference located set: files whose array or overflow rows hold a
    * probed value (`isin` over the exploded values), plus unbuilt files —
    * a null entry, unless an auto-bloom marks it evicted. */
  private def reference(store: IndexStore, c: String, vs: Seq[Any]): Set[String] = {
    val t = store.indexTable.read().get
    val large = store.largeTable(c).read()
    val ab = IndexBuild.autoBloomColumn(c)
    val unbuilt =
      if (large.isDefined && t.columns.contains(ab)) col(c).isNull && col(ab).isNull
      else col(c).isNull
    val main = t.select(col("filename"), explode(col(c)).as("v"))
    val all = large.fold(main)(l =>
      main.unionByName(l.select(col("filename"), col("value").as("v"))))
    val hits =
      if (vs.isEmpty) Set.empty[String]
      else all.where(col("v").isin(vs: _*)).select("filename").as[String].collect().toSet
    hits ++ t.where(unbuilt).select("filename").as[String].collect()
  }

  test("a warm array-kind locate runs no Spark job over a driver-local index " +
      "snapshot and one over a Spark-cached one: local probe, literal values, " +
      "and the catalog join rewrite at planning") {
    val keys = Seq(1L, 7L, 42L)
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    if (!spark.experimental.extraOptimizations.contains(graft.catalog.GraftJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.catalog.GraftJoinRule
    val located = Seq(("locate_form_local", Seq.empty[(String, String)], 0),
        ("locate_form_cached", Seq(cachedForm), 1)).map { case (name, conf, jobs) =>
      withConf(conf: _*) {
        val idx = Index(spark, name, lake.orders.schema, "parquet")
        idx.addIndex("o_custkey")
        idx.addFile(lake.ordersFiles: _*)
        idx.update()
        val table = new IndexStore(spark, name).indexTable
        // the version's first read collects a driver-local snapshot (one
        // job); a Spark-cached one is filled by its first action
        assert(jobsIn(table.read()) == 1 - jobs, name)
        optimized(table) match {
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            assert(jobs == 0, s"$name: the index table must be Spark-cached")
          case _: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
            assert(jobs == 1, s"$name: the index table must be driver-local")
          case p => fail(s"$name: unexpected snapshot form\n$p")
        }
        val files = idx.locateFiles(Map("o_custkey" -> keys)) // the cache is warm
        assert(jobsIn(idx.locateFilesFromDataFrame(keys.toDF("o_custkey"),
          Seq("o_custkey"))) == jobs, name)
        assert(jobsIn(idx.locateFiles(Map("o_custkey" -> keys))) == jobs, name)
        val q = spark.sql(s"SELECT o.o_orderkey FROM graft.$name o " +
          "JOIN (VALUES (1L), (7L), (42L)) AS p(k) ON o.o_custkey = p.k")
        var plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = null
        assert(jobsIn { plan = q.queryExecution.optimizedPlan } == jobs, name)
        assert(!plan.toString.contains("GraftTable"),
          s"the join rewrite must replace the catalog scan:\n$plan")
        files.toSet
      }
    }
    assert(located.distinct.size == 1, "both snapshot forms locate the same files")
  }

  test("array-kind located sets equal an explode + isin reference " +
      "(kinds, null entries, overflow, caps, probe types, coerced probes, nulls, empty)") {
    matchesReference(diffIdx, evictIdx)
  }

  test("array-kind located sets equal the reference over Spark-cached index snapshots") {
    withConf(cachedForm) {
      val diff = diffIndex("locate_diff_cached")
      val evict = evictIndex("locate_evict_cached")
      matchesReference(diff, evict)
      val store = new IndexStore(spark, "locate_evict_cached")
      for (t <- Seq(store.indexTable, store.largeTable("o_custkey")))
        assert(optimized(t).isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation],
          s"the snapshot must be Spark-cached:\n${optimized(t)}")
    }
  }

  /** The located sets of every kind, probe shape and cap regime on
    * `diffIdx` and `evictIdx` against [[reference]]. */
  private def matchesReference(diffIdx: Index, evictIdx: Index): Unit = {
    val s = spark
    import s.implicits._
    val ks = lake.orders.select("o_custkey").distinct().as[Long].collect().sorted
    val spread = (0 until 6).map(i => ks(i * ks.length / 6))
    val absent = -5L
    // probeValueLimit + 1 = 4 values, probeBroadcastLimit + 1 = 7 values
    val longSets: Seq[Seq[Long]] =
      Seq(Seq(spread(2)), spread.take(3) :+ absent, spread :+ absent)
    val toks = diffIdx.locateFiles(Map("o_tok" -> Seq("F"))).size // builds diffIdx
    assert(toks > 0)
    val tokSets: Seq[Seq[String]] = longSets.map(_.map(k => s"c$k")) :+ Seq("F", "zz")

    val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]
    // A string probe on a numeric column does not convert to the element
    // type, so the column is not pruned: every file is located. A frame past
    // probeBroadcastLimit is not collected; it semi-joins the index rows.
    def check(name: String, idx: Index, c: String, vs: Seq[Any],
        frame: Option[DataFrame], unpruned: Boolean = false): Unit = {
      val store = new IndexStore(spark, idx.name)
      val want =
        if (unpruned) store.indexTable.read().get.select("filename").as[String].collect().toSet
        else reference(store, c, vs)
      val got = frame match {
        case None => idx.locateFiles(Map(c -> vs)).toSet
        case Some(df) => idx.locateFilesFromDataFrame(df, Seq(c)).toSet
      }
      if (got != want)
        mismatches += s"${idx.name}.$c $name ${vs.mkString("[", ",", "]")}: " +
          s"got ${got.size} files, reference ${want.size} " +
          s"(extra ${(got -- want).size}, missing ${(want -- got).size})"
    }

    withConf("spark.graft.probeValueLimit" -> "3",
        "spark.graft.probeBroadcastLimit" -> "6") {
      val longCols = Seq(diffIdx -> "o_custkey", diffIdx -> "o_ck3",
        evictIdx -> "o_custkey")
      for ((idx, c) <- longCols; ls0 <- longSets) {
        val ls = if (c == "o_ck3") ls0.map(k => if (k < 0) k else k / 3) else ls0
        val ints = ls.map(_.toInt)
        val strs = ls.map(_.toString)
        check("values long", idx, c, ls, None)
        check("values int", idx, c, ints, None)
        check("values string", idx, c, strs, None, unpruned = true)
        check("frame local long", idx, c, ls, Some(ls.toDF(c)))
        check("frame local int", idx, c, ints, Some(ints.toDF(c)))
        check("frame local string", idx, c, strs, Some(strs.toDF(c)),
          unpruned = strs.size <= 6)
        check("frame distributed long", idx, c, ls, Some(ls.toDF(c).repartition(2)))
      }
      for (ts <- tokSets) {
        check("values string", diffIdx, "o_tok", ts, None)
        check("frame local string", diffIdx, "o_tok", ts, Some(ts.toDF("o_tok")))
        check("frame distributed string", diffIdx, "o_tok", ts,
          Some(ts.toDF("o_tok").repartition(2)))
      }
      // values Spark coerces before comparing, which print differently from
      // the elements they equal: double and decimal probes on the evicted
      // bigint column, integral probes on the evicted double column
      for (ls <- longSets) {
        val dbls = ls.map(_.toDouble)
        val decs = ls.map(k => java.math.BigDecimal.valueOf(k).setScale(1))
        check("values double", evictIdx, "o_custkey", dbls, None)
        check("values decimal", evictIdx, "o_custkey", decs, None)
        check("frame local double", evictIdx, "o_custkey", dbls, Some(dbls.toDF("o_custkey")))
        check("frame distributed double", evictIdx, "o_custkey", dbls,
          Some(dbls.toDF("o_custkey").repartition(2)))
        check("values int", evictIdx, "o_ckd", ls.map(_.toInt), None)
        check("values long", evictIdx, "o_ckd", ls, None)
        check("frame local long", evictIdx, "o_ckd", ls, Some(ls.toDF("o_ckd")))
      }
      for ((idx, c) <- longCols) {
        val withNull = Seq[java.lang.Long](spread(1), null)
        check("values with null", idx, c, withNull, None)
        check("frame with null", idx, c, withNull, Some(withNull.toDF(c)))
        check("values empty", idx, c, Seq.empty, None)
        check("frame empty", idx, c, Seq.empty, Some(Seq.empty[Long].toDF(c)))
      }
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("files evicted to the overflow table are located only when they hold " +
      "a probed key, also when evicted during a later backfill") {
    val t = new IndexStore(spark, "locate_evict").indexTable.read().get
    val evicted = t
      .where(col("o_custkey").isNull && col(IndexBuild.autoBloomColumn("o_custkey")).isNotNull)
      .select("filename").as[String].collect().toSet
    assert(evicted.nonEmpty && evicted.size < lake.ordersFiles.size,
      s"fixture must evict some but not all files (evicted ${evicted.size})")
    val keptKey = t.where(col("o_custkey").isNotNull)
      .select(explode(col("o_custkey"))).as[Long].first()
    val evictedKey = spark.read.parquet(evicted.toSeq: _*)
      .select("o_custkey").as[Long].first()
    for (k <- Seq(keptKey, evictedKey)) {
      val want = holding("o_custkey", k)
      assert(want.size == 1)
      assert(evictIdx.locateFiles(Map("o_custkey" -> Seq(k))).toSet == want, s"key $k")
      assert(evictIdx.locateFilesFromDataFrame(Seq(k).toDF("o_custkey"),
        Seq("o_custkey")).toSet == want, s"key $k (frame)")
    }

    // o_custkey added after the files were indexed: its backfill evicts
    // and keeps the auto-bloom, so evicted files are located by their rows
    val idx = Index(spark, "locate_backfill", lake.orders.schema, "parquet")
    idx.addIndex("o_orderstatus")
    idx.addFile(lake.ordersFiles: _*)
    idx.update()
    withConf("spark.graft.largeIndexLimit" -> evictLimit.toString) {
      idx.addIndex("o_custkey")
      idx.update()
    }
    val bt = new IndexStore(spark, "locate_backfill").indexTable.read().get
    val backfillEvicted = bt.where(col("o_custkey").isNull)
      .select("filename").as[String].collect().toSet
    assert(backfillEvicted.nonEmpty, "the backfill must evict some files")
    val located = idx.locateFiles(Map("o_custkey" -> Seq(evictedKey))).toSet
    assert(located == holding("o_custkey", evictedKey))
  }

  test("a backfill over several batches keeps every batch's entries") {
    val idx = Index(spark, "locate_backfill_batches", lake.orders.schema, "parquet")
    idx.addIndex("o_orderstatus")
    idx.addFile(lake.ordersFiles: _*)
    idx.update()
    withConf("spark.graft.buildBatchMaxFiles" -> "2") {
      idx.addIndex("o_custkey")
      idx.update()
    }
    val store = new IndexStore(spark, "locate_backfill_batches")
    val t = store.indexTable.read().get
    assert(t.count() == lake.ordersFiles.size)
    assert(t.where(col("o_custkey").isNull).count() == 0,
      "a later batch cleared an earlier batch's entries")
    val stats = store.statsTable.read().get
    assert(stats.where(col(IndexBuild.statsColumn("o_custkey")).isNull).count() == 0,
      "a later batch cleared an earlier batch's stats")
    val key = spark.read.parquet(lake.ordersFiles.head).select("o_custkey").as[Long].first()
    assert(idx.locateFiles(Map("o_custkey" -> Seq(key))).toSet == holding("o_custkey", key))
  }
}
