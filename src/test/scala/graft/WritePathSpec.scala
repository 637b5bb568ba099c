package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.In
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

import graft.harness.Lake
import graft.sources.FileReader
import graft.store.{IndexStore, SnapshotTable}

/** The index write path over the sf0.001 orders bands: `deleteFiles` is a
  * tombstone (no Spark job, no parquet), and after delete → addFile →
  * update cycles, or deletes that force a segment fold, the index answers
  * exactly like a fresh index built over the same live files. Segment
  * writes carry the table schema, so reading them infers none. */
class WritePathSpec extends GraftSuite {
  lazy val lake: Lake = Lake.get(spark, sf)

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** `largeIndexLimit` at the median per-file distinct `o_custkey` count:
    * about half the files evict their arrays to the overflow table. */
  private lazy val evictConf: (String, String) = {
    val counts = spark.read.parquet(lake.ordersFiles: _*)
      .groupBy(input_file_name()).agg(countDistinct("o_custkey"))
      .collect().map(_.getLong(1)).sorted
    "spark.graft.largeIndexLimit" -> counts(counts.length / 2).toString
  }

  private def q(f: String): String = FileReader.qualify(spark, f)

  private def build(name: String, files: Seq[String]): Index = {
    val idx = Index(spark, name, lake.orders.schema, "parquet")
    idx.addIndex("o_custkey")
    idx.addIndex("o_orderstatus")
    idx.addRangeIndex("o_orderkey")
    idx.addFile(files: _*)
    idx.update()
  }

  /** Every `.parquet` file under the index's store directories. */
  private def storeParquet(store: IndexStore): Set[String] = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath)
      else Nil
    Seq(store.indexDir, s"${store.root}/filelists/${store.name}")
      .flatMap(d => walk(new File(d.stripPrefix("file:")))).toSet
  }

  private def perFile(t: SnapshotTable): Map[String, Long] =
    t.read().get.groupBy("filename").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** `idx` answers `files`, `unindexedFiles`, `locateFiles` and `query`
    * like a fresh index over `live`, and holds one index row and one stats
    * row per live file. */
  private def assertLikeFresh(idx: Index, live: Seq[String]): Unit = {
    val fresh = build(s"${idx.name}_fresh", live)
    val want = live.map(q).toSet
    assert(idx.files.sorted == want.toSeq.sorted)
    assert(idx.unindexedFiles.isEmpty)
    val store = new IndexStore(spark, idx.name)
    val freshStore = new IndexStore(spark, fresh.name)
    assert(perFile(store.indexTable) == want.map(_ -> 1L).toMap)
    assert(perFile(store.statsTable) == want.map(_ -> 1L).toMap)
    val overflow = (s: IndexStore) =>
      s.largeTable("o_custkey").read().map(_.select("filename").distinct()
        .collect().map(_.getString(0)).toSet)
    assert(overflow(freshStore).exists(_.nonEmpty), "the fixture must evict")
    assert(overflow(store) == overflow(freshStore))
    // keys spread over every band, so deleted bands are probed too
    val keys = lake.orders.select("o_custkey").distinct().orderBy("o_custkey")
      .collect().map(_.getLong(0)).grouped(40).map(_.head).toSeq
    Seq[Map[String, Seq[Any]]](
      Map("o_custkey" -> keys),
      Map("o_orderstatus" -> Seq("F")),
      Map("o_custkey" -> keys, "o_orderstatus" -> Seq("O"))).foreach { m =>
      assert(idx.locateFiles(m).toSet == fresh.locateFiles(m).toSet, s"locate $m")
      assertSameRows(idx.query(m), fresh.query(m))
    }
  }

  test("segment writes carry the schema to the next read; a cold read merges segments") {
    import spark.implicits._
    val root = tmpDir("graft_wp_schema_")
    val t = new SnapshotTable(spark, s"$root/tbl")
    t.overwrite(Seq(("f1", 1L)).toDF("filename", "v"))
    t.appendReplacing(Seq(("f2", 2L, "b")).toDF("filename", "v", "extra"),
      "filename", Seq("f2"))
    t.deleteLiteralKeys("filename", Seq("f1"))
    assert(jobsIn(t.read().get) == 0, "no footer inference after segment writes")
    assert(t.read().get.columns.toSeq == Seq("filename", "v", "extra"))
    // the same bytes under a root with no cached schema: a cold reader
    val src = java.nio.file.Paths.get(s"$root/tbl")
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val to = java.nio.file.Paths.get(s"$root/cold").resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    } finally walk.close()
    val cold = new SnapshotTable(spark, s"$root/cold").read().get
    assert(cold.columns.toSet == Set("filename", "v", "extra"))
    assert(cold.collect().map(r => (r.getAs[String]("filename"), r.getAs[String]("extra")))
      .toSeq == Seq(("f2", "b")))
  }

  test("deleteFiles runs no Spark job and writes no parquet; reads honour it") {
    withConf(evictConf) {
      val files = lake.ordersFiles
      val idx = build("wp_tomb", files)
      val store = new IndexStore(spark, "wp_tomb")
      val before = storeParquet(store)
      assert(before.nonEmpty)
      assert(jobsIn(idx.deleteFiles(files.head)) == 0)
      assert(storeParquet(store) == before)
      Seq(store.fileList, store.indexTable, store.statsTable, store.largeTable("o_custkey"))
        .foreach(t => assert(t.segments.size == 2, "one tombstone segment each"))
      assertLikeFresh(idx, files.tail)
    }
  }

  test("three delete → addFile → update cycles leave the index like a fresh one") {
    withConf(evictConf) {
      val files = lake.ordersFiles
      // six live, two in the pool: the third cycle re-adds the first deleted file
      val live = scala.collection.mutable.Queue(files.take(6): _*)
      val pool = scala.collection.mutable.Queue(files.drop(6): _*)
      val idx = build("wp_cycle", live.toSeq)
      val store = new IndexStore(spark, "wp_cycle")
      val tables = Seq(s"${store.indexDir}/index" -> store.indexTable,
        s"${store.root}/filelists/wp_cycle" -> store.fileList)
      // parquet files the live segments hold: a fold must not add files
      def dataFiles = tables.map { case (dir, t) =>
        t.segments.flatMap(s => Option(new File(s"${dir.stripPrefix("file:")}/$s").listFiles())
          .toSeq.flatten).count(_.getName.endsWith(".parquet"))
      }
      val built = dataFiles
      (1 to 3).foreach { _ =>
        val old = live.dequeue()
        val next = pool.dequeue()
        idx.deleteFiles(old)
        idx.addFile(next)
        assert(idx.unindexedFiles == Seq(q(next)))
        idx.update()
        live.enqueue(next)
        pool.enqueue(old)
      }
      assert(live.contains(files.head), "a deleted file came back")
      assert(dataFiles.zip(built).forall { case (now, before) => now <= before },
        s"parquet files per table: $built after the build, $dataFiles after the cycles")
      assert(store.indexTable.segments.size == 1, "update folds the tombstone")
      assert(store.fileList.segments.size == 1, "addFile folds the tombstone")
      assertLikeFresh(idx, live.toSeq)
    }
  }

  /** The longest literal `IN` list `df`'s plan carries. */
  private def literalKeys(df: DataFrame): Int =
    (0 +: df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case i: In => i.list.size
    }))).max

  private def antiJoins(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case j: Join if j.joinType == LeftAnti => j }.size

  test("registrations and deletes past buildBatchMaxFiles keep key lists out of the plans") {
    withConf(evictConf) {
      val files = lake.ordersFiles
      val limit = spark.conf.get("spark.graft.buildBatchMaxFiles", "256").toInt
      val idx = build("wp_bulk", files)
      val store = new IndexStore(spark, "wp_bulk")
      val tables = Seq(store.fileList, store.indexTable, store.statsTable,
        store.largeTable("o_custkey"))
      val dir = tmpDir("graft_wp_bulk_")
      val bulk = (0 until 4 * limit).map(i => s"$dir/part-$i.parquet")
      idx.addFile(bulk: _*)
      idx.addFile(bulk: _*) // re-registering drops the old rows by anti-join
      assert(idx.unindexedFiles.sorted == bulk.map(q).sorted)
      assert(perFile(store.fileList).size == files.size + bulk.size)
      // one delete past the limit rewrites every table: no tombstone
      idx.deleteFiles(files.head +: bulk.take(limit): _*)
      tables.foreach(t => assert(t.segments.size == 1, "a bulk delete folds at once"))
      // deletes within the limit tombstone; the keys they claim together
      // pass it, so reads drop them with a join, not a literal list
      bulk.drop(limit).grouped(limit).foreach(g => assert(jobsIn(idx.deleteFiles(g: _*)) == 0))
      assert(store.fileList.segments.size == 4)
      tables.foreach { t =>
        val df = t.read().get
        assert(literalKeys(df) <= limit, s"literal keys in ${t.segments}")
      }
      assert(antiJoins(store.fileList.read().get) == 1)
      assertLikeFresh(idx, files.tail)
    }
  }

  test("repeated deletes fold every table at maxOverflowSegments") {
    withConf(evictConf, "spark.graft.maxOverflowSegments" -> "3") {
      val files = lake.ordersFiles
      val idx = build("wp_fold", files)
      val store = new IndexStore(spark, "wp_fold")
      val tables = Seq(store.fileList, store.indexTable, store.statsTable,
        store.largeTable("o_custkey"))
      idx.deleteFiles(files(0))
      idx.deleteFiles(files(1))
      tables.foreach(t => assert(t.segments.size == 3))
      idx.deleteFiles(files(2))
      tables.foreach(t => assert(t.segments.size == 1, "the third delete folds"))
      assertLikeFresh(idx, files.drop(3))
    }
  }
}
