package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.harness.Lake
import graft.operators.IndexBuild
import graft.store.{Fs, GraftLock, IndexStore}

/** Locks, batched builds, crash recovery, backfill, compaction,
  * catalog — the reference's scale machinery re-tested (ref suites:
  * IndexLockTests, BatchedIndexUpdateTests, StagingRecoveryTests,
  * ColumnBackfillTests, CompactionTests, IndexCatalogTests). */
class ScaleMachinerySpec extends GraftSuite {
  lazy val lake: Lake = Lake.get(spark, sf)

  private def freshIndex(name: String, nFiles: Int = 4): (Index, Seq[String]) = {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val dir = Files.createTempDirectory(s"graft_${name}_").toString
    val files = Lake.splitByBand(orders, dir, "o_custkey", nFiles)
    val idx = Index(spark, name, orders.schema, "parquet")
    idx.addIndex("o_custkey")
    idx.addFile(files: _*)
    (idx, files)
  }

  /** Version directories of the stats table that its pointer no longer names. */
  private def supersededStats(store: IndexStore): Seq[String] = {
    val live = store.statsTable.segments.toSet
    Fs.listDirs(spark, s"${store.indexDir}/stats").filter(d => d.startsWith("v") && !live(d))
  }

  test("lock: second acquirer blocks until release; stale lock heals") {
    val path = tmpDir("graft_lock_") + "/.test.lock"
    val l1 = new GraftLock(spark, path)
    val l2 = new GraftLock(spark, path)
    assert(l1.tryAcquire())
    assert(!l2.tryAcquire())
    l1.release()
    assert(l2.tryAcquire())
    l2.release()
    // stale: write an old lock file, acquire() must heal it
    Fs.writeStringAtomic(spark, path,
      s"""{"holder":"dead","acquiredAtMs":${System.currentTimeMillis() - 10000000L}}""")
    spark.conf.set("spark.graft.lockTimeoutSec", "1")
    try {
      val l3 = new GraftLock(spark, path)
      l3.acquire() // heals + acquires, no timeout
      l3.release()
    } finally spark.conf.unset("spark.graft.lockTimeoutSec")
  }

  test("two concurrent updates do not lose index rows") {
    val (idx, files) = freshIndex("conc_orders", 6)
    val t1 = new Thread(() => idx.update())
    val idx2 = Index.connect(spark, "conc_orders")
    val t2 = new Thread(() => idx2.update())
    t1.start(); t2.start(); t1.join(); t2.join()
    val store = new IndexStore(spark, "conc_orders")
    val indexed = store.indexTable.read().get.select("filename").distinct().count()
    assert(indexed == files.size, s"expected ${files.size} indexed files, got $indexed")
  }

  test("readers racing a concurrent update see a full snapshot, old or new") {
    val (idx, files) = freshIndex("t_snap_iso", nFiles = 8)
    // index the first half now; the racing update() indexes the rest
    val (first, rest) = files.splitAt(4)
    idx.deleteFiles(files: _*)
    idx.addFile(first: _*)
    idx.update()
    // keys spread across every band so the race actually changes the count
    val maxKey = spark.read.parquet(files: _*)
      .agg(max(col("o_custkey"))).first().getLong(0)
    val keys = (0 until 8).map(i => math.max(1L, i * maxKey / 8 + maxKey / 16))
    val oldCount = idx.query(Map("o_custkey" -> keys)).count()
    idx.addFile(rest: _*)
    // expected post-update count, computed independently of the race
    val newCount = spark.read.parquet(files: _*)
      .where(col("o_custkey").isin(keys: _*)).count()
    assert(oldCount != newCount, "fixture must change the visible count")

    @volatile var failure: Option[String] = None
    val updater = new Thread(() => idx.update())
    updater.start()
    try {
      while (updater.isAlive && failure.isEmpty) {
        // a fresh connect per probe mirrors an independent reader process
        val n = Index.connect(spark, "t_snap_iso")
          .query(Map("o_custkey" -> keys)).count()
        if (n != oldCount && n != newCount)
          failure = Some(s"reader saw partial snapshot: $n (old=$oldCount new=$newCount)")
      }
    } finally updater.join()
    failure.foreach(fail(_))
    val finalCount = Index.connect(spark, "t_snap_iso")
      .query(Map("o_custkey" -> keys)).count()
    assert(finalCount == newCount)
  }

  test("batched build: small budget forces multiple batches, result identical") {
    // each batch is a segment on the index and stats tables; the last
    // batch's upsert folds them. Six one-file batches at
    // maxOverflowSegments=2 also fold at the third and fifth batch.
    val inputs = Seq(Map("spark.graft.buildBatchMaxFiles" -> "2"),
      Map("spark.graft.buildBatchMaxFiles" -> "1", "spark.graft.maxOverflowSegments" -> "2"))
    inputs.zipWithIndex.foreach { case (conf, i) =>
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val (idx, files) = freshIndex(s"batched_orders_$i", 6)
        idx.update()
        val store = new IndexStore(spark, s"batched_orders_$i")
        val want = files.map(f => graft.sources.FileReader.qualify(spark, f)).sorted
        Seq(store.indexTable, store.statsTable).foreach { t =>
          assert(t.segments.size == 1, s"$conf: ${t.segments}")
          assert(t.read().get.select("filename").collect().map(_.getString(0)).sorted.toSeq
            == want, conf)
        }
        assert(idx.unindexedFiles.isEmpty)
        // probe still correct
        val got = idx.query(Map("o_custkey" -> Seq(1L, 7L)))
        val expected = spark.read.parquet(s"$sf/orders.parquet")
          .where(col("o_custkey").isin(1L, 7L))
        assert(got.count() == expected.count())
      } finally conf.keys.foreach(spark.conf.unset)
    }
  }

  test("crash mid-build: committed batch segments are not rebuilt") {
    val (idx, files) = freshIndex("crash_orders", 4)
    val store = new IndexStore(spark, "crash_orders")
    // simulate a writer that crashed after its first batch: that batch is a
    // committed segment on the index table, and the build never finished
    val batch = files.take(2).map(f => graft.sources.FileReader.qualify(spark, f))
    val built = IndexBuild.buildBatch(store, idx.metadata, batch)
    store.indexTable.appendReplacing(
      built.drop(built.columns.filter(_.startsWith("hll_stats_")): _*), "filename", batch)
    // committed files are NOT pending
    assert(idx.unindexedFiles.toSet == files.drop(2).map(f =>
      graft.sources.FileReader.qualify(spark, f)).toSet)
    // update() builds the rest, and its upsert folds the committed batch
    idx.update()
    assert(store.indexTable.segments.size == 1)
    val rows = store.indexTable.read().get
    assert(rows.count() == files.size)
    assert(rows.select("filename").distinct().count() == files.size, "one row per file")
  }

  test("a data directory the pointer never named is invisible and replaced") {
    import spark.implicits._
    import graft.store.SnapshotTable
    val root = tmpDir("graft_orphan_") + "/tbl"
    val t = new SnapshotTable(spark, root)
    def rows(of: (String, Long)*) = of.toSeq.toDF("filename", "value")
    def readMap() = t.read().get.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    t.overwrite(rows("f1" -> 1L))
    // a writer that crashed before its pointer swap: the next version's
    // data and key manifest (claiming f1) are on disk, the pointer is not
    rows("f9" -> 9L).write.parquet(s"$root/v2")
    Fs.writeStringAtomic(spark, s"$root/v2/_keys", "filename\nf1\nf9")
    assert(t.segments == Seq("v1"))
    assert(readMap() == Set("f1" -> 1L))
    // the next segment append writes v2 again, replacing the remnant whole
    t.appendReplacing(rows("f2" -> 2L), "filename", Seq("f2"))
    assert(t.segments == Seq("v1", "v2"))
    assert(readMap() == Set("f1" -> 1L, "f2" -> 2L))
  }

  test("column backfill recomputes only the new column") {
    val (idx, files) = freshIndex("backfill_orders", 3)
    idx.update()
    val store = new IndexStore(spark, "backfill_orders")
    val before = store.indexTable.read().get
    assert(!before.columns.contains("range_o_orderkey"))
    idx.addRangeIndex("o_orderkey")
    idx.update()
    val after = store.indexTable.read().get
    assert(after.columns.contains("range_o_orderkey"))
    assert(after.count() == files.size)
    // old column content preserved
    assert(after.where(col("o_custkey").isNull).count() == 0)
    // new index answers queries
    val got = idx.query(Map("o_orderkey" -> Seq(3L)))
    val want = spark.read.parquet(s"$sf/orders.parquet")
      .where(col("o_orderkey") === 3L)
    assert(got.count() == want.count())
  }

  test("compact rewrites snapshots and vacuum trims old versions") {
    val (idx, _) = freshIndex("compact_orders", 3)
    idx.update()
    val store = new IndexStore(spark, "compact_orders")
    val vBefore = store.indexTable.currentVersion.get
    idx.compact()
    assert(store.indexTable.currentVersion.get == vBefore + 1)
    assert(supersededStats(store).nonEmpty, "compact supersedes a stats version")
    idx.vacuum(keep = 1)
    val table = store.indexTable.read().get
    assert(table.count() == 3)
    assert(supersededStats(store).isEmpty, "vacuum trims the stats table too")
    assert(store.statsTable.read().get.count() == 3)
  }

  test("time-based vacuum: in-flight reader inside the horizon survives") {
    import spark.implicits._
    import graft.store.{Fs, SnapshotTable}
    val root = tmpDir("graft_tvac_") + "/tbl"
    val t = new SnapshotTable(spark, root)
    spark.conf.set("spark.graft.cacheIndexTables", "false")
    // keep writes' lazy count-based cleanup out of the picture: this test
    // pins the TIME-based reaper only
    spark.conf.set("spark.graft.retainedSnapshots", "10")
    try {
      t.overwrite(Seq(("a", 1L)).toDF("k", "v"))
      // a reader resolves the pointer NOW (v1) and stays in flight
      val reader = t.read().get
      t.overwrite(Seq(("a", 2L)).toDF("k", "v")) // v2
      t.overwrite(Seq(("a", 3L)).toDF("k", "v")) // v3 (v1 now beyond count retention)
      // vacuum inside the horizon: v1 is seconds old, far newer than 1h —
      // it must survive even though count-based vacuum(keep=1) would reap it
      t.vacuumOlderThan(retentionHours = 1)
      assert(Fs.exists(spark, s"$root/v1"), "v1 reaped inside the horizon")
      assert(reader.collect().map(_.getLong(1)).toSeq == Seq(1L),
        "in-flight reader must still see its resolved snapshot")
      // horizon 0: everything superseded is older than 'now' and goes away;
      // the current version is untouchable regardless of age
      t.vacuumOlderThan(retentionHours = 0)
      assert(!Fs.exists(spark, s"$root/v1") && !Fs.exists(spark, s"$root/v2"))
      assert(Fs.exists(spark, s"$root/v3"))
      assert(t.read().get.collect().map(_.getLong(1)).toSeq == Seq(3L))
    } finally {
      spark.conf.unset("spark.graft.cacheIndexTables")
      spark.conf.unset("spark.graft.retainedSnapshots")
    }
  }

  test("time-based vacuum dates supersession from durable markers, not FS mtime") {
    import spark.implicits._
    import graft.store.{Fs, SnapshotTable}
    val root = tmpDir("graft_tvacm_") + "/tbl"
    val t = new SnapshotTable(spark, root)
    spark.conf.set("spark.graft.cacheIndexTables", "false")
    spark.conf.set("spark.graft.retainedSnapshots", "10")
    try {
      t.overwrite(Seq(("a", 1L)).toDF("k", "v"))
      t.overwrite(Seq(("a", 2L)).toDF("k", "v")) // v1 superseded, marker stamped
      assert(Fs.exists(spark, s"$root/v1/_superseded_at"),
        "pointer swap must durably record supersession time")
      // Simulate an object store / pre-marker layout: the marker is gone and
      // any FS mtime the dir reports would look ancient. The reaper must NOT
      // trust mtime — it stamps a fresh marker and keeps the dir.
      Fs.delete(spark, s"$root/v1/_superseded_at")
      t.vacuumOlderThan(retentionHours = 0)
      assert(Fs.exists(spark, s"$root/v1"),
        "dir without a supersession record must survive the pass")
      assert(Fs.exists(spark, s"$root/v1/_superseded_at"),
        "the pass must stamp the missing marker for the next window")
      // Once the durable record says the horizon has passed, it is reaped.
      Fs.writeStringAtomic(spark, s"$root/v1/_superseded_at",
        (System.currentTimeMillis() - 10L * 3600L * 1000L).toString)
      t.vacuumOlderThan(retentionHours = 1)
      assert(!Fs.exists(spark, s"$root/v1"))
      // A zero/garbage marker counts as unknown, never as infinitely old.
      t.overwrite(Seq(("a", 3L)).toDF("k", "v")) // v2 superseded
      Fs.writeStringAtomic(spark, s"$root/v2/_superseded_at", "0")
      t.vacuumOlderThan(retentionHours = 0)
      assert(Fs.exists(spark, s"$root/v2"), "zero marker must not be deletable")
    } finally {
      spark.conf.unset("spark.graft.cacheIndexTables")
      spark.conf.unset("spark.graft.retainedSnapshots")
    }
  }

  test("index-level vacuumRetention applies across all state tables") {
    val (idx, _) = freshIndex("tvac_orders", 3)
    idx.update()
    val store = new IndexStore(spark, "tvac_orders")
    idx.compact() // makes a superseded version
    idx.vacuumRetention(retentionHours = 168)
    assert(store.indexTable.read().get.count() == 3) // nothing inside horizon reaped
    assert(supersededStats(store).nonEmpty, "a stats version inside the horizon stays")
    idx.vacuumRetention(retentionHours = 0)
    assert(store.indexTable.read().get.count() == 3) // current snapshot intact
    assert(supersededStats(store).isEmpty, "the stats table is reaped too")
    assert(store.statsTable.read().get.count() == 3)
  }

  test("segmented table: append replaces keys, delete tombstones, fold compacts") {
    import spark.implicits._
    import graft.store.SnapshotTable
    val t = new SnapshotTable(spark, tmpDir("graft_seg_") + "/tbl")
    def rows(of: (String, Long)*) = of.toSeq.toDF("filename", "value")
    def readMap() = t.read().get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

    t.overwrite(rows("f1" -> 1L, "f2" -> 2L))
    // append replaces f2's rows without rewriting f1's segment
    t.appendReplacing(rows("f2" -> 20L, "f3" -> 3L), "filename", Seq("f2", "f3"))
    assert(t.segments.size == 2)
    assert(readMap() == Set("f1" -> 1L, "f2" -> 20L, "f3" -> 3L))
    // manifest wins even when the new segment has NO rows for a claimed key
    t.appendReplacing(rows("f3" -> 30L), "filename", Seq("f2", "f3"))
    assert(readMap() == Set("f1" -> 1L, "f3" -> 30L))
    // tombstone-only delete segment
    t.deleteLiteralKeys("filename", Seq("f1"))
    assert(t.segments.size == 4)
    assert(readMap() == Set("f3" -> 30L))
    // compaction folds to a single directory with identical content
    t.compact()
    assert(t.segments.size == 1)
    assert(readMap() == Set("f3" -> 30L))
  }

  test("segmented table folds when maxOverflowSegments is reached") {
    import spark.implicits._
    import graft.store.SnapshotTable
    spark.conf.set("spark.graft.maxOverflowSegments", "3")
    try {
      val t = new SnapshotTable(spark, tmpDir("graft_segfold_") + "/tbl")
      t.overwrite(Seq(("f0", 0L)).toDF("filename", "value"))
      (1 to 5).foreach { i =>
        t.appendReplacing(Seq((s"f$i", i.toLong)).toDF("filename", "value"),
          "filename", Seq(s"f$i"))
      }
      assert(t.segments.size <= 3)
      val got = t.read().get.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == (0 to 5).map(i => (s"f$i", i.toLong)).toSet)
    } finally spark.conf.unset("spark.graft.maxOverflowSegments")
  }

  test("large-index overflow survives multi-batch builds and deleteFiles") {
    spark.conf.set("spark.graft.largeIndexLimit", "10")
    spark.conf.set("spark.graft.buildBatchMaxFiles", "1") // one batch per file
    try {
      val (idx, files) = freshIndex("seg_overflow", 3)
      idx.update() // 3 batches → overflow table gets 3 appended segments
      val store = new IndexStore(spark, "seg_overflow")
      assert(store.largeTable("o_custkey").segments.size >= 2)
      val all = spark.read.parquet(s"$sf/orders.parquet")
      val key = all.select("o_custkey").first().getLong(0)
      val got = idx.query(Map("o_custkey" -> Seq(key)))
      assert(got.count() == all.where(col("o_custkey") === key).count())
      // deleting one file purges its overflow rows via tombstone
      // (compare qualified: stored filenames are FS-qualified; basenames are
      // NOT unique — every band dir reuses the same part-file name)
      val before = store.largeTable("o_custkey").read().get.count()
      idx.deleteFiles(files.head)
      val gone = graft.sources.FileReader.qualify(spark, files.head)
      val overflow = store.largeTable("o_custkey").read().get
      assert(overflow.where(col("filename") === gone).count() == 0)
      assert(overflow.count() < before)
    } finally {
      spark.conf.unset("spark.graft.largeIndexLimit")
      spark.conf.unset("spark.graft.buildBatchMaxFiles")
    }
  }

  test("IndexCatalog lists, describes and summarizes") {
    val (idx, files) = freshIndex("catalog_orders", 2)
    idx.update()
    assert(IndexCatalog.list(spark).contains("catalog_orders"))
    assert(IndexCatalog.exists(spark, "catalog_orders"))
    val desc = IndexCatalog.describe(spark, "catalog_orders").collect()
    assert(desc.exists(r => r.getString(1) == "o_custkey" && r.getString(2) == "regular"))
    assert(IndexCatalog.findIndexes(spark, "o_custkey").contains("catalog_orders"))
    val summary = IndexCatalog.toDF(spark)
      .where(col("index") === "catalog_orders").first()
    assert(summary.getAs[Long]("registered_files") == files.size.toLong)
    assert(summary.getAs[Long]("indexed_files") == files.size.toLong)
  }
}
