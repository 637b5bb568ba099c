package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.store.{IndexStore, StorageMigrations}

/** Cold-opens the COMMITTED golden store fixture
  * (`src/test/resources/fixtures/graft_store_v2`, written once by
  * `graft.tools.GoldenFixtureGen`) and exercises probe / update / delete /
  * compact / migration against those frozen bytes. This is the layout
  * compatibility gate: if a code change alters the on-disk layout, these
  * tests fail against the committed store, forcing either a
  * StorageMigrations step or a deliberate fixture regeneration in the same
  * commit (the reference pins its layout identically:
  * src/test/resources/fixtures/alpha37/PROVENANCE.txt + StorageMigrationTests).
  *
  * The fixture registers data files at FIXED absolute paths
  * (/tmp/graft_golden_data*); beforeAll restores the committed data bytes
  * to those exact paths. The store itself is copied to a fresh temp dir so
  * mutation tests (update/compact/migrate) never touch the committed bytes.
  *
  * Fixture content (see GoldenFixtureGen):
  *   f1: (1,10,A,100,r1) (2,10,B,110,r2) (3,11,A,120,r3)
  *   f2: (4,11,B,130,r4) (5,12,A,140,r5) (2,12,B,150,r2b)  — deleteFiles'd
  *   f3: (6,10,A,160,r6) (7,13,C,170,r7)
  * indexes: regular(k, overflowed to 2 segments + tombstone), temporal(u,ts),
  * bloom(typ), range(ts); a legacy staging remnant re-staging f1; store
  * "golden_v1" frozen at storage version 1 (no file_size column).
  */
class GoldenFixtureSpec extends GraftSuite with BeforeAndAfterAll {

  private val fixture =
    new java.io.File("src/test/resources/fixtures/graft_store_v2").getAbsoluteFile.toPath
  private var storeCopy: String = _
  private var savedStoragePath: Option[String] = None

  private def copyTree(source: Path, destination: Path): Unit = {
    val paths = Files.walk(source)
    try paths.forEach { p =>
      val target = destination.resolve(source.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally paths.close()
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally paths.close()
    }

  override def beforeAll(): Unit = {
    super.beforeAll()
    assert(Files.exists(fixture), s"committed fixture missing at $fixture")
    rmTree(Paths.get(graft.tools.GoldenFixtureGen.DataDir))
    rmTree(Paths.get(graft.tools.GoldenFixtureGen.DataDirV1))
    copyTree(fixture.resolve("data"), Paths.get(graft.tools.GoldenFixtureGen.DataDir))
    copyTree(fixture.resolve("data_v1"), Paths.get(graft.tools.GoldenFixtureGen.DataDirV1))
    storeCopy = tmpDir("graft_golden_copy_")
    copyTree(fixture.resolve("store"), Paths.get(storeCopy))
    savedStoragePath = spark.conf.getOption("spark.graft.storagePath")
    spark.conf.set("spark.graft.storagePath", storeCopy)
  }

  override def afterAll(): Unit = {
    savedStoragePath.foreach(spark.conf.set("spark.graft.storagePath", _))
    super.afterAll()
  }

  // ---- read-only assertions first; mutation tests (update/compact/migrate)
  // ---- run after them, against the same copied store

  test("golden: cold connect reads committed metadata verbatim") {
    val idx = Index.connect(spark, "golden")
    assert(idx.metadata.storageVersion == StorageMigrations.CurrentVersion,
      "fixture is AT current version; a bump here means the fixture must be " +
        "regenerated deliberately alongside a StorageMigrations step")
    assert(idx.metadata.indexes.map(d => (d.column, d.indexType)).toSet ==
      Set(("k", "regular"), ("u", "temporal"), ("typ", "bloom"), ("ts", "range")))
    assert(idx.files.size == 2, s"f2 was deleteFiles'd: ${idx.files}")
    assert(idx.files.forall(f => f.contains("/f1/") || f.contains("/f3/")))
  }

  test("golden: regular probe through the committed segmented overflow") {
    val idx = Index.connect(spark, "golden")
    // k=1 lives in f1; k=4 lived only in tombstoned f2; k∈{1,6} spans files
    assert(idx.query(Map("k" -> Seq(1L))).select("v")
      .collect().map(_.getString(0)).toSeq == Seq("r1"))
    assert(idx.query(Map("k" -> Seq(4L))).count() == 0)
    assert(idx.query(Map("k" -> Seq(1L, 6L))).select("v")
      .collect().map(_.getString(0)).toSet == Set("r1", "r6"))
  }

  test("golden: temporal, bloom and range probes over committed bytes") {
    val idx = Index.connect(spark, "golden")
    // latest u=10 row is r6 (ts 160, f3); u=11's survivor is r3 (r4 deleted)
    assert(idx.query(Map("u" -> Seq(10L))).select("v")
      .collect().map(_.getString(0)).toSeq == Seq("r6"))
    assert(idx.query(Map("u" -> Seq(11L))).select("v")
      .collect().map(_.getString(0)).toSeq == Seq("r3"))
    assert(idx.query(Map("typ" -> Seq("A"))).select("v")
      .collect().map(_.getString(0)).toSet == Set("r1", "r3", "r6"))
    assert(idx.queryRange("ts", 105L, 125L).select("v")
      .collect().map(_.getString(0)).toSet == Set("r2", "r3"))
  }

  test("golden: a legacy staging directory is ignored") {
    // The fixture still carries a committed `staging/` segment re-staging
    // f1, left by a crashed writer of the old build path. Staged files were
    // unindexed when staged, so they are in the main table (as f1 is) or
    // are rebuilt from the data: update() builds nothing and reads none of it.
    val store = new IndexStore(spark, "golden")
    assert(Files.exists(Paths.get(storeCopy, "indexes", "golden", "staging")),
      "fixture must carry the legacy staging directory")
    val idx = Index.connect(spark, "golden")
    assert(idx.unindexedFiles.isEmpty)
    val version = store.indexTable.currentVersion
    idx.update()
    assert(store.indexTable.currentVersion == version, "update() builds nothing")
    assert(idx.query(Map("k" -> Seq(1L))).count() == 1)
    val rows = store.indexTable.read().get
    assert(rows.count() == idx.files.size)
    assert(rows.groupBy("filename").count()
      .where(col("count") > 1).count() == 0, "one index row per file")
  }

  test("golden: compact + vacuum still run against the committed layout") {
    val idx = Index.connect(spark, "golden")
    idx.compact()
    idx.vacuumRetention(retentionHours = 168)
    assert(idx.query(Map("k" -> Seq(6L))).select("v")
      .collect().map(_.getString(0)).toSeq == Seq("r6"))
  }

  test("golden: deleteFiles tombstones the committed segmented layout; update and probes honour it") {
    // a fresh copy of the committed bytes: the tests above compacted the
    // shared copy, which folded its overflow segments
    val fresh = tmpDir("graft_golden_delete_")
    copyTree(fixture.resolve("store"), Paths.get(fresh))
    spark.conf.set("spark.graft.storagePath", fresh)
    try {
      val store = new IndexStore(spark, "golden")
      val overflowSegs = store.largeTable("k").segments
      assert(overflowSegs.size > 1, "the committed overflow is segmented")
      val idx = Index.connect(spark, "golden")
      val f1 = idx.files.find(_.contains("/f1/")).get
      idx.deleteFiles(f1)
      assert(store.largeTable("k").segments.size == overflowSegs.size + 1,
        "the delete stacks a tombstone on the committed segments")
      assert(store.indexTable.segments.size == 2, "a tombstone on the main table")
      idx.update()
      assert(idx.files.size == 1 && idx.files.head.contains("/f3/"))
      assert(store.indexTable.read().get.select("filename")
        .collect().map(_.getString(0)).toSeq == idx.files)
      // k=1 and u=11 lived in f1 (k=1 only in the segmented overflow)
      assert(idx.locateFiles(Map("k" -> Seq(1L))).isEmpty)
      assert(idx.query(Map("k" -> Seq(1L, 6L))).select("v")
        .collect().map(_.getString(0)).toSeq == Seq("r6"))
      assert(idx.query(Map("u" -> Seq(11L))).count() == 0)
      assert(idx.query(Map("typ" -> Seq("A"))).select("v")
        .collect().map(_.getString(0)).toSeq == Seq("r6"))
      assert(idx.queryRange("ts", 105L, 175L).select("v")
        .collect().map(_.getString(0)).toSet == Set("r6", "r7"))
    } finally spark.conf.set("spark.graft.storagePath", storeCopy)
  }

  test("golden_v1: storage-version-1 store migrates on connect and stays readable") {
    val before = new IndexStore(spark, "golden_v1").readMetadata().get
    assert(before.storageVersion == 1, "fixture frozen at v1")
    val idx = Index.connect(spark, "golden_v1") // runs StorageMigrations
    assert(idx.metadata.storageVersion == StorageMigrations.CurrentVersion)
    val after = new IndexStore(spark, "golden_v1")
    assert(after.readMetadata().get.storageVersion == StorageMigrations.CurrentVersion,
      "migration must be persisted, not just in-memory")
    assert(after.indexTable.read().get.columns.contains("file_size"),
      "v1->v2 migration backfills the file_size column")
    assert(idx.query(Map("k" -> Seq(1L))).select("v")
      .collect().map(_.getString(0)).toSeq == Seq("x"))
  }
}
