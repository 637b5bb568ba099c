package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.Index
import graft.store.IndexStore

/** Generates the COMMITTED golden storage fixture under
  * `src/test/resources/fixtures/` — a frozen store in the current on-disk
  * layout, exercised cold by `GoldenFixtureSpec` so that any accidental
  * layout change breaks a test against committed bytes instead of silently
  * orphaning users' persisted indexes (the reference pins its layout the
  * same way: dev/fixtures/alpha37/GoldenFixtureGeneratorTests.scala +
  * src/test/resources/fixtures/alpha37/PROVENANCE.txt).
  *
  * NOT part of any test run: regenerate ONLY on a deliberate layout-version
  * bump, via `sbt "runMain graft.tools.GoldenFixtureGen"`, and update
  * PROVENANCE + the spec's expectations in the same commit.
  *
  * Data files live at FIXED absolute paths (`/tmp/graft_golden_data*`),
  * because registered filenames are absolute: the spec copies the committed
  * data back to those exact paths before opening the store.
  *
  * Fixture surface (everything the layout owns):
  *  - metadata.json at storageVersion 2 (main fixture) and a v1 store
  *    missing the `file_size` column (migration fixture)
  *  - snapshot-table pointer files (`_current` with nonce), a superseded
  *    version dir with its `_superseded_at` marker
  *  - a segmented large-index overflow table: 2 data segments + `_keys`
  *    manifests + a manifest-only tombstone segment (deleteFiles)
  *  - the filelist table
  */
object GoldenFixtureGen {
  val DataDir = "/tmp/graft_golden_data"
  val DataDirV1 = "/tmp/graft_golden_data_v1"

  private def copyTree(source: Path, destination: Path): Unit = {
    val paths = Files.walk(source)
    try {
      paths.forEach { p =>
        val target = destination.resolve(source.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(target)
        else {
          Files.createDirectories(target.getParent)
          Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
        }
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

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args.headOption
      .getOrElse("src/test/resources/fixtures/graft_store_v2"))
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    rmTree(Paths.get(DataDir)); rmTree(Paths.get(DataDirV1)); rmTree(out)
    val work = Files.createTempDirectory("graft_golden_store_").toString
    spark.conf.set("spark.graft.storagePath", s"$work/store")

    def writeOne(df: org.apache.spark.sql.DataFrame, dir: String): String = {
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).head
    }

    // ---- main fixture: store "golden", current layout --------------------
    val rows1 = Seq((1L, 10L, "A", 100L, "r1"), (2L, 10L, "B", 110L, "r2"),
      (3L, 11L, "A", 120L, "r3")).toDF("k", "u", "typ", "ts", "v")
    val rows2 = Seq((4L, 11L, "B", 130L, "r4"), (5L, 12L, "A", 140L, "r5"),
      (2L, 12L, "B", 150L, "r2b")).toDF("k", "u", "typ", "ts", "v")
    val rows3 = Seq((6L, 10L, "A", 160L, "r6"), (7L, 13L, "C", 170L, "r7"))
      .toDF("k", "u", "typ", "ts", "v")
    val f1 = writeOne(rows1, s"$DataDir/f1")
    val f2 = writeOne(rows2, s"$DataDir/f2")
    val f3 = writeOne(rows3, s"$DataDir/f3")

    // tiny eviction limit: every per-file k array overflows to the
    // segmented large-index table (2 build batches -> 2 segments)
    spark.conf.set("spark.graft.largeIndexLimit", "2")
    val idx = Index(spark, "golden", rows1.schema, "parquet")
    idx.addIndex("k")
    idx.addTemporalIndex("u", "ts")
    idx.addBloomIndex("typ")
    idx.addRangeIndex("ts")
    idx.addFile(f1, f2)
    idx.update()
    idx.addFile(f3)
    idx.update()
    // tombstone segment in the overflow (the committed fixture predates
    // tombstone deletes on the index table and file list, which it shows
    // rewritten)
    idx.deleteFiles(f2)
    spark.conf.unset("spark.graft.largeIndexLimit")

    // The committed fixture predates single-path index builds and still
    // carries a committed `staging/` segment re-staging f1's row, which a
    // crashed writer of that layout left behind. Builds no longer read
    // staging, so GoldenFixtureSpec asserts the legacy directory is ignored;
    // a regenerated fixture has none.

    // ---- migration fixture: store "golden_v1" at storage version 1 -------
    val rowsV1 = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val g1 = writeOne(rowsV1, s"$DataDirV1/g1")
    val idxV1 = Index(spark, "golden_v1", rowsV1.schema, "parquet")
    idxV1.addIndex("k")
    idxV1.addFile(g1)
    idxV1.update()
    val storeV1 = new IndexStore(spark, "golden_v1")
    // rewind to the v1 layout: no file_size column, storageVersion 1
    storeV1.indexTable.overwrite(storeV1.indexTable.read().get.drop("file_size"))
    storeV1.writeMetadata(storeV1.readMetadata().get.copy(storageVersion = 1))

    // ---- copy out ---------------------------------------------------------
    copyTree(Paths.get(s"$work/store"), out.resolve("store"))
    copyTree(Paths.get(DataDir), out.resolve("data"))
    copyTree(Paths.get(DataDirV1), out.resolve("data_v1"))
    Files.write(out.resolve("PROVENANCE.txt"),
      ("""Golden storage fixture, graft storage layout version 2.
         |
         |Generated by: sbt "runMain graft.tools.GoldenFixtureGen"
         |Runtime: Spark 4.1.2, Scala 2.13, Java 17.
         |Data paths: /tmp/graft_golden_data (store "golden"),
         |            /tmp/graft_golden_data_v1 (store "golden_v1", storage v1).
         |
         |The fixture is immutable test input, exercised by GoldenFixtureSpec.
         |It pins the on-disk layout against accidental change: a layout
         |change must ship a storage migration (StorageMigrations) that makes
         |this suite pass against these committed bytes, or deliberately
         |regenerate the fixture through the pinned generator in the same
         |commit that bumps the layout version.
         |""".stripMargin).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[golden] fixture written to $out")
    spark.stop()
  }
}
