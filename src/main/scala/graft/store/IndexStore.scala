package graft.store

import org.apache.spark.sql.SparkSession

import graft.GraftConf
import graft.model.IndexMetadata

/** Path layout + persistence handles for one named index.
  *
  * ```
  * {storagePath}/indexes/{name}/metadata.json       # config (atomic JSON)
  * {storagePath}/indexes/{name}/index/              # main table: 1 row/file
  * {storagePath}/indexes/{name}/stats/              # planning sketches
  * {storagePath}/indexes/{name}/large_indexes/{col} # per-column overflow
  * {storagePath}/filelists/{name}/                  # registered-file ledger
  * ```
  * Mirrors the reference layout (reference: IndexPathUtils.scala:26-32,
  * FileList.scala:206-212) with SnapshotTable replacing Delta.
  *
  * Snapshot forms ([[SnapshotTable.Cache]]): the tables probes filter —
  * the index table and the overflow tables — are
  * [[SnapshotTable.Probed]]: a version estimated at most
  * `spark.sql.autoBroadcastJoinThreshold` (parquet bytes) lives on the
  * driver, so a warm locate runs no Spark job, and an open index holds at
  * most that much per such table in driver memory; a larger one is
  * Spark-cached. The file list is Spark-cached; the stats table is not
  * cached.
  */
final class IndexStore(val spark: SparkSession, val name: String) {
  val root: String = GraftConf.storagePath(spark)
  val indexDir = s"$root/indexes/$name"
  val metadataPath = s"$indexDir/metadata.json"
  val largeDir = s"$indexDir/large_indexes"

  def indexTable = new SnapshotTable(spark, s"$indexDir/index", SnapshotTable.Probed)
  /** Advisory planning statistics (per-file HLL distinct sketches per
    * indexed column) — kept OUT of the hot index table so the table
    * every probe scans (and caches) stays lean; only the
    * multi-column probe orderer reads this. NOT cached: the
    * orderer runs one bounded aggregate per multi-column probe, and
    * pinning megabytes of sketch binaries in executor memory would
    * pressure the caches the hot probes actually live on (measured:
    * post-prebuild single-probe latency doubled when build-side stats
    * reads were cached). */
  def statsTable = new SnapshotTable(spark, s"$indexDir/stats", SnapshotTable.Uncached)
  def largeTable(column: String) =
    new SnapshotTable(spark, s"$largeDir/$column", SnapshotTable.Probed)
  def largeColumns: Seq[String] = Fs.listDirs(spark, largeDir)
  def fileList = new SnapshotTable(spark, s"$root/filelists/$name")
  /** Every registered file's qualified path. */
  def registeredFiles: Seq[String] =
    fileList.read().map(_.select("filename").collect().map(_.getString(0)).toSeq)
      .getOrElse(Seq.empty)
  def updateLock = new GraftLock(spark, lockPath("update"))
  def fileListLock = new GraftLock(spark, lockPath("filelist"))

  def readMetadata(): Option[IndexMetadata] = IndexMetadata.read(spark, metadataPath)
  def writeMetadata(m: IndexMetadata): Unit = IndexMetadata.write(spark, metadataPath, m)

  def lockPath(kind: String): String = s"$indexDir/.$kind.lock"

  def remove(): Unit = {
    Fs.delete(spark, indexDir)
    Fs.delete(spark, s"$root/filelists/$name")
  }
}

object IndexStore {
  def list(spark: SparkSession): Seq[String] =
    Fs.listDirs(spark, s"${GraftConf.storagePath(spark)}/indexes")
}
