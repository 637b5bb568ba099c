package graft.store

import org.apache.spark.sql.SparkSession

import graft.GraftConf
import graft.model.IndexMetadata

/** Path layout + persistence handles for one named index.
  *
  * ```
  * {storagePath}/indexes/{name}/metadata.json       # config (atomic JSON)
  * {storagePath}/indexes/{name}/index/              # main table: 1 row/file
  * {storagePath}/indexes/{name}/large_indexes/{col} # per-column overflow
  * {storagePath}/filelists/{name}/                  # registered-file ledger
  * ```
  * Mirrors the reference layout (reference: IndexPathUtils.scala:26-32,
  * FileList.scala:206-212) with SnapshotTable replacing Delta.
  */
final class IndexStore(val spark: SparkSession, val name: String) {
  val root: String = GraftConf.storagePath(spark)
  val indexDir = s"$root/indexes/$name"
  val metadataPath = s"$indexDir/metadata.json"
  val largeDir = s"$indexDir/large_indexes"

  def indexTable = new SnapshotTable(spark, s"$indexDir/index")
  /** Advisory planning statistics (per-file HLL distinct sketches per
    * indexed column) — kept OUT of the hot index table so the table
    * every probe scans (and Spark-caches) stays lean; only the
    * multi-column probe orderer reads this. NOT Spark-cached: the
    * orderer runs one bounded aggregate per multi-column probe, and
    * pinning megabytes of sketch binaries in executor memory would
    * pressure the caches the hot probes actually live on (measured:
    * post-prebuild single-probe latency doubled when build-side stats
    * reads were cached). */
  def statsTable =
    new SnapshotTable(spark, s"$indexDir/stats", cacheable = false)
  def largeTable(column: String) = new SnapshotTable(spark, s"$largeDir/$column")
  def largeColumns: Seq[String] = Fs.listDirs(spark, largeDir)
  def fileList = new SnapshotTable(spark, s"$root/filelists/$name")
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
