package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Existence-checked parquet reads and rename-based table swaps.
  *
  * The upsert/tracker paths need "read the target if it exists, else
  * start empty". Catching every read failure conflates a transient or
  * corrupt-footer error with absence — the merge would then silently
  * overwrite the target with only the incoming batch (data loss). Here
  * absence is decided by an explicit filesystem existence check; any
  * actual read failure propagates.
  *
  * Swap protocol (self-healing, single-filesystem): the merged result
  * is written to `<target>__tmp`, the live table is renamed to
  * `<target>__bak`, tmp renamed into place, and the backup deleted.
  * Renames are metadata operations (atomic per rename on HDFS and
  * local FS — unlike a second Overwrite write, which deletes the
  * target and then spends arbitrarily long re-writing it). A crash
  * between the two renames leaves `__bak` intact; [[readIfExists]]
  * restores it on the next read. Object stores without atomic rename
  * should use a table format (Delta/Iceberg) via [[StagingStore]]
  * instead.
  */
object ParquetIo {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bak(path: String) = new Path(path + "__bak")
  private def tmp(path: String) = new Path(path + "__tmp")

  /** Some(df) if `path` exists (after crash recovery), None if absent.
    * Read failures on an existing path are NOT swallowed.
    */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    if (exists(spark, path)) Some(spark.read.parquet(path)) else None

  /** [[readIfExists]] with a declared schema: no footer-inference job.
    * Partition columns the path's directories carry are appended.
    */
  def readIfExists(spark: SparkSession, path: String,
                   schema: StructType): Option[DataFrame] =
    if (exists(spark, path)) Some(spark.read.schema(schema).parquet(path)) else None

  private def exists(spark: SparkSession, path: String): Boolean = {
    val target = new Path(path)
    val filesystem = fs(spark, target)
    // crash recovery: a swap that died between renames left the
    // previous table at __bak and no live target — restore it
    if (!filesystem.exists(target) && filesystem.exists(bak(path)))
      filesystem.rename(bak(path), target)
    // a directory holding only hidden/_-prefixed entries (e.g. a
    // _SUCCESS marker without part files) is NO state: reading it
    // warn-logs "All paths were ignored" on every normal run and
    // yields an empty schema-less frame anyway
    filesystem.exists(target) &&
      filesystem.listStatus(target).exists { s =>
        val n = s.getPath.getName
        !(n.startsWith("_") || n.startsWith("."))
      }
  }

  /** Replace the table at `path` with `df` via write-tmp + rename. */
  def replace(df: DataFrame, path: String, coalesceTo: Int = 0): Unit = {
    val spark = df.sparkSession
    val target = new Path(path)
    val filesystem = fs(spark, target)
    val out = if (coalesceTo > 0) df.coalesce(coalesceTo) else df
    filesystem.delete(tmp(path), true)
    out.write.mode(SaveMode.Overwrite).parquet(tmp(path).toString)
    filesystem.delete(bak(path), true)
    if (filesystem.exists(target)) filesystem.rename(target, bak(path))
    if (!filesystem.rename(tmp(path), target))
      throw new java.io.IOException(s"rename ${tmp(path)} -> $target failed")
    filesystem.delete(bak(path), true)
  }
}
