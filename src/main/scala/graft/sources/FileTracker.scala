package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Processed-file tracking — the reference's `etl_file_tracker` table
  * (src/extract.py:115-270): a file is skipped when its (name, content
  * hash) was already processed; a changed file (same name, new hash)
  * is re-processed.
  *
  * Invariants, whatever the number of globs and files:
  *  - one hash job per run: [[pending]] expands every glob on the
  *    driver and hashes all matched files in ONE `binaryFile` job
  *    (`md5(content)` on executors, never bytes through the driver as
  *    the reference does, extract.py:210);
  *  - one state read per run, with the declared schema (no footer
  *    inference), and the pending diff on the driver — O(#files);
  *  - [[record]] stores exactly the hashes [[pending]] returned, in one
  *    single-file rewrite: a file rewritten after the diff keeps its
  *    old hash in the state and so re-surfaces on the next run.
  */
class FileTracker(spark: SparkSession, statePath: String) {
  import FileTracker._

  /** Absent state (first run) → empty frame; a read FAILURE on existing
    * state propagates — swallowing it would make every processed file
    * look new and re-ingest the world.
    */
  def state(): DataFrame =
    ParquetIo.readIfExists(spark, statePath, StateSchema)
      .getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), StateSchema))

  /** Per glob, the files under it not yet processed with their current
    * content, in path order. A glob matching nothing maps to no files
    * (the reference logs-and-continues on missing entity files,
    * extract.py:530-532).
    */
  def pending(globs: Seq[String]): Pending = {
    val conf = spark.sparkContext.hadoopConfiguration
    val matched = globs.map { g =>
      val p = new Path(g)
      g -> Option(p.getFileSystem(conf).globStatus(p)).toSeq.flatten
        .map(_.getPath.toString).sorted
    }
    val paths = matched.flatMap(_._2).distinct
    // concrete paths, not the glob: a raw glob goes through
    // FileStreamSink.hasMetadata, which probes the literal glob string
    // as a file and warn-logs a FileNotFoundException stack trace
    val hashes: Map[String, String] =
      if (paths.isEmpty) Map.empty
      else spark.read.format("binaryFile").load(paths: _*)
        .select(col("path"), md5(col("content")))
        .collect().map(r => pathKey(r.getString(0)) -> r.getString(1)).toMap
    val known = state().collect().toSeq
    val done = known.map(r => (r.getString(0), r.getString(1))).toSet
    Pending(matched.map { case (g, ps) =>
      g -> ps.map(p => TrackedFile(new Path(p).getName, hashes(pathKey(p))))
        .filterNot(f => done((f.name, f.hash)))
    }.toMap, known)
  }

  /** Record `processed` (file → raw record count) as processed, upserted
    * by file name over the state `from` was diffed against. The state
    * is O(#files), so it is merged on the driver and rewritten as one
    * file through ParquetIo's rename swap — crash-safe, self-healing.
    */
  def record(from: Pending, processed: Seq[(TrackedFile, Long)]): Unit = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val fresh = processed.map { case (f, n) => Row(f.name, f.hash, n, now) }
    val names = processed.map(_._1.name).toSet
    val kept = from.state.filterNot(r => names(r.getString(0)))
    ParquetIo.replace(
      spark.createDataFrame((kept ++ fresh).asJava, StateSchema),
      statePath, coalesceTo = 1)
  }
}

object FileTracker {
  /** A path without its scheme: `binaryFile` reports `file:/a/b.csv`
    * for the `file:/a/b.csv` or `/a/b.csv` a glob expands to.
    */
  private def pathKey(p: String): String = new Path(p).toUri.getPath

  val StateSchema: StructType = StructType.fromDDL(
    "file_name STRING, file_hash STRING, record_count LONG, processed_at TIMESTAMP")

  final case class TrackedFile(name: String, hash: String)

  /** One run's view of its globs: per glob, the files to process, and
    * the state rows they were diffed against.
    */
  final case class Pending(files: Map[String, Seq[TrackedFile]],
                           private[FileTracker] val state: Seq[Row])
}
