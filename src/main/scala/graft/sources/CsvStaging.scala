package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Raw-preserving CSV staging reader — the extract phase of the
  * reference (src/extract.py:82-516) re-expressed for a distributed
  * engine.
  *
  * Reference semantics kept:
  *  - every column lands as a raw STRING (no type coercion at staging);
  *  - the column set must match the declared schema exactly
  *    (extract.py:380,438 column-mismatch guard);
  *  - rows with null/empty primary key are dropped (extract.py:387);
  *  - duplicate primary keys keep the LAST occurrence in file order
  *    (extract.py:389 drop_duplicates keep='last'); across the files of
  *    one glob, the last file in name order wins;
  *  - the numeric-digits sort key (extract.py:272) is derived as a
  *    COLUMN — the reference's global pre-insert sort is replaced by
  *    an orderable key, because a total order is a single-writer
  *    bottleneck at 100 TB.
  *
  * Scale notes: "keep last per key" is a window over the key — one
  * shuffle, no driver state, ordered by (file path, row position).
  * The row position is `monotonically_increasing_id`, which is monotone
  * within one file: its splits are read in offset order. It says
  * nothing about order ACROSS files — Spark packs a multi-file read's
  * splits largest first — so the file path orders files.
  */
object CsvStaging {

  /** The staged batch and its stats. `data` is lazy; the stats cover
    * the whole glob and are counted by the first action on `data` (two
    * unnamed observations on its plan), so they are valid, without a
    * job of their own, once that action has run. Reading one earlier
    * blocks until an action on `data` completes.
    *
    * `perFileRows`: raw row count per source FILE name (the tracker's
    * record_count must be per file, not the glob total — a multi-file
    * glob would otherwise record the sum against every file). Small by
    * construction: O(#files).
    */
  final class StagingResult private[CsvStaging] (val data: DataFrame,
                                                 parsed: Observation,
                                                 kept: Observation,
                                                 fileNames: Seq[String]) {
    private lazy val counts: Map[String, Long] =
      (parsed.get ++ kept.get).map { case (k, v) => k -> v.asInstanceOf[Long] }
    def totalRows: Long = counts("rows")
    def invalidKeyRows: Long = counts("rows") - counts("valid")
    /** Valid-key rows shadowed by a later row with the same key: the
      * keep-last dedup leaves one row per distinct valid key.
      */
    def dedupedRows: Long = counts("valid") - counts("keys")
    def perFileRows: Map[String, Long] =
      fileNames.zipWithIndex.map { case (n, i) => n -> counts(s"file_$i") }.toMap
  }

  def schemaFor(columns: Seq[String]): StructType =
    StructType(columns.map(c => StructField(c, StringType, nullable = true)))

  /** Read CSVs into raw-string staging form. Fails fast if the header
    * doesn't carry exactly `columns` (any order), and fails the read if
    * a file under the glob orders its header differently from the
    * first file's.
    *
    * Invariants:
    *  - the header is read on the driver from the first file, and every
    *    file is parsed against it with `enforceSchema=false`: Spark
    *    checks each file's own header against it, where `header=true`
    *    alone would apply one file's column order to every file;
    *  - the glob is parsed once per action on `data` and this method
    *    runs no job: the stats (rows, valid-key rows and rows per file
    *    on the parsed rows; distinct valid keys after the keep-last
    *    filter) are observed by the caller's own action and are valid
    *    after it (see [[StagingResult]]).
    */
  def read(spark: SparkSession, path: String, columns: Seq[String],
           primaryKey: String): StagingResult = {
    // expand a glob up front: a raw glob string goes through
    // FileStreamSink.hasMetadata, which probes the literal glob as a
    // file and warn-logs a FileNotFoundException trace per read
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val expanded = Option(fs.globStatus(hp)).toSeq.flatten
      .map(_.getPath).sortBy(_.toString)
    require(expanded.nonEmpty, s"no CSV file matches $path")
    val header = headerOf(fs, expanded.head)
    require(header.sorted == columns.sorted,
      s"column mismatch: csv has ${header.sorted}, expected ${columns.sorted}")
    val raw = spark.read
      .schema(schemaFor(header))
      .option("header", "true")
      .option("enforceSchema", "false")
      .option("mode", "PERMISSIVE")
      .csv(expanded.map(_.toString): _*)

    val valid = col(primaryKey).isNotNull && trim(col(primaryKey)) =!= ""
    // per file NAME, as the tracker keys its state
    val fileNames = expanded.map(_.getName).distinct
    val parsed = Observation()
    val ordered = raw.select(columns.map(col): _*)
      .withColumn("__file", input_file_name())
      .withColumn("__file_order", monotonically_increasing_id())
      .observe(parsed, count(lit(1)).as("rows"),
        count_if(valid).as("valid") +: fileNames.zipWithIndex.map { case (n, i) =>
          count_if(col("__file").endsWith(s"/$n")).as(s"file_$i")
        }: _*)

    // keep-last per key: the last file in name order, then the last row
    // within it (reference keep='last'); one row per distinct valid key
    val w = Window.partitionBy(col(primaryKey))
      .orderBy(col("__file").desc, col("__file_order").desc)
    val kept = Observation()
    val deduped = ordered.filter(valid)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .observe(kept, count(lit(1)).as("keys"))
      .drop("__rn", "__file", "__file_order")
      .withColumn("numeric_sort_key", numericSortKey(col(primaryKey)))
    new StagingResult(deduped, parsed, kept, fileNames)
  }

  /** The first line of `file`, split by the CSV reader's own parser
    * settings.
    */
  private def headerOf(fs: org.apache.hadoop.fs.FileSystem,
                       file: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(file), java.nio.charset.StandardCharsets.UTF_8))
    val line = try Option(in.readLine()).getOrElse("") finally in.close()
    val settings = new CSVOptions(Map.empty[String, String], true, "UTC")
      .asParserSettings
    Option(new com.univocity.parsers.csv.CsvParser(settings).parseLine(line))
      .toSeq.flatten.map(Option(_).getOrElse(""))
  }

  /** The reference's `_extract_numeric_id`: all digits of the id glued
    * together, 0 when none. Null-safe, overflow-guarded to 18 digits.
    */
  def numericSortKey(c: org.apache.spark.sql.Column) =
    coalesce(substring(regexp_replace(c, "[^0-9]", ""), 0, 18).cast("long"),
      lit(0L))
}
