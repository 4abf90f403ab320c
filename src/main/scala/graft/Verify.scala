package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: run only these queries (local iteration;
    // the driver always calls with exactly two args = full dump)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    muteReleasedCheckpointWarnings()
    // zero-interpreted-fallback gate: any CodeGenerator ERROR during the
    // sweep (64 KB method, janino failure → silent interpreted re-run)
    // fails Verify loudly instead of shipping a slow plan (r8 VERDICT #1)
    val canary = CodegenCanary.install()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // operators persist() intermediates that a 250-query dump never
      // revisits — clear between queries (same discipline as Bench) so
      // the gate run doesn't accrete hundreds of dead cached datasets.
      // clearCache only reaches CacheManager entries; sealed results
      // also carry RDD-level checkpoint blocks — sweep those too.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (canary.errorCount > 0) {
      System.err.println(s"[verify] CODEGEN CANARY TRIPPED: " +
        s"${canary.errorCount} CodeGenerator error(s); first: " +
        canary.firstError.getOrElse("<none>"))
      canary.errors.foreach(e => System.err.println(s"[verify]   $e"))
      sys.exit(3)
    }
  }
}
