package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session the dev tools run on, built as Verify and Bench build
  * theirs: `local[n]` and n shuffle partitions, n from `SPARK_GRAFT_CPUS`
  * (default 4), session time zone UTC, no UI, graft's SQL functions, and
  * the released-checkpoint warnings muted. `conf` adds tool settings.
  */
object DevSession {
  def apply(appName: String, logLevel: String = "ERROR",
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = conf.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.plans.GraftExtensions)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.muteReleasedCheckpointWarnings()
    spark
  }
}
