package graft.tools

/** Dump `.explain("formatted")` for named gate queries to files
  * (dev tool for the optimization-round plan artifacts).
  *
  * args: <outDir> <suffix> <comma-names|ALL> [sfDir]
  * writes <outDir>/<query>_<suffix>.txt
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = DevSession("graft-plan-dump")
    val names: Seq[String] =
      if (args(2) == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    new java.io.File(outDir).mkdirs()
    for (n <- names) {
      try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $n")
      } catch {
        case scala.util.control.NonFatal(ex) =>
          System.err.println(s"[plandump] FAILED $n: $ex")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
