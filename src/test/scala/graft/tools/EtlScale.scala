package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** EtlMain at 100× the reference's data volume (r9 VERDICT #5): runs
  * the FULL reference-surface pipeline on ScaleFixture CSVs at 1× and
  * 100×, asserts production row counts BY CONSTRUCTION, and prints
  * per-phase time ratios, each production table's content digest
  * (`Loads.digestReport`) and the production partition layout. The
  * claim under test: phase time grows ≤ linearly in the data (the
  * fused extract→transform→load is one Spark plan per entity — scans,
  * window dedup on the PK, typed projections, partitioned write; no
  * step holds the batch on the driver).
  *
  * Run: `sbt "Test/runMain graft.tools.EtlScale [mult]"` (default 100).
  */
object EtlScale {
  def main(args: Array[String]): Unit = {
    val mult = if (args.nonEmpty) args(0).toInt else 100
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-etl-scale")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def durations(file: java.nio.file.Path): Map[String, Long] = {
      val pr = """"phase":"([^"]*)"""".r
      val dr = """"duration_ms":(\d+)""".r
      scala.jdk.CollectionConverters.ListHasAsScala(
        Files.readAllLines(file)).asScala.toSeq
        .flatMap { l =>
          for (p <- pr.findFirstMatchIn(l); d <- dr.findFirstMatchIn(l))
            yield p.group(1) -> d.group(1).toLong
        }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    }

    def run(m: Int): (Map[String, Long], ScaleFixture.Fixture, String) = {
      val csv = graft.SparkTestSession.tempDir(s"graft_scale_csv_$m")
      val t0 = System.nanoTime()
      val fx = ScaleFixture.write(csv, m)
      println(f"[scale] ${m}x fixture written in ${(System.nanoTime() - t0) / 1e9}%.1fs " +
        s"(${fx.branches.totalRows} br / ${fx.customers.totalRows} cu / " +
        s"${fx.loans.totalRows} lo / ${fx.transactions.totalRows} tx rows)")
      val out = graft.SparkTestSession.tempDir(s"graft_scale_out_$m").toString
      val log = new graft.pipeline.RunLog(s"$out/_logs",
        graft.pipeline.RunLog.newRunId())
      val t1 = System.nanoTime()
      graft.EtlMain.runFull(spark, csv.toString, out, "2026-08-16", Some(log))
      // the entities run side by side, so their durations overlap
      println(s"[scale] ${m}x runFull wall ${(System.nanoTime() - t1) / 1000000L}ms, " +
        s"per-entity durations summed ${durations(log.currentFile).getOrElse("full", 0L)}ms")
      // rows asserted BY CONSTRUCTION at any multiplier
      def prodCount(e: String) = spark.read.parquet(s"$out/$e").count()
      val checks = Seq(
        ("branches", prodCount("branches"), fx.branches.staged),
        ("customers", prodCount("customers"), fx.customers.staged),
        ("loans", prodCount("loans"), fx.loans.staged),
        ("transactions", prodCount("transactions"), fx.transactions.staged))
      checks.foreach { case (e, got, want) =>
        assert(got == want, s"[$m x] $e: got $got want $want")
        println(s"[scale] ${m}x $e rows OK: $got (= by-construction)")
      }
      // content digests: two builds agree on the tables iff the
      // `[digest]` lines of their outputs are equal
      graft.operators.Loads.digestReport(checks.map { case (e, _, _) =>
        val df = spark.read.parquet(s"$out/$e")
        e -> ((df, df.columns.toSeq.sorted))
      }.toMap).collect().foreach { r =>
        println(s"[digest] ${m}x ${r.getString(0)} rows=${r.getLong(1)} digest=${r.getString(2)}")
      }
      (durations(log.currentFile), fx, out)
    }

    val (d1, _, _) = run(1)
    val (dN, _, outN) = run(mult)
    println(f"[scale] phase times (1x -> ${mult}x), ratio vs linear bound $mult:")
    (d1.keySet ++ dN.keySet).toSeq.sorted.foreach { ph =>
      val a = d1.getOrElse(ph, 0L); val b = dN.getOrElse(ph, 0L)
      val ratio = if (a > 0) b.toDouble / a else Double.NaN
      println(f"[scale]   $ph%-14s ${a}ms -> ${b}ms  ratio $ratio%.2fx " +
        (if (ratio <= mult) "(<= linear)" else "(SUPER-LINEAR)"))
    }
    // partition layout of the largest production table
    val txDir = new java.io.File(s"$outN/transactions")
    val parts = Option(txDir.list()).getOrElse(Array.empty)
      .filter(_.startsWith("transaction_category=")).sorted
    parts.foreach { p =>
      val files = Option(new java.io.File(txDir, p).list())
        .getOrElse(Array.empty).count(_.endsWith(".parquet"))
      println(s"[scale] layout transactions/$p: $files parquet files")
    }
    spark.stop()
  }
}
