package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.BankEtl

/** Permanent guard against silent whole-stage-codegen fallback
  * (r8 VERDICT #1): the historically fragile shapes run with BOTH
  *  - `spark.sql.codegen.fallback=false` (a compile failure throws
  *    instead of silently re-running interpreted), and
  *  - [[CodegenCanary]] on the log (catches ERROR even where some
  *    execution path still swallows the exception).
  *
  * The round-8 failure: `filter(age < 0).count()` over the customers
  * transform — `age` re-inlined the full multi-format dob parse ladder
  * six times, the tree fused into `hashAgg_doAggregateWithoutKey_0`,
  * janino hit 64 KB, and the stage ran interpreted with only an ERROR
  * log line to show for it. BankEtl's parse-once two-stage selects fix
  * it; this spec keeps it fixed.
  */
class CodegenCanarySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def strict[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try CodegenCanary.watching(body)
    finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("EtlMain full run compiles every stage (no interpreted fallback), " +
    "rows unchanged") {
    for (src <- EtlTestData.sources) withClue(s"${src.name}: ") {
      val out = SparkTestSession.tempDir("graft_canary").toString
      strict {
        EtlMain.runFull(spark, src.dir, out, "2026-08-14")
      }
      // the fixture's by-construction counts; the reference's own
      // logged run: 25 branches / 5022 customers / 2006 loans
      for (e <- Seq("branches", "customers", "loans"))
        assert(spark.read.parquet(s"$out/$e").count() == src.staged(e), e)
    }
  }

  test("derived-column filter + no-key aggregate compiles for every " +
    "entity transform (the exact round-8 failing shape)") {
    for (src <- EtlTestData.sources) withClue(s"${src.name}: ") {
      strict {
        val cust = BankEtl.schemas.find(_.name == "customers").get
        val t = BankEtl.transform("customers",
          BankEtl.extract(spark, src.csv("customers"), cust).data)
        // the shape that tripped janino: prune-to-derived-column → filter
        // → count fuses the parse ladder under doAggregateWithoutKey
        assert(t.filter(col("age") < 0).count() == 0L)
        assert(t.filter(col("customer_segment") === "VIP").count() >= 0L)
        assert(t.filter(col("customer_tenure_days") < 0).count() == 0L)

        val loan = BankEtl.schemas.find(_.name == "loans").get
        val l = BankEtl.transform("loans",
          BankEtl.extract(spark, src.csv("loans"), loan).data)
        assert(l.filter(col("loan_duration_months") < 0).count() == 0L)
        assert(l.filter(col("risk_category") === "High").count() > 0L)

        val br = BankEtl.schemas.find(_.name == "branches").get
        val b = BankEtl.transform("branches",
          BankEtl.extract(spark, src.csv("branches"), br).data)
        assert(b.filter(col("region") =!= "NA").count() > 0L)
      }
    }
  }

  test("CodegenCanary trips on a real CodeGenerator ERROR event") {
    val h = CodegenCanary.install()
    try {
      org.apache.logging.log4j.LogManager.getLogger(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
        .error("synthetic compile failure (canary self-test)")
      assert(h.errorCount == 1)
      assert(h.firstError.exists(_.contains("synthetic")))
      intercept[IllegalStateException](h.assertClean())
    } finally h.uninstall()
    // and unrelated ERROR loggers do NOT trip it
    CodegenCanary.watching {
      org.apache.logging.log4j.LogManager.getLogger("graft.unrelated")
        .error("noise")
    }
  }
}
