package graft

import org.scalatest.funsuite.AnyFunSuite

import SparkTestSession.withLocalSolveBytes

/** graft.fitsDriver — the one driver-local size gate every hybrid
  * operator consults (`spark.graft.localSolveBytes`, default
  * 32,000,000 bytes). Row-gated operators charge a fixed number of
  * bytes per row (16, 32 or 64), so at the default bound they flip
  * from their driver-local path to their distributed path above 2M,
  * 1M and 500k rows respectively.
  */
class SizeGateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark.newSession()

  test("default bound: 2M×16, 1M×32 and 500k×64 bytes are local; one " +
      "more row is distributed") {
    for ((rows, rowBytes) <- Seq((2000000L, 16), (1000000L, 32),
        (500000L, 64))) {
      assert(fitsDriver(spark, BigInt(rows) * rowBytes),
        s"$rows rows × $rowBytes B must stay local")
      assert(!fitsDriver(spark, BigInt(rows + 1) * rowBytes),
        s"${rows + 1} rows × $rowBytes B must go distributed")
    }
    assert(fitsDriver(spark, BigInt(32000000L)))
    assert(!fitsDriver(spark, BigInt(32000001L)))
  }

  test("bound 0 sends every non-empty input distributed; the conf is " +
      "read per call and unset after the helper's block") {
    withLocalSolveBytes(spark, 0L) {
      for (rowBytes <- Seq(16, 32, 64))
        assert(!fitsDriver(spark, BigInt(1) * rowBytes))
      // the trainers' corpus-bytes gate: any non-empty plan leaf
      val corpus = spark.range(0L, 10L).toDF("id")
      assert(leafBytes(corpus) > 0)
      assert(!fitsDriver(spark, leafBytes(corpus)))
    }
    assert(spark.conf.getOption("spark.graft.localSolveBytes").isEmpty)
    assert(fitsDriver(spark, BigInt(16)))
  }
}
