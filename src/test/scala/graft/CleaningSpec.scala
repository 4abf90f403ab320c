package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Cleaning

object SparkTestSession {
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  sys.addShutdownHook(tempDirs.forEach { d =>
    try {
      val under = java.nio.file.Files.walk(d)
      try under.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally under.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
  })

  /** A fresh directory under the system temp dir, deleted with
    * everything in it when the JVM exits.
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", tempDir("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with the driver-local size gate
    * (`spark.graft.localSolveBytes`, see `graft.fitsDriver`) set to
    * `bytes` on `session`, then unsets it. 0 forces every hybrid
    * operator down its distributed path. The gate is read when the
    * operator is called, so the call must sit inside `body`, on the
    * session the operator's input belongs to.
    */
  def withLocalSolveBytes[T](session: SparkSession, bytes: Long)(
      body: => T): T = {
    session.conf.set("spark.graft.localSolveBytes", bytes)
    try body finally session.conf.unset("spark.graft.localSolveBytes")
  }

  /** Runs `body` and counts the Spark jobs it launched. Counts ONLY
    * jobs carrying a fresh job group set on this thread: the
    * SparkContext listener bus is JVM-global, so a late async job from
    * an earlier suite (streaming teardown, cleaner work) would otherwise
    * land in the window (job events have no sessionUUID, so the group
    * id is the filter). An [[onPath]] inside `body` keeps this group.
    */
  def buildJobs[T](session: SparkSession, label: String)(
      body: => T): (T, Int) = {
    val group = s"build-probe-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); ()
        }
      }
    }
    val sc = session.sparkContext
    sc.setJobGroup(group, label)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(session)
      (out, jobs.get())
    } finally {
      sc.removeSparkListener(l)
      sc.clearJobGroup()
    }
  }

  /** Runs `body` and asserts that every hybrid operator it called took
    * `path`, and that at least one did. `"distributed"` runs `body`
    * under bound 0 ([[withLocalSolveBytes]]); `"local"` runs it at the
    * session's bound (the default, which every test input fits). The
    * operators' [[graft.HybridPath]] events are filtered on this
    * thread's job group — the caller's (as [[buildJobs]] sets it), else
    * a fresh one — so events that other threads or suites post never
    * count.
    */
  def onPath[T](session: SparkSession, path: String)(body: => T): T = {
    require(path == "local" || path == "distributed", path)
    val sc = session.sparkContext
    val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val group = outer.getOrElse(s"hybrid-path-${System.nanoTime()}")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[HybridPath]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case h: HybridPath if h.jobGroup == group => seen.add(h); ()
        case _ => ()
      }
    }
    if (outer.isEmpty) sc.setJobGroup(group, s"hybrid $path probe")
    sc.addSparkListener(l)
    try {
      val out =
        if (path == "distributed") withLocalSolveBytes(session, 0L)(body)
        else body
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(session)
      val got = seen.toArray(Array.empty[HybridPath]).toSeq
      org.scalatest.Assertions.assert(
        got.nonEmpty && got.forall(_.path == path),
        s"expected every hybrid operator on the $path path, got " +
          got.map(h => s"${h.op}: ${h.path}").mkString("[", ", ", "]"))
      out
    } finally {
      sc.removeSparkListener(l)
      if (outer.isEmpty) sc.clearJobGroup()
    }
  }
}

class CleaningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    spark.range(1).select(c.as("v")).collect()(0).getAs[T]("v")

  test("cleanText normalizes null sentinels and trims") {
    assert(one[String](Cleaning.cleanText(lit("  x  "))) == "x")
    assert(one[String](Cleaning.cleanText(lit("None"))) == "NA")
    assert(one[String](Cleaning.cleanText(lit(" NaN "))) == "NA")
    assert(one[String](Cleaning.cleanText(lit(""))) == "NA")
    assert(one[String](Cleaning.cleanText(lit(null).cast("string"))) == "NA")
    assert(one[String](Cleaning.cleanTextTitle(lit("hello WORLD"))) == "Hello World")
  }

  test("parseNumber strips currency junk, defaults garbage to 0") {
    assert(one[Double](Cleaning.parseNumber(lit("₹1,234.50"))) == 1234.5)
    assert(one[Double](Cleaning.parseNumber(lit("$ 99"))) == 99.0)
    assert(one[Double](Cleaning.parseNumber(lit("abc"))) == 0.0)
    assert(one[Double](Cleaning.parseNumber(lit(null).cast("string"))) == 0.0)
    assert(one[Double](Cleaning.parseNumber(lit("-12.5"))) == -12.5)
  }

  test("parseDateMulti handles formats, century pivot, d/m swap, invalids") {
    def p(s: String): String =
      one[String](Cleaning.parseDateMulti(lit(s)).cast("string"))
    assert(p("13-03-2011") == "2011-03-13") // day-first (month slot > 12)
    assert(p("05-03-2011") == "2011-05-03") // ambiguous → month-first
    assert(p("2011-03-13") == "2011-03-13") // ISO
    assert(p("13-03-11") == "2011-03-13")   // 2-digit, ≤26 → 2000s
    assert(p("13-03-78") == "1978-03-13")   // 2-digit, >26 → 1900s
    assert(p("03-27-97") == "1997-03-27")   // swap: middle can't be month
    assert(p("31-02-2011") == null)          // invalid calendar day
    assert(p("13-13-11") == null)            // no valid month either way
    assert(p("garbage") == null)
    assert(p("01-01-2050") == null)          // beyond refYear
  }

  test("age / tenure / segment semantics") {
    val ref = lit("2026-08-12").cast("date")
    def age(d: String): Int =
      one[Int](Cleaning.ageAt(lit(d).cast("date"), ref))
    assert(age("2000-08-12") == 26) // birthday today counts
    assert(age("2000-08-13") == 25) // birthday tomorrow
    assert(age("2027-01-01") == 0)  // future dob → 0
    assert(one[Int](Cleaning.tenureDays(lit("2026-08-11").cast("date"), ref)) == 1)
    assert(one[Int](Cleaning.tenureDays(lit("2027-01-01").cast("date"), ref)) == 0)
    assert(one[String](Cleaning.customerSegment(lit(730))) == "VIP")
    assert(one[String](Cleaning.customerSegment(lit(729))) == "Regular")
    assert(one[String](Cleaning.customerSegment(lit(1))) == "New")
    assert(one[String](Cleaning.customerSegment(lit(0))) == "NA")
  }

  test("region / risk / txn / bool / gender maps") {
    assert(one[String](Cleaning.regionOf(lit("Punjab"))) == "North")
    assert(one[String](Cleaning.regionOf(lit("tamil nadu"))) == "South")
    assert(one[String](Cleaning.regionOf(lit("Goa"))) == "NA")
    assert(one[String](Cleaning.riskCategory(lit(500001.0))) == "High")
    assert(one[String](Cleaning.riskCategory(lit(500000.0))) == "Medium")
    assert(one[String](Cleaning.riskCategory(lit(100.0))) == "Low")
    assert(one[String](Cleaning.txnCategory(lit(10001.0))) == "Large")
    assert(one[Boolean](Cleaning.parseBool(lit(" YES "))))
    assert(!one[Boolean](Cleaning.parseBool(lit("no"))))
    assert(one[String](Cleaning.normalizeGender(lit("FEMALE"))) == "F")
    assert(one[String](Cleaning.normalizeGender(lit("x"))) == "N")
  }

  test("luhn16 validates check digits; ipv4Valid ranges octets") {
    import graft.functions.TextFunctions
    // known-valid test numbers (Visa/Mastercard/Discover test cards)
    for (ok <- Seq("4532015112830366", "5425233430109903", "6011000990139424"))
      assert(one[Boolean](TextFunctions.luhn16(lit(ok))), ok)
    // any single-digit corruption of a valid number must fail
    assert(!one[Boolean](TextFunctions.luhn16(lit("4532015112830367"))))
    assert(!one[Boolean](TextFunctions.luhn16(lit("4532015112830356"))))
    assert(!one[Boolean](TextFunctions.luhn16(lit("5532015112830366"))))
    assert(one[Boolean](TextFunctions.ipv4Valid(lit("255.255.255.255"))))
    assert(one[Boolean](TextFunctions.ipv4Valid(lit("10.1.2.3"))))
    assert(!one[Boolean](TextFunctions.ipv4Valid(lit("999.1.2.300"))))
    assert(!one[Boolean](TextFunctions.ipv4Valid(lit("1.2.3.256"))))
  }

  test("monthsBetweenWhole clamps and counts calendar months") {
    val s = lit("2011-03-13").cast("date")
    val e = lit("2019-03-13").cast("date")
    assert(one[Int](Cleaning.monthsBetweenWhole(s, e)) == 96)
    assert(one[Int](Cleaning.monthsBetweenWhole(e, s)) == 0) // negative → 0
  }
}
