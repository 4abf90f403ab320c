package graftbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded, wall-clock-free CSV batches for the four bank entities, with
  * a ledger of what the ETL must do with them, known by construction.
  *
  * Each entity file carries the reference data's hazards: rows with an
  * empty or blank primary key (dropped at staging), keep-last duplicate
  * keys (the later row shadows the earlier), and dirty dates, amounts,
  * casing and quoted commas (nulled, defaulted or normalised by the
  * transform). Planted rows have fixed values whose transformed form is
  * written down in [[Planted]]; the seed moves every other value.
  *
  * Base sizes per multiplier are those of the reference data set: 26
  * branches, 5024 customers, 2007 loans and 3000 transactions.
  */
final class EtlInputs(dir: Path, mult: Int, seed: Long) {
  import EtlInputs._

  /** Valid keys already loaded into production, per entity. */
  private val loaded = mutable.Map.empty[String, Set[String]].withDefaultValue(Set.empty)
  /** Files written but not yet loaded, per entity. */
  private val pending = mutable.Map.empty[String, Vector[FileLedger]].withDefaultValue(Vector.empty)
  /** Every file written so far, per entity (the ETL re-reads its glob). */
  private val files = mutable.Map.empty[String, Vector[FileLedger]].withDefaultValue(Vector.empty)

  private val nBranches = 26 * mult
  private val nCustomers = 5024 * mult
  private val nLoans = 2007 * mult
  private val nTxns = 3000 * mult

  def writeBase(): Unit = {
    Files.createDirectories(dir)
    write("branches", "branches.csv", branches())
    write("customers", "customers.csv", customers())
    write("loans", "loans.csv", loans())
    write("transactions", "transactions.csv", transactions())
  }

  /** Delta files of about a tenth of each entity's base rows, half of
    * them new keys and half re-sent existing keys. Branches and loans
    * get no new file.
    */
  def writeDelta(): Unit = {
    write("customers", "customers_delta.csv", customersDelta())
    write("transactions", "transactions_delta.csv", transactionsDelta())
  }

  /** What the next ETL run over `dir` must report and append, then
    * records that run as loaded.
    */
  def expectNextRun(): Map[String, Expect] = {
    val out = Entities.map { e =>
      val newFiles = pending(e)
      e -> (if (newFiles.isEmpty) Expect(skip = true, 0, 0, 0, 0, 0, loaded(e).size.toLong)
      else {
        val all = files(e)
        val keys = all.flatMap(_.keys)
        val distinct = keys.toSet
        Expect(skip = false,
          csvRows = all.map(_.rows).sum,
          invalidPk = all.map(_.invalid).sum,
          deduped = keys.size - distinct.size.toLong,
          appended = (distinct -- loaded(e)).size.toLong,
          newFileRows = newFiles.map(_.rows).sum,
          productionRows = (loaded(e) ++ distinct).size.toLong)
      })
    }.toMap
    Entities.foreach { e =>
      loaded(e) = loaded(e) ++ files(e).flatMap(_.keys)
      pending(e) = Vector.empty
    }
    out
  }

  // ------------------------------------------------------------ writers

  private def write(entity: String, name: String, rows: Iterator[Row]): Unit = {
    val w = Files.newBufferedWriter(dir.resolve(name), StandardCharsets.UTF_8)
    var n, invalid = 0L
    val keys = Vector.newBuilder[String]
    try {
      w.write(Header(entity).mkString(",")); w.write('\n')
      rows.foreach { r =>
        writeRow(w, r)
        n += 1
        if (r.head.trim.isEmpty) invalid += 1 else keys += r.head
      }
    } finally w.close()
    val f = FileLedger(n, invalid, keys.result())
    pending(entity) = pending(entity) :+ f
    files(entity) = files(entity) :+ f
  }

  private def writeRow(w: BufferedWriter, r: Row): Unit = {
    var first = true
    r.foreach { v =>
      if (!first) w.write(',')
      first = false
      w.write(if (v.contains(",") || v.contains("\"")) "\"" + v.replace("\"", "\"\"") + "\"" else v)
    }
    w.write('\n')
  }

  private def rng(salt: Long) = new SplittableRandom(seed * 1000003L + salt)

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  /** `k` distinct keys drawn from 1..n. */
  private def sample(r: SplittableRandom, n: Int, k: Int): IndexedSeq[Int] = {
    val s = mutable.LinkedHashSet.empty[Int]
    while (s.size < k) s += 1 + r.nextInt(n)
    s.toIndexedSeq
  }

  private def blankKeys(r: SplittableRandom, k: Int, filler: Row): Iterator[Row] =
    Iterator.fill(k)((if (r.nextBoolean()) "" else "  ") +: filler.tail)

  /** A date in one of the formats the transform accepts, or a dirty one. */
  private def date(r: SplittableRandom, y0: Int, span: Int): String = {
    val y = y0 + r.nextInt(span); val m = 1 + r.nextInt(12); val d = 1 + r.nextInt(28)
    r.nextInt(20) match {
      case 0 => "31-04-" + f"${y % 100}%02d" // no such calendar day
      case 1 => "not-a-date"
      case 2 => ""
      case 3 | 4 => f"$y%04d-$m%02d-$d%02d"
      case 5 | 6 => f"$d%02d/$m%02d/$y%04d"
      case _ => f"$d%02d-$m%02d-${y % 100}%02d"
    }
  }

  private def amount(r: SplittableRandom, max: Int): String = {
    val v = r.nextInt(max * 100) / 100.0
    r.nextInt(25) match {
      case 0 => "junk"
      case 1 => ""
      case 2 | 3 => f"₹$v%,.2f"
      case 4 => f"$$$v%,.2f"
      case _ => f"$v%.2f"
    }
  }

  private def messy(r: SplittableRandom, s: String): String = r.nextInt(6) match {
    case 0 => s.toUpperCase
    case 1 => "  " + s + " "
    case 2 => s.toLowerCase
    case _ => s
  }

  private def branchId(i: Int) = f"BR$i%06d"
  private def customerId(i: Int) = (1000000 + i).toString
  private def loanId(i: Int) = (5000000 + i).toString
  private def txnId(i: Int) = f"TX$i%09d"

  private def branches(): Iterator[Row] = {
    val r = rng(1)
    val row = (id: String, tag: String) => Vector(id, messy(r, s"branch $tag"),
      messy(r, pick(r, Cities)), messy(r, pick(r, States)),
      messy(r, s"${pick(r, FirstNames)} ${pick(r, LastNames)}"))
    val shadows = sample(r, nBranches, 2 * mult)
    Planted.branches.iterator ++
      (1 to nBranches).iterator.map(i => row(branchId(i), i.toString)) ++
      shadows.iterator.map(i => row(branchId(i), s"$i relocated")) ++
      blankKeys(r, mult, row("", "ghost")) ++ Planted.branchesLast.iterator
  }

  private def customer(r: SplittableRandom, id: String): Row = {
    val first = pick(r, FirstNames); val last = pick(r, LastNames)
    Vector(id, branchId(1 + r.nextInt(nBranches)), messy(r, first), messy(r, last),
      date(r, 1950, 55), pick(r, Genders), messy(r, s"$first.$last${r.nextInt(1000)}@example.org"),
      (7000000000L + r.nextInt(1000000000)).toString,
      s"${r.nextInt(99)}/${r.nextInt(900)}, ${pick(r, Streets)}, ${pick(r, Cities)}",
      date(r, 2000, 26))
  }

  private def customers(): Iterator[Row] = {
    val r = rng(2)
    val shadows = sample(r, nCustomers, 15 * mult)
    Planted.customers.iterator ++
      (1 to nCustomers).iterator.map(i => customer(r, customerId(i))) ++
      shadows.iterator.map(i => customer(r, customerId(i))) ++
      blankKeys(r, 10 * mult, customer(r, ""))
  }

  private def customersDelta(): Iterator[Row] = {
    val r = rng(12)
    val half = nCustomers / 20
    val fresh = (1 to half).map(j => customerId(nCustomers + j))
    val resent = sample(r, nCustomers, half).map(customerId)
    val mixed = shuffle(r, fresh ++ resent)
    mixed.iterator.map(customer(r, _)) ++
      sample(r, half, mult).iterator.map(j => customer(r, customerId(nCustomers + j))) ++
      blankKeys(r, mult, customer(r, "")) ++ Planted.customersDelta.iterator
  }

  private def loans(): Iterator[Row] = {
    val r = rng(3)
    val loan = (id: String) => Vector(id, customerId(1 + r.nextInt(nCustomers)),
      messy(r, pick(r, LoanTypes)), amount(r, 5000000),
      f"${5 + r.nextInt(15)}%d.${r.nextInt(100)}%02d", date(r, 2008, 12),
      date(r, 2020, 12), messy(r, pick(r, LoanStatuses)))
    val shadows = sample(r, nLoans, 8 * mult)
    Planted.loans.iterator ++
      (1 to nLoans).iterator.map(i => loan(loanId(i))) ++
      shadows.iterator.map(i => loan(loanId(i))) ++
      blankKeys(r, 5 * mult, loan(""))
  }

  private def txn(r: SplittableRandom, id: String): Row =
    Vector(id, customerId(1 + r.nextInt(nCustomers)), date(r, 2018, 8),
      messy(r, pick(r, TxnTypes)), amount(r, 50000), amount(r, 900000),
      pick(r, FraudFlags))

  private def transactions(): Iterator[Row] = {
    val r = rng(4)
    val shadows = sample(r, nTxns, 15 * mult)
    Planted.transactions.iterator ++
      (1 to nTxns).iterator.map(i => txn(r, txnId(i))) ++
      shadows.iterator.map(i => txn(r, txnId(i))) ++
      blankKeys(r, 10 * mult, txn(r, ""))
  }

  private def transactionsDelta(): Iterator[Row] = {
    val r = rng(14)
    val half = nTxns / 20
    val fresh = (1 to half).map(j => txnId(nTxns + j))
    val resent = sample(r, nTxns, half).map(txnId)
    shuffle(r, fresh ++ resent).iterator.map(txn(r, _)) ++
      sample(r, half, mult).iterator.map(j => txn(r, txnId(nTxns + j))) ++
      blankKeys(r, mult, txn(r, "")) ++ Planted.transactionsDelta.iterator
  }

  private def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

object EtlInputs {
  type Row = Vector[String]

  val Entities: Seq[String] = Seq("branches", "customers", "loans", "transactions")

  val Header: Map[String, Seq[String]] = Map(
    "branches" -> Seq("branch_id", "branch_name", "city", "state", "manager_name"),
    "customers" -> Seq("customer_id", "branch_id", "first_name", "last_name", "dob",
      "gender", "email", "phone", "address", "account_open_date"),
    "loans" -> Seq("loan_id", "customer_id", "loan_type", "loan_amount",
      "interest_rate", "start_date", "end_date", "loan_status"),
    "transactions" -> Seq("transaction_id", "customer_id", "transaction_date",
      "transaction_type", "amount", "balance_after", "fraud_flag"))

  val PrimaryKey: Map[String, String] = Header.map { case (e, cols) => e -> cols.head }

  /** One ETL run's expected outcome for one entity. `skip`: no new file,
    * so the run logs a skip. The other counts are the RunLog `stats`
    * fields, the rows appended, the raw rows in files new to this run,
    * and the production table's size after the run.
    */
  final case class Expect(skip: Boolean, csvRows: Long, invalidPk: Long,
                          deduped: Long, appended: Long, newFileRows: Long,
                          productionRows: Long)

  private final case class FileLedger(rows: Long, invalid: Long, keys: Vector[String])

  /** Rows with fixed raw values and, per key, the production values the
    * transform must give them (as `String.valueOf` of the column). The
    * transform pins "today" to `graft.BatchDate` (2026-08-12).
    */
  object Planted {
    val branches: Seq[Row] = Seq(
      Vector("BRP001", "main road branch", "mumbai ", " punjab", "asha  rao"),
      Vector("BRP002", "old name", "Pune", "Kerala", "X"))
    val branchesLast: Seq[Row] = Seq(
      Vector("BRP002", "new name", "pune", "west bengal", "y"))
    val customers: Seq[Row] = Seq(
      Vector("9000001", "BRP001", "  aNNa ", "rao", "31-04-88", "female",
        " Anna.Rao@Example.ORG ", "7000000001", "12/3, Ring Road, Pune", "05-06-20"),
      Vector("9000002", "BRP002", "ravi", "KUMAR", "1990-07-15", "M",
        "ravi@example.org", "7000000002", "1/1, Main Street, Goa", "01/08/2026"))
    val customersDelta: Seq[Row] = Seq(
      Vector("9000002", "BRP001", "Changed", "Name", "1991-01-01", "F",
        "changed@example.org", "7000000009", "9/9, Nowhere, Goa", "01-01-10"),
      Vector("9100001", "BRP001", "meera", "iyer", "29-02-00", "f",
        "MEERA@EXAMPLE.ORG", "7000000003", "4/5, Lake View, Chennai", "2024-02-29"))
    val loans: Seq[Row] = Seq(
      Vector("8000001", "9000001", "home", "545642.51", "8.50", "13-03-11", "13-03-19", "active"),
      Vector("8000002", "9000002", "CAR", "₹1,23,456.00", "9.25", "2020-01-15", "2021-06-30", "Closed"),
      Vector("8000003", "9000002", "gold", "junk", "7.00", "31-04-15", "01-01-20", "default"))
    val transactions: Seq[Row] = Seq(
      Vector("TXP000001", "9000001", "2024-02-29", " debit ", "$12,500.50", "100.00", "Yes"),
      Vector("TXP000002", "9000002", "2025-13-01", "credit", "999", "1,000", "0"))
    val transactionsDelta: Seq[Row] = Seq(
      Vector("TXP000003", "9100001", "15/08/2025", "Debit", "₹2,000", "", "y"))

    /** entity → key → column → expected value after the run that loads it. */
    val expected: Map[String, Map[String, Map[String, String]]] = Map(
      "branches" -> Map(
        "BRP001" -> Map("branch_name" -> "Main Road Branch", "city" -> "Mumbai",
          "state" -> "PUNJAB", "region" -> "North", "manager_name" -> "Asha  Rao"),
        "BRP002" -> Map("branch_name" -> "New Name", "state" -> "WEST BENGAL",
          "region" -> "East")),
      "customers" -> Map(
        "9000001" -> Map("first_name" -> "Anna", "dob" -> "null", "age" -> "0",
          "gender" -> "F", "email" -> "anna.rao@example.org",
          "account_open_date" -> "2020-06-05", "customer_tenure_days" -> "2259",
          "customer_segment" -> "VIP"),
        "9000002" -> Map("first_name" -> "Ravi", "last_name" -> "Kumar",
          "dob" -> "1990-07-15", "age" -> "36", "account_open_date" -> "2026-01-08",
          "customer_tenure_days" -> "216", "customer_segment" -> "Regular")),
      "loans" -> Map(
        "8000001" -> Map("loan_amount" -> "545642.51", "loan_duration_months" -> "96",
          "risk_category" -> "High", "loan_type" -> "Home", "loan_status" -> "Active"),
        "8000002" -> Map("loan_amount" -> "123456.0", "loan_duration_months" -> "17",
          "risk_category" -> "Medium"),
        "8000003" -> Map("loan_amount" -> "0.0", "start_date" -> "null",
          "loan_duration_months" -> "0", "risk_category" -> "Low")),
      "transactions" -> Map(
        "TXP000001" -> Map("transaction_date" -> "2024-02-29", "transaction_type" -> "DEBIT",
          "amount" -> "12500.5", "transaction_category" -> "Large", "fraud_flag" -> "true"),
        "TXP000002" -> Map("transaction_date" -> "null", "amount" -> "999.0",
          "balance_after" -> "1000.0", "transaction_category" -> "Small",
          "fraud_flag" -> "false")))

    /** Planted rows of the delta files. Customer 9000002 is re-sent with
      * new values: an incremental load keeps the loaded row.
      */
    val expectedDelta: Map[String, Map[String, Map[String, String]]] = Map(
      "customers" -> Map(
        "9100001" -> Map("first_name" -> "Meera", "dob" -> "2000-02-29", "age" -> "26",
          "gender" -> "F", "email" -> "meera@example.org",
          "account_open_date" -> "2024-02-29", "customer_segment" -> "VIP"),
        "9000002" -> expected("customers")("9000002")),
      "transactions" -> Map(
        "TXP000003" -> Map("transaction_date" -> "2025-08-15", "amount" -> "2000.0",
          "balance_after" -> "0.0", "transaction_category" -> "Medium",
          "fraud_flag" -> "true")))
  }

  private val Cities = Vector("Pune", "Mumbai", "Chennai", "Kolkata", "Howrah",
    "Salem", "Bhiwani", "Delhi", "Jaipur", "Surat")
  private val States = Vector("Punjab", "Maharashtra", "Tamil Nadu", "West Bengal",
    "Bihar", "Gujarat", "Delhi", "Kerala", "Goa", "UP", "Karnataka", "")
  private val FirstNames = Vector("Anil", "Asha", "Kiran", "Meena", "Ravi", "Sunita",
    "Vijay", "Lakshmi", "Arjun", "Priya", "Rahul", "Deepa")
  private val LastNames = Vector("Sharma", "Iyer", "Rao", "Patel", "Das", "Singh",
    "Nair", "Gupta", "Khan", "Reddy")
  private val Streets = Vector("Ring Road", "Main Street", "Lake View", "MG Road",
    "Station Road", "Temple Lane")
  private val Genders = Vector("M", "F", "m", "f", "male", "Female", "MALE", "", "other")
  private val LoanTypes = Vector("Home", "Car", "Personal", "Education", "Gold")
  private val LoanStatuses = Vector("Active", "Closed", "Default")
  private val TxnTypes = Vector("debit", "credit", "transfer", "withdrawal")
  private val FraudFlags = Vector("0", "1", "true", "false", "Yes", "no", "N", "")
}
