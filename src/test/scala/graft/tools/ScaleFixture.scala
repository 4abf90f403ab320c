package graft.tools

import java.nio.file.{Files, Path}

/** 4-entity CSV fixture at an arbitrary size multiplier — the
  * reference-surface path (EtlMain over branches/customers/loans/
  * transactions CSVs) has only ever run at reference size (~7k rows;
  * r9 VERDICT #5). This synthesizes the same schemas
  * (config/config.py TABLE_SCHEMAS) with TransactionsFixture-style
  * planted semantics — empty-PK drops, keep-last duplicate shadows,
  * dirty dates/amounts the transform must null/default — so staged
  * row counts are assertable BY CONSTRUCTION at any size.
  *
  * Seeded and wall-clock-free: identical bytes every run.
  */
object ScaleFixture {

  final case class Stats(totalRows: Long, invalidPk: Long, deduped: Long) {
    def staged: Long = totalRows - invalidPk - deduped
  }

  final case class Fixture(branches: Stats, customers: Stats,
                           loans: Stats, transactions: TransactionsFixture.Stats)

  private def writer(path: Path): java.io.BufferedWriter =
    Files.newBufferedWriter(path)

  private def csvField(s: String): String =
    if (s.contains(",") || s.contains("\""))
      "\"" + s.replace("\"", "\"\"") + "\"" else s

  private def writeRows(path: Path, header: String,
                        rows: Iterator[Seq[String]]): Unit = {
    val w = writer(path)
    try {
      w.write(header); w.write('\n')
      rows.foreach { r =>
        w.write(r.map(csvField).mkString(",")); w.write('\n')
      }
    } finally w.close()
  }

  /** branches.csv — reference has 26 data rows; clean entity except
    * planted empty-PK + keep-last shadow rows.
    */
  def writeBranches(path: Path, n: Int, dups: Int, emptyPk: Int): Stats = {
    val rnd = new scala.util.Random(101)
    val cities = Seq("Mango", "Howrah", "Bhiwani", "Pune", "Salem")
    val states = Seq("Punjab", "Uttar Pradesh", "Kerala", "Bihar", "Goa")
    val base = (1 to n).iterator.map { i =>
      Seq(f"QT$i%04d", s"Branch-$i", cities(rnd.nextInt(5)),
        states(rnd.nextInt(5)), s"Manager $i")
    }
    val shadows = (1 to dups).iterator.map { i =>
      Seq(f"QT$i%04d", s"Branch-$i-LAST", "Pune", "Goa", s"Manager $i B")
    }
    val bad = (1 to emptyPk).iterator.map { i =>
      Seq(if (i % 2 == 0) "" else "  ", "Ghost", "X", "Y", "Z")
    }
    writeRows(path, "branch_id,branch_name,city,state,manager_name",
      base ++ shadows ++ bad)
    Stats(n.toLong + dups + emptyPk, emptyPk.toLong, dups.toLong)
  }

  /** customers.csv — dd-MM-yy dates (some invalid → transform nulls),
    * mixed-case gender, comma-bearing quoted addresses (the CSV-parse
    * hazard the reference data carries), trimmed-PK rows.
    */
  def writeCustomers(path: Path, n: Int, nBranches: Int, dups: Int,
                     emptyPk: Int): Stats = {
    val rnd = new scala.util.Random(102)
    val genders = Seq("F", "M", "f", "m", "female", "MALE", "")
    val base = (1 to n).iterator.map { i =>
      val dob =
        if (i % 97 == 0) "31-04-88" // invalid calendar day → null
        else if (i % 89 == 0) "not-a-date"
        else f"${1 + rnd.nextInt(28)}%02d-${1 + rnd.nextInt(12)}%02d-${rnd.nextInt(100)}%02d"
      val opened = f"${1 + rnd.nextInt(28)}%02d-${1 + rnd.nextInt(12)}%02d-${rnd.nextInt(25)}%02d"
      // trimmed-PK planting stays OUTSIDE the shadow id range: the
      // stage dedup keys on the RAW string (" 61 " ≠ "61"), so a
      // padded base row would NOT collapse with its shadow and the
      // by-construction count would drift (observed: +24 at 100x)
      val id = if (i % 61 == 0 && i > dups) s" $i " else i.toString
      Seq(id, f"QT${1 + rnd.nextInt(nBranches)}%04d",
        s"First$i", s"last$i", dob, genders(rnd.nextInt(genders.size)),
        s"user$i@example.org", f"${7000000000L + i}%d",
        s"${i % 99}/${i % 900}, Some Nagar, City-${100000 + i % 800000}",
        opened)
    }
    val shadows = (1 to dups).iterator.map { i =>
      Seq(i.toString, "QT0001", s"First$i", s"LAST-SHADOW", "01-01-90",
        "F", s"user$i@example.org", "7000000001",
        "1/1, Shadow Road, City-111111", "02-02-12")
    }
    val bad = (1 to emptyPk).iterator.map { i =>
      Seq(if (i % 2 == 0) "" else "  ", "QT0001", "G", "H", "01-01-90",
        "F", "g@example.org", "7000000002", "nowhere", "02-02-12")
    }
    writeRows(path, "customer_id,branch_id,first_name,last_name,dob," +
      "gender,email,phone,address,account_open_date",
      base ++ shadows ++ bad)
    Stats(n.toLong + dups + emptyPk, emptyPk.toLong, dups.toLong)
  }

  /** loans.csv — currency-junk amounts (safe_num → 0), invalid dates,
    * status/type vocab of the reference data.
    */
  def writeLoans(path: Path, n: Int, nCustomers: Int, dups: Int,
                 emptyPk: Int): Stats = {
    val rnd = new scala.util.Random(103)
    val types = Seq("Home", "Car", "Personal", "Education", "Gold")
    val statuses = Seq("Closed", "Default", "Active")
    val base = (1 to n).iterator.map { i =>
      val amt =
        if (i % 41 == 0) "junk"
        else if (i % 13 == 0) f"₹${rnd.nextInt(100000000) / 100.0}%,.2f"
        else f"${rnd.nextInt(100000000) / 100.0}%.2f"
      val start =
        if (i % 83 == 0) "31-04-15"
        else f"${1 + rnd.nextInt(28)}%02d-${1 + rnd.nextInt(12)}%02d-${10 + rnd.nextInt(12)}%02d"
      Seq(i.toString, (1 + rnd.nextInt(nCustomers)).toString,
        types(rnd.nextInt(types.size)), amt,
        f"${500 + rnd.nextInt(1200)}%d.${rnd.nextInt(100)}%02d".take(5),
        start, f"${1 + rnd.nextInt(28)}%02d-${1 + rnd.nextInt(12)}%02d-${22 + rnd.nextInt(10)}%02d",
        statuses(rnd.nextInt(statuses.size)))
    }
    // loan 1's keep-last shadow is the reference's loans.csv:2 row:
    // Home 545642.51, 13-03-11 → 13-03-19 (96 months, High risk)
    val shadows = (1 to dups).iterator.map { i =>
      if (i == 1) Seq("1", "1", "Home", "545642.51", "9.40", "13-03-11",
        "13-03-19", "Closed")
      else Seq(i.toString, "1", "Home", "99999.99", "9.99", "01-01-20",
        "01-01-28", "Active")
    }
    val bad = (1 to emptyPk).iterator.map { i =>
      Seq(if (i % 2 == 0) "" else "  ", "1", "Car", "1.00", "1.00",
        "01-01-20", "01-01-21", "Closed")
    }
    writeRows(path, "loan_id,customer_id,loan_type,loan_amount," +
      "interest_rate,start_date,end_date,loan_status",
      base ++ shadows ++ bad)
    Stats(n.toLong + dups + emptyPk, emptyPk.toLong, dups.toLong)
  }

  /** Write all four entities at `mult`× the reference's data volume
    * (reference: 26 branches / 5024 customers / 2007 loans; the
    * transactions fixture's base is 3000).
    */
  def write(dir: Path, mult: Int): Fixture = {
    val nBr = 26 * mult
    val nCu = 5024 * mult
    val nLo = 2007 * mult
    Fixture(
      branches = writeBranches(dir.resolve("branches.csv"), nBr,
        dups = 2 * mult, emptyPk = mult),
      customers = writeCustomers(dir.resolve("customers.csv"), nCu, nBr,
        dups = 15 * mult, emptyPk = 10 * mult),
      loans = writeLoans(dir.resolve("loans.csv"), nLo, nCu,
        dups = 8 * mult, emptyPk = 5 * mult),
      transactions = TransactionsFixture.write(
        dir.resolve("transactions.csv"), n = 3000 * mult,
        dupCount = 15, emptyPkCount = 10))
  }
}
