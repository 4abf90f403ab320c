package graft

import java.nio.file.{Files, Paths}

import graft.tools.ScaleFixture

/** The bank-ETL CSV inputs the pipeline specs run on: the in-repo
  * `ScaleFixture` ×1 (all four entities, written once per JVM to a
  * temp dir), plus the reference checkout's own `data/` CSVs when that
  * directory exists. Each source carries the counts its specs assert:
  * by construction for the fixture, the reference's logged runs for
  * the reference data.
  *
  * @param rows   CSV data rows per entity (what extract reads)
  * @param staged production rows per entity (after the empty-PK drops
  *               and the keep-last dedup)
  */
final case class EtlSource(name: String, dir: String,
                           rows: Map[String, Long],
                           staged: Map[String, Long]) {
  def csv(entity: String): String = s"$dir/$entity.csv"
}

object EtlTestData {

  lazy val fixture: EtlSource = {
    val dir = SparkTestSession.tempDir("graft_etl_fixture")
    val fx = ScaleFixture.write(dir, 1)
    val stats = Seq("branches" -> fx.branches, "customers" -> fx.customers,
      "loans" -> fx.loans)
    EtlSource("fixture", dir.toString,
      rows = stats.map { case (e, s) => e -> s.totalRows }.toMap +
        ("transactions" -> fx.transactions.totalRows),
      staged = stats.map { case (e, s) => e -> s.staged }.toMap +
        ("transactions" -> fx.transactions.staged))
  }

  private val referenceDir = "/root/reference/data"

  /** The reference checkout's data. Its logged runs
    * (logs/etl_pipeline_20250916.log) extract 26 branch and 2007 loan
    * rows and load 25 branches / 5022 customers / 2006 loans; its
    * transactions.csv is a missing blob, so transactions are absent.
    */
  def reference: Option[EtlSource] =
    if (!Files.isDirectory(Paths.get(referenceDir))) None
    else Some(EtlSource("reference", referenceDir,
      rows = Map("branches" -> 26L, "loans" -> 2007L),
      staged = Map("branches" -> 25L, "customers" -> 5022L,
        "loans" -> 2006L)))

  /** Every source present on this host: the fixture always. */
  def sources: Seq[EtlSource] = fixture +: reference.toSeq
}
