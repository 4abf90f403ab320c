package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Writers

class WritersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("partitioned write enables partition pruning on read") {
    val out = SparkTestSession.tempDir("graft_part").toString + "/orders"
    val orders = table(spark, "/root/testdata/sf0.001", "orders")
    Writers.writePartitioned(orders, out, Seq("o_orderstatus"),
      sortCols = Seq("o_orderdate"))
    // hive-style layout
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("o_orderstatus=")).sorted
    assert(dirs.toSeq == Seq("o_orderstatus=F", "o_orderstatus=O",
      "o_orderstatus=P"))
    // predicate on the partition column becomes a PartitionFilter —
    // non-matching directories are never opened
    val pruned = spark.read.parquet(out).filter(col("o_orderstatus") === "F")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      scan.take(1500))
    assert(pruned.count() ==
      orders.filter(col("o_orderstatus") === "F").count())
  }

  test("overwritePartitions replaces ONLY the touched partitions — " +
    "idempotent backfill, untouched bytes intact, null guard (D14)") {
    val spark2 = spark
    import spark2.implicits._
    val out = SparkTestSession.tempDir("graft_dpo").toString + "/t"
    Seq(("2024-01-01", 1L, "orig"), ("2024-01-01", 2L, "orig"),
      ("2024-01-02", 3L, "orig"), ("2024-01-03", 4L, "orig"))
      .toDF("day", "id", "v")
      .write.partitionBy("day").parquet(out)
    val d2files = new java.io.File(s"$out/day=2024-01-02").list().toSet
    // backfill day 1 with a CORRECTED batch (one row instead of two)
    val fix = Seq(("2024-01-01", 9L, "fixed")).toDF("day", "id", "v")
    Writers.overwritePartitions(fix, out, Seq("day"))
    def rows() = spark.read.parquet(out)
      // partition-value inference types "day" as DATE on read-back
      .select(col("day").cast("string").as("day"), col("id"), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows() == Set(("2024-01-01", 9L, "fixed"),
      ("2024-01-02", 3L, "orig"), ("2024-01-03", 4L, "orig")))
    // the untouched partition's FILES were not rewritten
    assert(new java.io.File(s"$out/day=2024-01-02").list().toSet == d2files)
    // re-running the same backfill converges (no duplicate append)
    Writers.overwritePartitions(fix, out, Seq("day"))
    assert(rows().size == 3)
    // a full-table clobber is impossible: other partitions survived
    // every call above; and nulls in the partition column fail loudly
    val ex = intercept[IllegalArgumentException] {
      Writers.overwritePartitions(
        Seq((null: String, 7L, "x")).toDF("day", "id", "v"), out, Seq("day"))
    }
    assert(ex.getMessage.contains("null"), ex.getMessage)
    // the session conf was restored, not leaked
    assert(spark.conf.getOption(
      "spark.sql.sources.partitionOverwriteMode").forall(_ != "dynamic"))
  }

  test("orc roundtrip: partition pruning + predicate pushdown to the stripe") {
    val out = SparkTestSession.tempDir("graft_orc").toString + "/orders"
    val orders = table(spark, "/root/testdata/sf0.001", "orders")
    Writers.writeOrc(orders, out, partitionCols = Seq("o_orderstatus"),
      sortCols = Seq("o_orderdate"))
    val back = Writers.readOrc(spark, out)
    // roundtrip is lossless (partition column is re-read as string —
    // compare on the stable key + measure)
    assert(back.count() == orders.count())
    // exact-integer checksum (double sums vary with accumulation order)
    def cents(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")))
        .head.getLong(0)
    assert(cents(back) == cents(orders))
    val pruned = back.filter(col("o_orderstatus") === "F" &&
      col("o_totalprice") > 1000.0)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      plan.take(1500))
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice"),
      plan.take(1500))
  }

  test("schema evolution: appended files with new columns merge on read") {
    import spark.implicits._
    val out = SparkTestSession.tempDir("graft_evo").toString + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(out)
    Seq((2L, "b", 9.5)).toDF("id", "v", "score")
      .write.mode("append").parquet(out)
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.toSet == Set("id", "v", "score"))
    val byId = merged.collect().map(r => r.getAs[Long]("id") ->
      Option(r.getAs[java.lang.Double]("score"))).toMap
    assert(byId(1L).isEmpty && byId(2L).contains(9.5)) // old rows → null
  }

  test("bucketed table joins without a shuffle on the bucket key") {
    val orders = table(spark, "/root/testdata/sf0.001", "orders")
    Writers.writeBucketed(orders, "orders_bkt", "o_custkey", 4)
    val cust = table(spark, "/root/testdata/sf0.001", "customer")
      .withColumnRenamed("c_custkey", "o_custkey")
    val bkt = spark.table("orders_bkt")
    // aggregate on the bucket key: no Exchange below the aggregate
    val agg = bkt.groupBy("o_custkey").agg(count(lit(1)).as("n"))
    agg.collect()
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), aggPlan.take(1500))
    assert(agg.count() > 0)
  }

  test("compact merges a small-file directory, preserving every row") {
    import spark.implicits._
    val dir = SparkTestSession.tempDir("graft_compact").toString + "/t"
    // simulate streaming-append damage: 40 tiny files
    spark.range(0, 4000).select($"id", ($"id" % 7).as("k"))
      .repartition(40).write.parquet(dir)
    val before = spark.read.parquet(dir)
    val beforeRows = before.collect().map(_.getLong(0)).sorted.toSeq
    val (nBefore, nAfter) = Writers.compact(spark, dir, targetBytes = 1L << 20)
    assert(nBefore == 40 && nAfter < 40, s"$nBefore -> $nAfter")
    val after = spark.read.parquet(dir)
    assert(after.collect().map(_.getLong(0)).sorted.toSeq == beforeRows)
    // physical file count actually shrank
    val files = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == nAfter, s"expected $nAfter files, found $files")
    // idempotent: compacting a compact dir is a no-op-sized rewrite
    val (b2, a2) = Writers.compact(spark, dir, targetBytes = 1L << 20)
    assert(b2 == nAfter && a2 == nAfter)
  }

  test("compact refuses a hive-partitioned directory (would flatten layout)") {
    import spark.implicits._
    val dir = SparkTestSession.tempDir("graft_compact_part").toString + "/t"
    spark.range(0, 100).select($"id", ($"id" % 3).as("k"))
      .write.partitionBy("k").parquet(dir)
    val ex = intercept[IllegalArgumentException] {
      Writers.compact(spark, dir)
    }
    assert(ex.getMessage.contains("subdirectories"))
    // layout untouched
    assert(spark.read.parquet(dir).count() == 100)
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("k=")))
  }

  test("compact self-heals the crash window (dir renamed to bak, swap not done)") {
    import spark.implicits._
    val dir = SparkTestSession.tempDir("graft_compact_crash").toString + "/t"
    spark.range(0, 500).select($"id").repartition(5).write.parquet(dir)
    // simulate a crash between rename(dir→bak) and rename(tmp→dir):
    // the data directory is absent, only the bak survives
    val f = new java.io.File(dir)
    assert(f.renameTo(new java.io.File(dir + "__bak")))
    assert(!f.exists())
    val (nBefore, nAfter) = Writers.compact(spark, dir, targetBytes = 1L << 20)
    assert(nBefore == 5 && nAfter >= 1)
    assert(spark.read.parquet(dir).count() == 500)
    assert(!new java.io.File(dir + "__bak").exists())
  }

  test("versioned table: atomic publish, time travel, retention") {
    import graft.sources.VersionedTable
    val spark2 = spark
    import spark2.implicits._
    val dir = SparkTestSession.tempDir("graft_ver").toString + "/t"
    assert(VersionedTable.versions(spark, dir).isEmpty)
    val v1 = VersionedTable.write(Seq((1L, "a")).toDF("k", "s"), dir)
    val v2 = VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    val v3 = VersionedTable.write(Seq((9L, "z")).toDF("k", "s"), dir)
    assert((v1, v2, v3) == ((1L, 2L, 3L)))
    // latest = v3; time travel to v2 sees the old snapshot unchanged
    assert(VersionedTable.read(spark, dir).count() == 1)
    val pinned = VersionedTable.read(spark, dir, Some(2L))
    assert(pinned.count() == 2)
    // a NEW write does not disturb the pinned snapshot (isolation)
    VersionedTable.write(Seq((7L, "q")).toDF("k", "s"), dir)
    assert(pinned.count() == 2)
    assert(VersionedTable.versions(spark, dir) == Seq(1L, 2L, 3L, 4L))
    // retention drops the oldest versions only
    assert(VersionedTable.prune(spark, dir, keep = 2) == Seq(1L, 2L))
    assert(VersionedTable.versions(spark, dir) == Seq(3L, 4L))
    // no partial state is ever visible: temp dirs are gone
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("__v_tmp")))
  }

  test("versioned table: deletion vectors hide rows without rewriting; " +
    "chain resolves, compact folds, prune refuses a broken chain") {
    import graft.sources.VersionedTable
    val spark2 = spark
    import spark2.implicits._
    val dir = SparkTestSession.tempDir("graft_dv").toString + "/t"
    VersionedTable.write((1L to 10L).map(i => (i, s"row$i")).toDF("k", "s"),
      dir)
    // merge-on-read delete: v2 holds ONLY the key set + base pointer
    val v2 = VersionedTable.softDelete(spark, dir, "k",
      Seq(3L, 7L).toDF("k"))
    assert(v2 == 2L)
    val cur = VersionedTable.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(cur == (1L to 10L).toSet -- Set(3L, 7L))
    // the base version is untouched: time travel still shows the rows
    assert(VersionedTable.read(spark, dir, Some(1L)).count() == 10)
    // chained DV on a DV: resolves through both
    val v3 = VersionedTable.softDelete(spark, dir, "k", Seq(1L).toDF("k"))
    assert(v3 == 3L)
    assert(VersionedTable.read(spark, dir).count() == 7)
    // pruning away the base under a surviving DV is refused
    intercept[IllegalArgumentException] {
      VersionedTable.prune(spark, dir, keep = 2)
    }
    // compact folds the chain into a full version; prune then works
    val v4 = VersionedTable.compact(spark, dir)
    assert(v4 == 4L)
    assert(VersionedTable.prune(spark, dir, keep = 1) == Seq(1L, 2L, 3L))
    val folded = VersionedTable.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(folded == (1L to 10L).toSet -- Set(1L, 3L, 7L))
    // CAS: a stale expectedParent soft delete aborts cleanly
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.softDelete(spark, dir, "k", Seq(2L).toDF("k"),
        expectedParent = Some(1L))
    }
    assert(VersionedTable.versions(spark, dir) == Seq(4L))
    // r9 ADVICE: a multi-column key frame resolves the key BY NAME —
    // the key NOT being first no longer deletes by the wrong column
    val v5 = VersionedTable.softDelete(spark, dir, "k",
      Seq(("noise", 10L)).toDF("other", "k"))
    assert(v5 == 5L)
    assert(VersionedTable.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).toSet ==
      (1L to 10L).toSet -- Set(1L, 3L, 7L, 10L))
    // and a multi-column frame WITHOUT the key column fails loudly
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.softDelete(spark, dir, "k",
        Seq(("x", 2L)).toDF("a", "b"))
    }
    assert(ex.getMessage.contains("'k'"), ex.getMessage)
  }

  test("versioned table: eraseKeys removes rows from every readable version") {
    import graft.sources.VersionedTable
    val spark2 = spark
    import spark2.implicits._
    val dir = SparkTestSession.tempDir("graft_erase").toString + "/t"
    VersionedTable.write((1L to 10L).map(i => (i, s"row$i")).toDF("k", "s"), dir)
    VersionedTable.write((1L to 12L).map(i => (i, s"row$i")).toDF("k", "s"), dir)
    val (v, removed) = VersionedTable.eraseKeys(spark, dir, "k",
      Seq(3L, 7L, 999L).toDF("k"))
    assert(removed == 2L) // 999 never existed
    // the new version has no trace of the erased keys…
    val left = VersionedTable.read(spark, dir, Some(v))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(!left.contains(3L) && !left.contains(7L) && left.size == 10)
    // …and history is gone: the erasure version is the ONLY version
    assert(VersionedTable.versions(spark, dir) == Seq(v))
    // keepHistory defers the prune for draining readers
    val (v2, r2) = VersionedTable.eraseKeys(spark, dir, "k",
      Seq(1L).toDF("k"), keepHistory = true)
    assert(r2 == 1L && VersionedTable.versions(spark, dir) == Seq(v, v2))
  }

  test("schema evolution: widened batches merge, old rows null-fill, pruning intact") {
    val spark2 = spark
    import spark2.implicits._
    val dir = SparkTestSession.tempDir("graft_evo").toString + "/t"
    // generation 1: (k, a); generation 2 adds column b
    Seq((1L, "x"), (2L, "y")).toDF("k", "a")
      .write.parquet(s"$dir/batch=1")
    Seq((3L, "z", 30L), (4L, "w", 40L)).toDF("k", "a", "b")
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("k", "a", "b", "batch"))
    val rows = merged.select("k", "b").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty) // old rows null-fill
    assert(rows(3L).contains(30L) && rows(4L).contains(40L))
    // projection over the merged schema still prunes to one column +
    // the requested filter pushes down
    val plan = merged.select("k").where($"k" > 2L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<k:bigint>"), plan)
    assert(plan.contains("GreaterThan(k,2)"), plan)
  }

  test("data skipping: manifest prunes files, range read ≡ full filter") {
    import graft.sources.DataSkipping
    val dir = SparkTestSession.tempDir("graft_skip").toString + "/orders"
    val orders = table(spark, "/root/testdata/sf0.001", "orders")
    // range-clustered layout → tight per-file min/max on the price
    orders.repartitionByRange(8, col("o_totalprice"))
      .sortWithinPartitions("o_totalprice")
      .write.parquet(dir)
    val nFiles = DataSkipping.writeManifest(spark, dir, Seq("o_totalprice"))
    assert(nFiles == 8)
    // the manifest is hidden from plain reads of the data directory
    assert(spark.read.parquet(dir).count() == orders.count())
    // a selective range touches few of the 8 files
    val cand = DataSkipping.candidateFiles(spark, dir, "o_totalprice",
      lit(1000.0), lit(5000.0))
    assert(cand.nonEmpty && cand.length < 8, cand.length)
    // pruned read ≡ unpruned filter, row for row
    val pruned = DataSkipping.readRange(spark, dir, "o_totalprice",
      lit(1000.0), lit(5000.0))
    val full = spark.read.parquet(dir)
      .filter(col("o_totalprice") >= 1000.0 && col("o_totalprice") <= 5000.0)
    assert(pruned.count() == full.count() && full.count() > 0)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // empty intersection: no files touched, schema intact, zero rows
    val none = DataSkipping.readRange(spark, dir, "o_totalprice",
      lit(-10.0), lit(-5.0))
    assert(none.count() == 0 &&
      none.schema.fieldNames.sameElements(full.schema.fieldNames))
  }
}
