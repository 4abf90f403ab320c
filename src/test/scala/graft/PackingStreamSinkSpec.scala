package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Packing

class PackingStreamSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("packing respects the token budget per sequence (any shard count)") {
    val docs = (1L to 500L).map(i => (i, 10L + i % 90)).toDF("id", "toks")
    for (shards <- Seq(1, 4)) {
      val packed = Packing.packSequences(docs, "id", "toks", 512L, shards)
      // every doc fully assigned, ids unique
      assert(packed.count() == 500)
      // a sequence's PRIOR tokens never exceed the budget (greedy rule:
      // a doc starts a new sequence once the budget is crossed)
      val seqTotals = packed.groupBy($"seq_id")
        .agg(sum($"toks").as("t"), count(lit(1)).as("n")).collect()
      assert(seqTotals.forall(r => r.getAs[Long]("t") < 512 + 100))
      if (shards > 1) {
        val nSeqs = seqTotals.length
        assert(nSeqs >= shards) // sequences spread across shards
      }
    }
  }

  test("shuffleShards: deterministic permutation, dense positions, salt reshuffles") {
    val docs = (1L to 300L).toDF("id")
    val a = Packing.shuffleShards(docs, "id", 4, "ep1").collect()
    // every id placed exactly once
    assert(a.map(_.getAs[Long]("id")).toSet == (1L to 300L).toSet)
    // positions are dense 0..n_s-1 within each shard
    a.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq ==
        (0L until rows.length).toSeq)
    }
    // pure function of (data, salt): same placement on a different
    // partitioning, different permutation under a different salt
    val b = Packing.shuffleShards(docs.repartition(7), "id", 4, "ep1")
      .collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("id"),
        r.getAs[Long]("shard"), r.getAs[Long]("pos"))).sortBy(_._1).toSeq
    assert(key(a) == key(b))
    val c = Packing.shuffleShards(docs, "id", 4, "ep2").collect()
    assert(key(a) != key(c))
  }

  test("packTokenStream: blocks reassemble the exact doc-order stream") {
    import graft.operators.Packing
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, Seq(10L, 11L, 12L)),
      (2L, Seq(20L)),
      (3L, Seq(30L, 31L, 32L, 33L, 34L)),
      (900L, Seq(90L, 91L))) // far id → different bucket
      .toDF("id", "ids")
    val out = Packing.packTokenStream(docs, "id", "ids",
        blockSize = 4L, bucketWidth = 16L)
      .orderBy("block_id").collect()
    val stream = out.flatMap(_.getAs[scala.collection.Seq[Long]]("ids"))
    // expected: docs in id order, each followed by EOS
    val expect = Seq(10L, 11L, 12L, -1L, 20L, -1L,
      30L, 31L, 32L, 33L, 34L, -1L, 90L, 91L, -1L)
    assert(stream.toSeq == expect)
    // all blocks full except the last; block ids contiguous from 0
    assert(out.map(_.getAs[Long]("block_id")).toSeq == (0L until 4L))
    assert(out.dropRight(1).forall(_.getAs[Long]("n_ids") == 4L))
    assert(out.last.getAs[Long]("n_ids") == 3L)
    // block 1 = positions 4-7: doc2 (20, eos) + doc3's first two ids
    assert(out(1).getAs[Long]("n_docs") == 2L)
    // doc 3 spans blocks 1-2 (counted in both)
    assert(out(2).getAs[Long]("n_docs") == 1L)
  }

  test("streaming upsert sink merges batches by key (latest wins)") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val target = SparkTestSession.tempDir("graft_up").toString + "/t"
    val ckpt = SparkTestSession.tempDir("graft_upc").toString
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "a"), (2L, "b"))
    val q1 = graft.streaming.StreamingEtl.upsertSink(
      input.toDF().toDF("k", "v"), Seq("k"), target, ckpt)
    q1.awaitTermination()
    input.addData((2L, "B2"), (3L, "c")) // update key 2, insert key 3
    val q2 = graft.streaming.StreamingEtl.upsertSink(
      input.toDF().toDF("k", "v"), Seq("k"), target, ckpt)
    q2.awaitTermination()
    val out = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
  }

  test("tokenBudgetSample: exact budget cut, two-level ≡ single cumsum") {
    import graft.operators.Packing
    val r = new scala.util.Random(7)
    val docs = (1L to 400L).map(i => (i, 1L + r.nextInt(50).toLong))
      .toDF("doc_id", "n_tokens")
    val budget = 3000L
    val got = Packing.tokenBudgetSample(docs.repartition(9), "doc_id",
      "n_tokens", budget).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("cum_tokens"), x.getAs[Boolean]("keep")))).toMap
    // reference: one sequential cumsum in (md5-48bit, id) order
    def h(id: Long) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(6).map(b => f"${b & 0xff}%02x").mkString, 16)
    var cum = 0L
    val exp = (1L to 400L).map(i => (i, h(i)))
      .sortBy { case (id, hh) => (hh, id) }
      .map { case (id, _) =>
        val t = docs.filter(col("doc_id") === id)
          .head.getAs[Long]("n_tokens")
        cum += t; id -> ((cum, cum <= budget))
      }.toMap
    assert(got == exp)
    // the kept set's total is within one doc of the budget (maximal cut)
    val keptCum = got.values.filter(_._2).map(_._1)
    assert(keptCum.max <= budget)
    val firstDropped = got.values.filter(!_._2).map(_._1).min
    assert(firstDropped > budget)
  }

}
