package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.RunLog

/** RunLog (the reference logger.py analog): structured records,
  * size rotation, error capture, log-derived summary.
  */
class RunLogSpec extends AnyFunSuite {

  private def tmpDir(): String =
    SparkTestSession.tempDir("runlog").toString

  private val fixedClock: () => java.time.Instant =
    () => java.time.Instant.parse("2024-06-01T12:00:00Z")

  test("records are one JSON object per line with standard keys first") {
    val dir = tmpDir()
    val rl = new RunLog(dir, "r1", echo = false, clock = fixedClock)
    rl.log("extract", "customers", "ok", "rows_out" -> 42L,
      "note" -> "a\"b\nc")
    val lines = Files.readAllLines(rl.currentFile)
    assert(lines.size() == 1)
    val l = lines.get(0)
    assert(l.startsWith(
      """{"ts":"2024-06-01T12:00:00Z","run_id":"r1","phase":"extract","entity":"customers","status":"ok""""))
    assert(l.contains(""""rows_out":42"""))
    // escaping: embedded quote and newline survive as JSON escapes
    assert(l.contains("""a\"b\nc"""))
    assert(!l.contains("\n") || l.indexOf('\n') == l.length - 1)
  }

  test("rotation shifts newest-first and caps file count") {
    val dir = tmpDir()
    val rl = new RunLog(dir, "r2", maxBytes = 200, maxFiles = 2,
      echo = false, clock = fixedClock)
    (1 to 20).foreach(i => rl.log("p", "e", "ok", "i" -> i))
    val base = rl.currentFile.getFileName.toString
    val files = Files.list(Paths.get(dir)).toArray.map(_.toString).sorted
    // current + .1 + .2, never .3
    assert(files.exists(_.endsWith(base)))
    assert(files.exists(_.endsWith(s"$base.1")))
    assert(!files.exists(_.endsWith(s"$base.3")))
    // every surviving file stays under the cap (+1 line of slack)
    files.foreach { f =>
      assert(Files.size(Paths.get(f)) <= 240, s"$f over cap")
    }
    // the newest record is in the CURRENT file, not a rotated one
    val cur = Files.readAllLines(rl.currentFile)
    assert(cur.get(cur.size() - 1).contains(""""i":20"""))
  }

  test("timed records duration + computed fields; errors logged and rethrown") {
    val dir = tmpDir()
    val rl = new RunLog(dir, "r3", echo = false, clock = fixedClock)
    val out = rl.timed[Long]("load", "loans", n => Seq("rows_out" -> n)) {
      7L
    }
    assert(out == 7L)
    val ex = intercept[RuntimeException] {
      rl.timed[Long]("load", "txn")(throw new RuntimeException("boom"))
    }
    assert(ex.getMessage == "boom")
    val lines = Files.readAllLines(rl.currentFile)
    assert(lines.get(0).contains(""""rows_out":7"""))
    assert(lines.get(0).contains(""""duration_ms":"""))
    assert(lines.get(1).contains(""""status":"error""""))
    assert(lines.get(1).contains(""""error":"boom""""))
  }

  test("summarize aggregates per phase from the log itself") {
    val dir = tmpDir()
    val rl = new RunLog(dir, "r4", echo = false, clock = fixedClock)
    rl.log("extract", "a", "ok", "rows_out" -> 10L)
    rl.log("extract", "b", "ok", "rows_out" -> 5L)
    rl.log("extract", "c", "error", "error" -> "x")
    rl.log("load", "a", "ok", "rows_out" -> 3L)
    rl.log("load", "b", "skip", "reason" -> "none")
    val s = RunLog.summarize(rl.currentFile)
      .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    assert(s("extract") == ((2L, 1L, 15L)))
    assert(s("load") == ((1L, 0L, 3L)))
  }
}
