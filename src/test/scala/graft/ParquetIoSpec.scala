package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ParquetIo

/** Absence vs failure must not be conflated (ADVICE r1): a missing
  * target means "first write"; a broken read of an EXISTING target must
  * abort the upsert instead of silently re-initializing the table.
  */
class ParquetIoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() = SparkTestSession.tempDir("graft_pio").toString

  test("readIfExists: absent path is None, existing path reads") {
    val dir = tmp()
    assert(ParquetIo.readIfExists(spark, s"$dir/t").isEmpty)
    Seq(1, 2, 3).toDF("x").write.parquet(s"$dir/t")
    assert(ParquetIo.readIfExists(spark, s"$dir/t").get.count() == 3)
  }

  test("readIfExists: corrupt EXISTING target throws, never None") {
    val dir = tmp()
    Files.createDirectories(java.nio.file.Path.of(s"$dir/t"))
    Files.writeString(java.nio.file.Path.of(s"$dir/t/part-0.parquet"),
      "this is not parquet")
    intercept[Exception] {
      ParquetIo.readIfExists(spark, s"$dir/t").get.collect()
    }
  }

  test("replace swaps content and cleans up tmp/bak") {
    val dir = tmp(); val target = s"$dir/t"
    ParquetIo.replace(Seq(1, 2).toDF("x"), target)
    assert(spark.read.parquet(target).count() == 2)
    ParquetIo.replace(Seq(3, 4, 5).toDF("x"), target)
    assert(spark.read.parquet(target).as[Int].collect().sorted.toSeq == Seq(3, 4, 5))
    val fs = new Path(target).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(target + "__tmp")))
    assert(!fs.exists(new Path(target + "__bak")))
  }

  test("crash between renames self-heals from the __bak copy") {
    val dir = tmp(); val target = s"$dir/t"
    ParquetIo.replace(Seq(7, 8).toDF("x"), target)
    val fs = new Path(target).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // simulate a swap that died after renaming the live table away
    fs.rename(new Path(target), new Path(target + "__bak"))
    val restored = ParquetIo.readIfExists(spark, target)
    assert(restored.get.as[Int].collect().sorted.toSeq == Seq(7, 8))
    assert(fs.exists(new Path(target))) // restored in place
  }
}
