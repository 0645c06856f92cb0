package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.LwwSink

class LwwSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def state(path: String) =
    spark.read.parquet(path).select("id", "v", "ts")
      .orderBy("id").as[(Long, String, Long)].collect().toSeq

  test("partitioned LWW merge: upsert, untouched partitions preserved, " +
    "idempotent re-run") {
    val path = Files.createTempDirectory("lww_part").resolve("t").toString
    val b1 = Seq((1L, "one", 1L, "pA"), (2L, "two", 1L, "pB"))
      .toDF("id", "v", "ts", "part")
    LwwSink.merge(spark, b1, path, "id", "ts", "id", Some("part"))
    // batch2 touches only pB: updates id=2, adds id=3
    val b2 = Seq((2L, "two2", 2L, "pB"), (3L, "three", 1L, "pB"))
      .toDF("id", "v", "ts", "part")
    LwwSink.merge(spark, b2, path, "id", "ts", "id", Some("part"))
    val got = state(path)
    assert(got == Seq((1L, "one", 1L), (2L, "two2", 2L), (3L, "three", 1L)))
    // stale duplicate of id=2 must lose; re-run idempotent
    LwwSink.merge(spark, b2, path, "id", "ts", "id", Some("part"))
    val b3 = Seq((2L, "stale", 1L, "pB")).toDF("id", "v", "ts", "part")
    LwwSink.merge(spark, b3, path, "id", "ts", "id", Some("part"))
    assert(state(path) == Seq((1L, "one", 1L), (2L, "two2", 2L), (3L, "three", 1L)))
  }

  test("unpartitioned LWW merge swaps full state atomically") {
    val path = Files.createTempDirectory("lww_flat").resolve("t").toString
    val b1 = Seq((1L, "a", 1L)).toDF("id", "v", "ts")
    LwwSink.merge(spark, b1, path, "id", "ts", "id", None)
    val b2 = Seq((1L, "b", 2L), (2L, "c", 1L)).toDF("id", "v", "ts")
    LwwSink.merge(spark, b2, path, "id", "ts", "id", None)
    assert(state(path) == Seq((1L, "b", 2L), (2L, "c", 1L)))
  }

  test("a file:// URI path keeps its state across merges, partitioned " +
    "and unpartitioned") {
    val dir = Files.createTempDirectory("lww_uri")
    val part = dir.resolve("p").toUri.toString
    val b1 = Seq((1L, "one", 1L, "pB"), (2L, "two", 1L, "pB"), (3L, "three", 1L, "pA"))
      .toDF("id", "v", "ts", "part")
    LwwSink.merge(spark, b1, part, "id", "ts", "id", Some("part"))
    // touches pB again: ids 1 and 2 must survive next to id 4
    val b2 = Seq((4L, "four", 1L, "pB")).toDF("id", "v", "ts", "part")
    LwwSink.merge(spark, b2, part, "id", "ts", "id", Some("part"))
    assert(state(part) ==
      Seq((1L, "one", 1L), (2L, "two", 1L), (3L, "three", 1L), (4L, "four", 1L)))

    val flat = dir.resolve("f").toUri.toString
    LwwSink.merge(spark, Seq((1L, "a", 1L)).toDF("id", "v", "ts"), flat,
      "id", "ts", "id", None)
    LwwSink.merge(spark, Seq((2L, "c", 1L)).toDF("id", "v", "ts"), flat,
      "id", "ts", "id", None)
    assert(state(flat) == Seq((1L, "a", 1L), (2L, "c", 1L)))
  }
}
