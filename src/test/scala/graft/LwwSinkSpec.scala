package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
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

  test("a null version ranks lowest: a null-ts row loses to a non-null " +
    "one, whatever its tie-break") {
    val path = Files.createTempDirectory("lww_null").resolve("t").toString
    LwwSink.merge(spark, Seq((1L, "dated", Option(1L), 0L))
      .toDF("id", "v", "ts", "pos"), path, "id", "ts", "pos", None)
    val b2 = Seq((1L, "undated", Option.empty[Long], 9L),
      (2L, "only", Option.empty[Long], 0L)).toDF("id", "v", "ts", "pos")
    LwwSink.merge(spark, b2, path, "id", "ts", "pos", None)
    val got = spark.read.parquet(path).orderBy("id")
      .select("id", "v", "ts").as[(Long, String, Option[Long])].collect().toSeq
    assert(got == Seq((1L, "dated", Some(1L)), (2L, "only", None)))
  }

  test("an unpartitioned merge that dies between its swap renames " +
    "loses nothing: the next merge sees the prior state plus its batch") {
    val path = CrashingFs.path(spark,
      Files.createTempDirectory("lww_crash").resolve("t"))
    def merge(rows: (Long, String, Long)*): Unit =
      LwwSink.merge(spark, rows.toDF("id", "v", "ts"), path, "id", "ts",
        "id", None)
    merge((1L, "a", 1L), (2L, "b", 1L))
    val crash = intercept[java.io.IOException] {
      CrashingFs.crashingOnce(merge((3L, "c", 1L)))
    }
    assert(crash.getMessage.contains("injected crash"))
    merge((4L, "d", 1L))
    assert(state(path) == Seq((1L, "a", 1L), (2L, "b", 1L), (4L, "d", 1L)))
  }

  test("a partitioned merge that dies between its partition renames " +
    "loses nothing: the next merge sees the prior state plus its batch") {
    val path = CrashingFs.path(spark,
      Files.createTempDirectory("lww_pcrash").resolve("t"))
    def merge(rows: (Long, String, Long, String)*): Unit =
      LwwSink.merge(spark, rows.toDF("id", "v", "ts", "part"), path, "id",
        "ts", "id", Some("part"))
    merge((1L, "a", 1L, "pA"), (2L, "b", 1L, "pB"))
    val crash = intercept[Exception] {
      CrashingFs.crashingOnce(merge((2L, "b2", 2L, "pB"), (3L, "c", 1L, "pB")))
    }
    assert(Iterator.iterate[Throwable](crash)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected crash")), crash)
    merge((4L, "d", 1L, "pB"))
    assert(state(path) == Seq((1L, "a", 1L), (2L, "b", 1L), (4L, "d", 1L)))
  }

  test("string partition values keep their type: \"007\" stays one " +
    "partition and each key keeps one row") {
    val path = Files.createTempDirectory("lww_strpart").resolve("t").toString
    def batch(rows: (Long, String, Long, String)*) =
      rows.toDF("id", "v", "ts", "part")
    val b1 = batch((1L, "a", 1L, "007"), (2L, "b", 1L, "010"))
    LwwSink.merge(spark, b1, path, "id", "ts", "id", Some("part"))
    LwwSink.merge(spark, batch((1L, "a2", 2L, "007")), path, "id", "ts", "id",
      Some("part"))
    val got = spark.read.schema(b1.schema).parquet(path).orderBy("id")
      .as[(Long, String, Long, String)].collect().toSeq
    assert(got == Seq((1L, "a2", 2L, "007"), (2L, "b", 1L, "010")))
  }

  test("a null partition value merges like any other") {
    val path = Files.createTempDirectory("lww_nullpart").resolve("t").toString
    def merge(rows: (Long, String, Long, Option[String])*): Unit =
      LwwSink.merge(spark, rows.toDF("id", "v", "ts", "part"), path, "id",
        "ts", "id", Some("part"))
    merge((1L, "a", 1L, None), (2L, "b", 1L, Some("pB")))
    merge((1L, "a2", 2L, None), (3L, "c", 1L, None))
    assert(state(path) == Seq((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 1L)))
  }

  test("a batch whose columns differ from the state's throws and " +
    "leaves the state as it was") {
    val path = Files.createTempDirectory("lww_cols").resolve("t").toString
    LwwSink.merge(spark, Seq((1L, "a", 1L, "pA")).toDF("id", "v", "ts", "part"),
      path, "id", "ts", "id", Some("part"))
    val extra = Seq((2L, "b", 1L, "pA", "x")).toDF("id", "v", "ts", "part", "note")
    intercept[Exception] {
      LwwSink.merge(spark, extra, path, "id", "ts", "id", Some("part"))
    }
    val missing = Seq((2L, 1L, "pA")).toDF("id", "ts", "part")
    intercept[Exception] {
      LwwSink.merge(spark, missing, path, "id", "ts", "id", Some("part"))
    }
    assert(state(path) == Seq((1L, "a", 1L)))
    val flat = Files.createTempDirectory("lww_cols_flat").resolve("t").toString
    LwwSink.merge(spark, Seq((1L, "a", 1L)).toDF("id", "v", "ts"), flat,
      "id", "ts", "id", None)
    intercept[Exception] {
      LwwSink.merge(spark, Seq((2L, "b", 1L, "x")).toDF("id", "v", "ts", "note"),
        flat, "id", "ts", "id", None)
    }
    intercept[Exception] {
      LwwSink.merge(spark, Seq((2L, 1L)).toDF("id", "ts"), flat, "id", "ts",
        "id", None)
    }
    assert(state(flat) == Seq((1L, "a", 1L)))
  }

  test("reduce keeps the newest row per two-column key") {
    val df = Seq((1L, "a", 1L, "old"), (1L, "a", 2L, "new"), (1L, "b", 1L, "other"),
      (2L, "a", 3L, "two")).toDF("user", "session", "rev", "v")
    val got = LwwSink.reduce(df, Seq("user", "session"), col("rev"))
    assert(got.columns.toSeq == df.columns.toSeq)
    assert(got.orderBy("user", "session").as[(Long, String, Long, String)].collect().toSeq ==
      Seq((1L, "a", 2L, "new"), (1L, "b", 1L, "other"), (2L, "a", 3L, "two")))
  }
}
