package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Observation
import graft.SparkEntry

/** Golden outputs for the query workload. Each listed query runs once
  * on the benchmark's fixtures; its rows are written as parquet for
  * `tools/make_goldens.py`, which compares them with DuckDB's answer
  * to the query's oracle SQL, and its fingerprint (the one every timed
  * op computes) is written next to them.
  */
object Goldens {
  def make(a: Args): Unit = {
    val benchDir = Paths.get(a("bench-dir"))
    val out = Paths.get(a("out"))
    val data = benchDir.resolve("data").resolve("sf0.1").toString
    Files.createDirectories(out)
    val spark = Session.create(Paths.get(a("run-dir")), Main.cores)
    val qs = Lists.floor
    val fps = qs.map { q =>
      Cold.release(spark)
      val obs = Observation("fp")
      Fingerprint.observe(SparkEntry.queries(q)(spark, data), obs)
        .write.mode("overwrite").parquet(out.resolve(q).toString)
      System.err.println(s"[graftbench] golden $q ${Fingerprint.of(obs)}")
      q -> Json.str(Fingerprint.of(obs))
    }
    Files.write(out.resolve("fingerprints.json"), Json.obj(fps).getBytes("UTF-8"))
    val oracle = qs.flatMap(q => SparkEntry.oracleSql.get(q).map(s => q -> Json.str(s)))
    Files.write(out.resolve("oracle_sql.json"), Json.obj(oracle).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Checks of the benchmark's own generator and output checks: the same
  * seed gives identical inputs and expected state, and a wrong KV
  * state, a wrong parquet state or a wrong query fingerprint is
  * caught. Prints one line per check; fails the process on the first
  * check that does not hold.
  */
object SelfTest {
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case t: Throwable => t.printStackTrace(); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) sys.error(s"self-test failed: $name")
  }

  def run(a: Args): Unit = {
    val p = EtlParams()
    val m1 = new EtlModel(7, p)
    val m2 = new EtlModel(7, p)
    val m3 = new EtlModel(8, p)
    check("same seed gives identical loads") {
      (0 until 5).forall(l => m1.loadOf(l) == m2.loadOf(l))
    }
    check("same seed gives identical expected state") {
      m1.expectedState(6) == m2.expectedState(6)
    }
    check("another seed gives other inputs") { m1.loadOf(0) != m3.loadOf(0) }
    check("keys within a load are distinct") {
      (0 until 5).forall(l => m1.keysOf(l).distinct.size == p.perLoad)
    }
    check("later loads are mostly updates") {
      val seen = (0 until 8).flatMap(m1.keysOf).toSet
      m1.keysOf(8).count(seen) > p.perLoad / 2
    }
    val v = m1.loadOf(3).head
    val good = v.item + ("fields" -> Json.obj(v.fields.toSeq.map { case (k, x) => k -> Json.str(x) }))
    check("the expected KV item passes its own check") {
      EtlModel.diff(v, good, withId = true).isEmpty
    }
    check("a wrong KV attribute is caught") {
      EtlModel.diff(v, good + ("scrape_ts" -> "999"), withId = true).nonEmpty
    }
    check("a missing KV attribute is caught") {
      EtlModel.diff(v, good - "Region", withId = true).nonEmpty
    }
    check("a wrong parquet state row is caught") {
      EtlModel.diff(v, good - "ID", withId = false).isEmpty &&
        EtlModel.diff(v, good - "ID" + ("UnitPrice" -> "0.0"), withId = false).nonEmpty
    }
    check("a wrong document field is caught") {
      val f = v.fields + ("URL" -> "https://elsewhere")
      EtlModel.diff(v, good + ("fields" -> Json.obj(f.toSeq.map { case (k, x) => k -> Json.str(x) })),
        withId = true).nonEmpty
    }

    // engine-backed checks: a short ETL run, then corrupted state; a
    // query op against a tampered golden
    val runDir = Paths.get(a("run-dir"))
    val spark = Session.create(runDir, Main.cores)
    try {
      val etl = new EtlWorkload(new EtlModel(11, EtlParams(keySpace = 300, perLoad = 60, pageSize = 25)),
        runDir, Main.cores, warmLoads = 2)
      etl.setup(spark)
      check("an ETL load passes its checks") { etl.runOp(new Tracer(false)).ok }
      check("the final KV and parquet state pass") { etl.finalCheck().isEmpty }
      val id = BenchKv.store.keys().nextElement()
      val orig = BenchKv.store.get(id)
      BenchKv.store.put(id, orig + ("Quantity" -> "-1"))
      check("a corrupted KV state is caught") { etl.finalCheck().nonEmpty }
      BenchKv.store.put(id, orig)
      BenchKv.store.remove(id)
      check("a lost KV item is caught") { etl.finalCheck().nonEmpty }
      BenchKv.store.put(id, orig)
      check("the restored KV state passes") { etl.finalCheck().isEmpty }
      etl.teardown()

      val benchDir = Paths.get(a("bench-dir"))
      val data = benchDir.resolve("data").resolve("sf0.1").toString
      val gold = Main.goldens(benchDir)
      val q = "q_topk_desc"
      def op(g: Map[String, String]): OpResult = {
        val w = new QueryWorkload("self", Seq(q), Nil, data, g, 1)
        w.setup(spark)
        w.hasNext(0, 0, traced = true)
        w.runOp(new Tracer(false))
      }
      check(s"$q matches its golden") { op(gold).ok }
      val tampered = gold.updated(q, gold(q).split(':') match {
        case Array(n, hi, lo) => s"$n:$hi:${lo.toLong + 1}"
      })
      check(s"$q against a wrong golden fingerprint is caught") { !op(tampered).ok }
    } finally spark.stop()
  }
}
