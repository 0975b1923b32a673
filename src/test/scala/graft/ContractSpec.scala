package graft

import graft.functions.GraftFunctions
import graft.queries.{Entry, Q}

/** Driver-contract shape guards: the registry is one record per name, and
  * the contract invariants hold for every record. */
class ContractSpec extends SparkSpec {

  test("a name listed twice fails when the registry is built") {
    val q: Q = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException](
      Entry.registry(Seq(Entry("q_twice", q, "SELECT 1 AS id"), Entry("q_once", q),
        Entry("q_twice", q))))
    assert(e.getMessage.contains("q_twice") && !e.getMessage.contains("q_once"))
  }

  test("building the registry computes no oracle text") {
    // Transpile's twins are transpiler runs; the benchmark times the
    // registry's construction inside its set-up
    var computed = 0
    val q: Q = (s, _) => s.range(1).toDF()
    val e = Entry("q_lazy", q, { computed += 1; "SELECT 1 AS id" })
    Entry.registry(Seq(e))
    assert(computed == 0)
    assert(e.oracle.contains("SELECT 1 AS id") && e.oracle.contains("SELECT 1 AS id"))
    assert(computed == 1)
  }

  test("registry names are well-formed") {
    val qs = SparkEntry.queries.keySet
    assert(qs.forall(_.matches("[a-z0-9_]+")), qs.filterNot(_.matches("[a-z0-9_]+")))
  }

  test("flagship entry returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and returns rows at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (_, fn) =>
      fn(spark, dir).isEmpty
    }.map(_._1)
    assert(empty.isEmpty, s"empty results at sf0.001: $empty")
  }

  test("GraftSession: catalog functions resolve in SQL with no install; partitions, floor and zone set") {
    // the suites' session is built by GraftSession with TestSpark.Cores;
    // a new session gets the extension's functions, not any installs
    val s = spark.newSession()
    val unresolved = GraftFunctions.catalog.collect {
      case (id, info, _) if !s.sql(s"DESCRIBE FUNCTION ${id.funcName}").collect()
          .exists(_.getString(0).contains(info.getClassName)) => id.funcName
    }
    assert(unresolved.isEmpty, s"not resolved in SQL: $unresolved")
    assert(s.conf.get("spark.sql.shuffle.partitions") == TestSpark.Cores.toString)
    assert(s.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") ==
      GraftSession.MinCoalesce)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      GraftSession.CheckpointFileManager)
  }
}
