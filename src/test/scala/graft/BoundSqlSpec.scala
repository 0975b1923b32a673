package graft

import graft.queries.Tables
import graft.sql.BoundSql
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** SQL text finds its input frames through [[BoundSql]], bound inside the
  * query's plan: builders sharing one session never cross inputs, and no
  * builder leaves a view in the session catalog. */
class BoundSqlSpec extends SparkSpec {
  private val small = "/root/testdata/sf0.001"
  private val large = "/root/testdata/sf0.01"

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("two scale factors building one SQL entry at once each get their own answer") {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val wrong = try Seq("q_runtime_filter", "q_exists_inequality", "q_sql_correlated").map { name =>
      val build = SparkEntry.queries(name)
      val serial = Seq(small, large).map(d => d -> rows(build(spark, d))).toMap
      // both threads start each build together, so the two builds' binding
      // and analysis overlap as often as they can
      val barrier = new CyclicBarrier(2)
      val runs = Seq(small, large).map(d => Future((1 to 12).count { _ =>
        barrier.await(2, TimeUnit.MINUTES)
        rows(build(spark, d)) != serial(d)
      }))
      name -> Await.result(Future.sequence(runs), 10.minutes)
    } finally pool.shutdown()
    assert(wrong.forall(_._2 == Seq(0, 0)),
      s"wrong answers of 12 builds at (sf0.001, sf0.01): $wrong")
  }

  /** The seven text shapes the helper must bind exactly as session views
    * do: name, text, `:name` args and inputs built in a given session. */
  private val shapes: Seq[(String, String, Map[String, Any],
      SparkSession => Seq[(String, DataFrame)])] = Seq(
    ("correlated scalar subquery over a self-referenced input",
      """SELECT c_custkey, c_acctbal FROM cust c
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM cust c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin, Map.empty,
      s => Seq("cust" -> Tables.customer(s, small))),
    ("correlated EXISTS",
      """SELECT o_orderkey, o_orderdate FROM ord o
        |WHERE EXISTS (SELECT 1 FROM li l WHERE l.l_orderkey = o.o_orderkey
        |  AND l.l_shipdate > o.o_orderdate + INTERVAL '90' DAY)
        |ORDER BY o_orderkey""".stripMargin, Map.empty,
      s => Seq("ord" -> Tables.orders(s, small), "li" -> Tables.lineitem(s, small))),
    ("the text's own WITH bodies and an IN subquery",
      """WITH big AS (SELECT o_orderkey, o_custkey FROM ord WHERE o_totalprice > 100000),
        |     near AS (SELECT c_custkey FROM cust WHERE c_nationkey < 10)
        |SELECT o_orderkey FROM big
        |WHERE o_custkey IN (SELECT c_custkey FROM near)
        |  AND o_orderkey IN (SELECT l_orderkey FROM li WHERE l_quantity > 40)
        |ORDER BY o_orderkey""".stripMargin, Map.empty,
      s => Seq("ord" -> Tables.orders(s, small), "cust" -> Tables.customer(s, small),
        "li" -> Tables.lineitem(s, small))),
    ("a MERGE hint and a scalar subquery over an input read twice",
      """SELECT /*+ MERGE(o) */ l_returnflag, COUNT(*) AS n
        |FROM (SELECT * FROM li
        |      WHERE graft_might_contain(
        |        (SELECT graft_bloom_agg(xxhash64(o_orderkey)) FROM urgent),
        |        xxhash64(l_orderkey))) l
        |JOIN urgent o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin, Map.empty,
      s => Seq("urgent" -> Tables.orders(s, small)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey"),
        "li" -> Tables.lineitem(s, small))),
    ("GROUPING SETS",
      """SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n FROM ev
        |GROUP BY GROUPING SETS ((CAST(ts AS DATE)), (event_type), ())
        |ORDER BY d ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin,
      Map.empty, s => Seq("ev" -> Tables.events(s, small))),
    ("a Date parameter",
      """SELECT o_orderpriority, COUNT(*) AS n FROM ord
        |WHERE o_orderdate >= :now - INTERVAL '365' DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      Map("now" -> java.sql.Date.valueOf("1996-01-01")),
      s => Seq("ord" -> Tables.orders(s, small))),
    ("a Timestamp parameter over a checkpointed input",
      """SELECT event_type, COUNT(*) AS n FROM ev
        |WHERE ts >= :now - INTERVAL '72' HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      Map("now" -> java.sql.Timestamp.valueOf("2024-01-15 12:00:00")),
      s => Seq("ev" -> Tables.events(s, small).localCheckpoint())),
  )

  /** The executed plan with expression, plan and RDD ids blanked. */
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replaceAll("(#|plan_id=)\\d+L?", "$1").replaceAll("\\[\\d+\\]", "[]")

  for ((shape, text, args, inputs) <- shapes)
    test(s"bound SQL matches session views: $shape") {
      val bound = BoundSql.run(spark, text, args)(inputs(spark): _*)
      val ref = spark.newSession() // its views never reach the shared catalog
      inputs(ref).foreach { case (name, df) => df.createOrReplaceTempView(name) }
      val viewed = ref.sql(text, args)
      assert(rows(bound) == rows(viewed))
      assert(plan(bound) == plan(viewed))
    }

  test("building every SQL-binding entry leaves no view in the catalog") {
    val s = spark.newSession()
    val names = SparkEntry.queries.keys.filter(_.startsWith("q_transpile_")).toSeq ++
      Seq("etl_transfer_volume", "etl_swap_price_impact", "q_sql_correlated",
        "q_exists_inequality", "q_grouping_sets", "q_runtime_filter")
    assert(names.size == 16)
    names.foreach(n => SparkEntry.queries(n)(s, small).collect())
    assert(s.catalog.listTables().collect().filter(_.isTemporary).isEmpty)
  }

  test("no code under src/main binds a frame into the session catalog") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val call = "create(OrReplace)?(Global)?TempView".r
    // blocks are materialized only through graft.Materialize, which owns
    // their lifetime
    val materialize = """\.localCheckpoint\(|\.persist\(|\.cache\(\)""".r
    val hits = Files.walk(main).iterator().asScala.filter(Files.isRegularFile(_))
      .flatMap((p: Path) => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined ||
            (materialize.findFirstIn(line).isDefined &&
              p.getFileName.toString != "Materialize.scala") =>
          s"$p:${i + 1}: ${line.trim}"
      }).toList
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
