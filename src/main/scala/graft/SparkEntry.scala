package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{Behavioral, Domain, Entry, Extensions, Probes, Q, Relational, Relational2, Relational3, Relational4, Relational5, Relational6, Relational7, Sketches, Transpile, Web}

/** Driver contract (SURVEY.md §7).
  *
  * The registry is one [[graft.queries.Entry]] per implemented operator
  * from SURVEY.md §2: a DataFrame builder over the driver's parquet tables
  * plus, for each SQL-expressible query, its DuckDB twin. Column names and
  * row order are made to match exactly (every query has a total ORDER BY
  * and aliases shared with its oracle). `queries` and `oracleSql` are the
  * two views the driver and the benchmark read.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.joinStar(spark, "/root/testdata/sf0.001")

  /** Every record by name; a name two modules both list fails here. */
  private val entries: Map[String, Entry] = Entry.registry(
    Relational.entries ++ Relational2.entries ++ Relational3.entries ++
      Relational4.entries ++ Relational5.entries ++ Relational6.entries ++
      Relational7.entries ++ Domain.entries ++ Extensions.entries ++
      Behavioral.entries ++ Sketches.entries ++ Web.entries ++
      Transpile.entries ++ Probes.entries)

  /** Name → builder, one per record. */
  val queries: Map[String, Q] = entries.map { case (n, e) => n -> e.build }

  /** Name → DuckDB twin, for the records that have one. */
  lazy val oracleSql: Map[String, String] =
    entries.flatMap { case (n, e) => e.oracle.map(n -> _) }
}
