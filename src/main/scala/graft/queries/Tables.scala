package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md / FIXTURES.md §B).
  *
  * All loads are plain parquet scans so Catalyst pushes filters and prunes
  * columns down to the file reader (verify with `.explain`: `PushedFilters`,
  * `ReadSchema`).
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Round-robin spread of a (projected-narrow) frame across the session's
    * cores when the scan has fewer partitions — the driver fixtures are
    * single-row-group parquet files, so a scan is ONE input split and any
    * CPU-dense stage pipelined onto it runs on one core. Project to the
    * needed columns BEFORE spreading so the exchange carries only them
    * (guide §2.3). At real scale inputs have >= cores splits and this is a
    * no-op — nothing is shuffled there. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // toRdd, not .rdd: partition count needs only the physical plan
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(path(dir, name))

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `events.ts` has shipped in two physical types across driver fixture
    * generations: parquet TIMESTAMP(NANOS) (early rounds), which Spark
    * rejects (PARQUET_TYPE_ILLEGAL) unless read as nanosecond longs via the
    * legacy conf, and plain TIMESTAMP(MICROS) (current rounds), which Spark
    * reads natively as TIMESTAMP_NTZ. Normalize both to the same
    * microsecond-precision session-local TimestampType column so every
    * downstream query and oracle sees one dtype regardless of fixture
    * vintage. DuckDB keeps nanoseconds on the NANOS files, so oracle SQL
    * that *outputs* raw `ts` must truncate with
    * `date_trunc('microseconds', ts)` for hash parity (a no-op on MICROS
    * files).
    *
    * NOTE the conf set here is session-wide and stays set: any later parquet
    * read of a TIMESTAMP(NANOS) column in the same session will also see
    * longs instead of failing loudly. Acceptable for this engine's sessions
    * (events is the only nanos table); a multi-tenant session would scope it.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) as longs
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.TimestampType =>
        // TIMESTAMP(MICROS): read as NTZ; align to TimestampType
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case other =>
        // a third fixture vintage must fail loudly, not silently cast to
        // nulls (an open-ended `case _` would) — new physical types need a
        // deliberate normalization branch here
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other; " +
            "add an explicit normalization branch in Tables.events")
    }
  }
}
