package graft
import java.nio.file.{Files, Paths}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val logger = LogManager.getLogger(getClass.getName.stripSuffix("$"))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cores = GraftSession.mainCores
    val spark = GraftSession("graft-verify", cores)
    // the session sets the root level to WARN; the progress lines below are
    // INFO, and dev/tally.py reads their timings
    Configurator.setLevel(logger.getName, Level.INFO)
    logger.info(s"[verify] running local[$cores] on $sfDir")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated query filter (as in Bench) for targeted
    // re-verification of new queries at expensive scale factors
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Resumable scale sweeps: with SPARK_GRAFT_RESUME=1, skip any query
    // whose output already landed (Spark writes _SUCCESS last) — a
    // multi-hour sf10+ run that dies (round-11: the OOM killer took the
    // JVM mid-sweep when a co-tenant DuckDB compare ballooned) restarts
    // where it left off instead of from zero.
    val resume = sys.env.get("SPARK_GRAFT_RESUME").contains("1")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // written BEFORE the query loop: an overlapped oracle sweep
    // (dev/sweep_overlap.sh) needs the twin SQL as soon as the first
    // query output lands, and a sweep the OOM killer interrupts must
    // still leave the compare side runnable.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filter { case (name, _) =>
        val done = resume &&
          Files.exists(Paths.get(s"$outDir/$name/_SUCCESS"))
        if (done) logger.info(s"[verify] $name already done, skipped")
        !done
      }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try Materialize.scope {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        logger.info(
          f"[verify] $name done in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      catch { case e: Throwable =>
        logger.warn(s"[verify] $name failed: ${RunRecorder.describe(e)}")
      }
      Materialize.warnLeftovers(spark, logger, s"[verify] $name")
    }
    spark.stop()
  }
}
