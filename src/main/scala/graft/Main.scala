package graft

import org.apache.spark.sql.SparkSession
import graft.etl.{BlockchainEtlPipeline, Fixtures}
import graft.model.ImpermanentLossModel
import graft.sql.CanonicalQueries

/** User-facing pipeline entry point, the counterpart of the reference's
  * `scripts/run_pipeline.py:23-68`:
  *
  *   sbt "runMain graft.Main --dry-run"
  *   sbt "runMain graft.Main --network ethereum-mainnet --messages 500"
  *
  * `--dry-run` validates the canonical SQL through Catalyst's parser (the
  * reference validates via sqlglot transpilation, run_pipeline.py:50-54)
  * and sanity-checks the IL model (run_pipeline.py:56-58), touching every
  * component without reading data.
  *
  * Live mode runs the full decode→features→aggregate pipeline. The
  * reference's live mode starts an RPC→Kafka poll loop; this sandbox has
  * neither an RPC endpoint nor a broker, so ingress is the seeded synthetic
  * envelope feed ([[graft.etl.Fixtures]] — same generators the reference's
  * tests use); production wiring swaps in
  * [[graft.streaming.KafkaIO.reader]] without touching any transform.
  */
object Main {

  case class Config(
      network: String = "ethereum-mainnet",
      chainId: Int = 1,
      kafka: String = "localhost:9092",
      startBlock: Option[Long] = None,
      messages: Int = 200,
      dryRun: Boolean = false)

  /** Load a YAML config file with the reference's key layout
    * (`config/config.example.yaml`: `network.name`, `network.chain_id`,
    * `kafka.bootstrap_servers`; plus an optional `pipeline` section for the
    * CLI-only knobs). Parsed with the jackson-dataformat-yaml that ships in
    * the Spark distribution — JSON and plain `key: value` files parse too
    * (YAML superset). Keys absent from the file keep their defaults. */
  def loadConfigFile(path: String): Config = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    val root = mapper.readTree(new java.io.File(path))
    def at(p: String*): Option[com.fasterxml.jackson.databind.JsonNode] =
      Option(p.foldLeft(root)((n, k) => n.path(k)))
        .filter(n => !n.isMissingNode && !n.isNull)
    // Jackson's asInt/asBoolean silently coerce mistyped values
    // (chain_id: "abc" -> 0, dry_run: "yes" -> false); validate node types
    // so a bad config file fails as loudly as a bad CLI flag does.
    def typedInt(n: com.fasterxml.jackson.databind.JsonNode, key: String): Int =
      if (n.isIntegralNumber) n.asInt
      else throw new IllegalArgumentException(
        s"config key $key must be an integer, got: ${n.toString}")
    def typedLong(n: com.fasterxml.jackson.databind.JsonNode, key: String): Long =
      if (n.isIntegralNumber) n.asLong
      else throw new IllegalArgumentException(
        s"config key $key must be an integer, got: ${n.toString}")
    def typedText(n: com.fasterxml.jackson.databind.JsonNode, key: String): String =
      if (n.isTextual) n.asText
      else throw new IllegalArgumentException(
        s"config key $key must be a string, got: ${n.toString}")
    def typedBool(n: com.fasterxml.jackson.databind.JsonNode, key: String): Boolean =
      if (n.isBoolean) n.asBoolean
      else throw new IllegalArgumentException(
        s"config key $key must be a boolean, got: ${n.toString}")
    val base = Config()
    base.copy(
      network = at("network", "name").map(typedText(_, "network.name"))
        .getOrElse(base.network),
      chainId = at("network", "chain_id").map(typedInt(_, "network.chain_id"))
        .getOrElse(base.chainId),
      kafka = at("kafka", "bootstrap_servers")
        .map(typedText(_, "kafka.bootstrap_servers")).getOrElse(base.kafka),
      startBlock = at("pipeline", "start_block")
        .map(typedLong(_, "pipeline.start_block")).orElse(base.startBlock),
      messages = at("pipeline", "messages")
        .map(typedInt(_, "pipeline.messages")).getOrElse(base.messages),
      dryRun = at("pipeline", "dry_run")
        .map(typedBool(_, "pipeline.dry_run")).getOrElse(base.dryRun))
  }

  /** CLI grammar = the reference's run_pipeline.py flags plus `--config
    * <file>`. The file (wherever it appears in the arg list) provides the
    * base values; every explicit flag overrides it. */
  def parseArgs(args: Seq[String]): Config = {
    val (fromFile, rest) = args.indexOf("--config") match {
      case -1 => (Config(), args)
      case i if i + 1 < args.length =>
        (loadConfigFile(args(i + 1)), args.take(i) ++ args.drop(i + 2))
      case _ =>
        throw new IllegalArgumentException("--config requires a file path")
    }
    @annotation.tailrec
    def go(rest: List[String], cfg: Config): Config = rest match {
      case "--network" :: v :: t     => go(t, cfg.copy(network = v))
      case "--chain-id" :: v :: t    => go(t, cfg.copy(chainId = v.toInt))
      case "--kafka" :: v :: t       => go(t, cfg.copy(kafka = v))
      case "--start-block" :: v :: t => go(t, cfg.copy(startBlock = Some(v.toLong)))
      case "--messages" :: v :: t    => go(t, cfg.copy(messages = v.toInt))
      case "--dry-run" :: t          => go(t, cfg.copy(dryRun = true))
      case Nil                       => cfg
      case unknown :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $unknown")
    }
    go(rest.toList, fromFile)
  }

  /** Dry-run validation; returns human-readable findings, empty = pass. */
  def dryRunChecks(spark: SparkSession): List[String] = {
    val sqlErrs =
      (CanonicalQueries.validateSql(spark,
        CanonicalQueries.TransferVolumeSql.replace(":now", "TIMESTAMP '2024-01-01'")) ++
       CanonicalQueries.validateSql(spark,
        CanonicalQueries.SwapPriceImpactSql.replace(":now", "TIMESTAMP '2024-01-01'")))
        .map(e => s"canonical SQL invalid: $e")
    // IL sanity mirrors run_pipeline.py:56-58 (2000 -> 4000 entry/current)
    val il = ImpermanentLossModel.compute(2000.0, 4000.0, 100000.0)
    val ilErrs =
      if (il.ilPct < -100 || il.ilPct > 0) List(s"IL out of range: ${il.ilPct}")
      else Nil
    sqlErrs ++ ilErrs
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args.toIndexedSeq)
    val spark = GraftSession(s"graft-${cfg.network}")
    var exitCode = 0
    try {
      println(s"pipeline.init network=${cfg.network} chain_id=${cfg.chainId} " +
        s"dry_run=${cfg.dryRun}")
      if (cfg.dryRun) {
        val errs = dryRunChecks(spark)
        errs.foreach(e => println(s"dry_run.FAIL $e"))
        if (errs.nonEmpty) exitCode = 1
        else {
          val il = ImpermanentLossModel.compute(2000.0, 4000.0, 100000.0)
          println(f"dry_run.sql_ok queries=2")
          println(f"dry_run.il_model_ok il_pct=${il.ilPct}%.2f")
          println("Dry-run passed. All components validated.")
        }
      } else {
        val rng = new scala.util.Random(11)
        val swaps = (0 until cfg.messages / 4).map { i =>
          Fixtures.swapMessage(
            amount0In = BigInt(1 + rng.nextInt(1000)) * BigInt(10).pow(18),
            amount1Out = BigInt(1 + rng.nextInt(2000)) * BigInt(10).pow(18),
            blockNumber = 19000000L + i * 10L)
        }
        val messages = Fixtures.syntheticTransferMessages(cfg.messages) ++
          Fixtures.syntheticTxMessages(cfg.messages) ++ swaps
        import spark.implicits._
        val result = BlockchainEtlPipeline.runRaw(messages.toDS())
        val transfers = result.transfers
          .filter(cfg.startBlock.map(b =>
            org.apache.spark.sql.functions.col("block_number") >= b)
            .getOrElse(org.apache.spark.sql.functions.lit(true)))
        println(s"pipeline.transfers rows=${transfers.count()}")
        println(s"pipeline.swaps rows=${result.swaps.count()}")
        println(s"pipeline.block_agg rows=${result.blockAgg.count()}")
        val vol = CanonicalQueries.transferVolume(transfers)
        println(s"pipeline.transfer_volume rows=${vol.count()}")
      }
    } finally spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }
}
