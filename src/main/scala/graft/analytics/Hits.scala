package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Materialize

/** Fixed-iteration HITS (Kleinberg hubs-and-authorities) over a directed
  * edge list — the third iterative graph family member: PageRank ranks by
  * global endorsement mass, HITS separates "points at good things" (hub)
  * from "is pointed at by good hubs" (authority). On a link/citation/
  * address graph the two sides answer different curation questions: a
  * crawler seed list wants hubs, a canonical-document pick wants
  * authorities. Reference analog: the reference has no graph ops at all
  * (`/root/reference/src/transform/etl_pipeline.py` is row-wise); this is
  * part of the beyond-reference training-pipeline surface.
  *
  * Each iteration is two keyed join+aggregate passes (authority pull over
  * in-edges, hub pull over out-edges) and two 1-row L2-norm aggregates
  * broadcast back as scalars — everything shards on the node id; nothing
  * driver-bound. Contribution and norm sums cast each addend to
  * DECIMAL(38,12) before adding, so the scores are bit-identical across
  * engines and partitionings (the [[PageRank]] exactness pattern: decimal
  * addition is associative where double addition is not). Iterations are
  * statically unrolled by the caller-chosen count.
  */
object Hits {
  private val Dec = DecimalType(38, 12)

  /** Run `iters` HITS iterations over `edges` (`src`, `dst`). Returns
    * (id, hub, auth), L2-normalized each half-step in the classic
    * formulation: a ← Eᵀh / ‖Eᵀh‖₂ then h ← Ea / ‖Ea‖₂. Nodes are the
    * union of edge endpoints; sources never cited get authority 0 and
    * sinks citing nothing get hub 0 — both stay in the result. */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    // Each half-step reads its input twice (norm scalar + the divide) and
    // the node spine 2·iters times — without a lineage cut Catalyst
    // recomputes the whole upstream chain at every reference, doubling
    // work per unrolled step. Eager localCheckpoint per half-step keeps
    // each pull O(edges), the same cut LPA/connectedComponents make.
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct().transform(Materialize.checkpoint)

    // pull `score` along `from`→`to`, decimal-exact, 0 for nodes with no
    // incoming contribution; then divide by the L2 norm. The squared-sum
    // rides the half-step's checkpoint job as an observed metric (the
    // connectedComponents pattern) — as a separate 1-row aggregate +
    // broadcast it cost one extra job per half-step, 2·iters jobs per run.
    // sqrt on the driver is the same java.lang.Math.sqrt the SQL sqrt
    // applies, on the same Decimal(38,12)→double cast, so the normalized
    // scores are bit-identical to the broadcast form.
    var step = 0
    def pull(scores: DataFrame, from: String, to: String,
             out: String): DataFrame = {
      step += 1
      val pulled = nodes.join(
        edges.join(scores, edges(from) === scores("id"))
          .groupBy(edges(to).as("id"))
          .agg(sum(col("s").cast(Dec)).cast("double").as("raw")),
        Seq("id"), "left")
        .select(col("id"), coalesce(col("raw"), lit(0.0)).as("raw"))
      val (raw, row) = graft.Observed.checkpoint(pulled, s"hits_ss_$step",
        sum((col("raw") * col("raw")).cast(Dec)).as("ss"))
      // empty frame: SUM is null, and so is the norm
      val nrm = Option(row.getDecimal(0))
        .map(v => lit(math.sqrt(v.doubleValue)))
        .getOrElse(lit(null).cast("double"))
      raw.select(col("id"), (col("raw") / nrm).as(out))
    }

    var h = nodes.withColumn("s", lit(1.0))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      a = pull(h, "src", "dst", "auth")
      h = pull(a.withColumnRenamed("auth", "s"), "dst", "src", "hub")
        .withColumnRenamed("hub", "s")
    }
    h.withColumnRenamed("s", "hub").join(a, "id")
      .select(col("id"), col("hub"), col("auth"))
  }
}
