package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over an embedding column — the corpus
  * clustering step of a training-data pipeline (topic balancing, mixture
  * analysis, per-cluster sampling) and the natural refinement of the IVF
  * coarse quantizer's seed codebook ([[VectorOps.ivfAssign]] uses the same
  * assignment machinery with unrefined seeds).
  *
  * Classic Lloyd structure, shaped for Spark:
  *  - ASSIGN is a shuffle-free codegen projection: per-cell distance scores
  *    are `|c|² − 2·x·c` in fixed-point longs (the row's |x|² is constant
  *    under the argmin and never computed), with the centroid embedded as a
  *    literal via the fused [[VectorOps.fixedDot]] — k small (O(10–1000)),
  *    so this is k fused dots per row, no crossJoin, no Exchange;
  *  - UPDATE is one `posexplode → groupBy(cell, dim)` partial+final
  *    aggregation — map-side combine reduces each partition to k·d rows,
  *    exactly MLlib's treeAggregate shape — and the k·d (≤ 64k values)
  *    result is a legitimate driver-side constant, the same boundary as
  *    the IVF codebook;
  *  - iteration count is FIXED (the caller picks it), so the whole run is
  *    `iters` deterministic Spark jobs with bounded, checkpoint-free plans.
  *
  * Determinism / oracle parity (the whole loop is DuckDB-reproducible,
  * which is how `sim_kmeans` verifies both the assign and the update step
  * cross-engine): seeds are the first k vec_ids; distance scores are exact
  * integers (no float ties — ties break to the lowest cell id); dimension
  * sums are fixed-point longs (order-independent); each new centroid
  * component is quantized to Float32, so the next round's literals are the
  * identical 32-bit values DuckDB gets from `CAST(… AS REAL)`.
  */
object KMeans {

  private val Scale = 1e12

  /** `|c|²·1e12` as a long, same op sequence as [[graft.functions.FixedDotOps.dot]]. */
  private def selfDot(c: Array[Float]): Long =
    graft.functions.FixedDotOps.dot(c, c)

  /** Nearest-centroid id per row (exact integer argmin, ties → lowest id). */
  def assign(emb: DataFrame, cents: Seq[(Long, Array[Float])]): DataFrame = {
    require(cents.nonEmpty, "kmeans assign needs at least one centroid")
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val scored = cents.map { case (id, c) =>
      struct(
        (lit(selfDot(c)) - lit(2L) * VectorOps.fixedDot(col("embedding"),
          typedlit(c))).as("s"),
        lit(id).as("cell"))
    }
    emb.withColumn("cell",
      array_min(array(scored: _*)).getField("cell"))
  }

  /** Per-cell fixed-point dimension means, quantized to Float32. */
  private def update(assigned: DataFrame, dim: Int): Seq[(Long, Array[Float])] =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg(sum(round(col("x") * lit(Scale)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cell"), col("i"),
        (col("s").cast("double") / lit(Scale) / col("n")).as("ci"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (cell, rows) =>
        val c = new Array[Float](dim)
        rows.foreach(r => c(r.getInt(1)) = r.getDouble(2).toFloat)
        (cell, c)
      }
      .toSeq.sortBy(_._1)

  /** `iters` full Lloyd rounds (assign+update), then a final assign.
    * Returns every input column plus `cell`. */
  def lloyd(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    require(seeds.nonEmpty, s"no seed vectors with vec_id < $k")
    val dim = seeds.head._2.length
    var cents = seeds
    for (_ <- 1 to iters)
      cents = update(assign(emb, cents), dim)
    assign(emb, cents)
  }
}
