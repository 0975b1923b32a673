package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Exact global ROWS-frame rolling windows without a single-partition
  * exchange.
  *
  * `Window.orderBy(...).rowsBetween(-(w-1), 0)` with no partition clause
  * funnels the whole table through ONE task, and Spark re-accumulates the
  * frame's aggregate per row for non-invertible functions like exact
  * `percentile` — O(n·w) on a single core (measured ~7 ms/row: 267 s for
  * the sf0.1 tx-features frame, ~7 h at sf10 — the reference semantics are
  * a global `rolling(100).quantile(0.9)`, /root/reference/src/transform/
  * etl_pipeline.py:227-232, so the frame itself can't be re-partitioned
  * away). The classic distributed form is a halo (ghost-cell) exchange:
  *
  *   1. gapless global rank via [[DistributedRank.withRank]] (two parallel
  *      passes; the driver holds only an O(#buckets) offset table);
  *   2. group rows into consecutive rank blocks of `B ≥ w` rows — each
  *      block is one window task, #blocks ≈ 2× parallelism;
  *   3. fan each block's last `w−1` rows into the NEXT block as halo rows
  *      (`B ≥ w` guarantees one block of lookback suffices) — one generate
  *      over the ranked frame, so the rank pass is planned/executed once;
  *   4. run the rolling aggregate inside a block-PARTITIONED window — every
  *      row's frame rows are physically present in its block, so the value
  *      is bit-identical to the global window (halo rows, whose own frames
  *      are truncated, are dropped before returning).
  *
  * Block 0 has no halo by construction, so leading-edge short frames (the
  * pandas `min_periods` zone) behave exactly like the global window.
  *
  * Scale: both passes are hash exchanges; the halo duplicates
  * `(w−1)·#blocks` rows (≪ n for any realistic w). The input lineage is
  * checkpointed first ([[graft.Materialize.checkpoint]]) so the rank pass,
  * the stats pass, and the window pass price the upstream pipeline ONCE —
  * this makes the builder EAGER (it runs jobs at construction), which is
  * the deliberate trade for the driver-registered rolling queries; callers
  * that need a lazy frame use an explicit partition column instead (the
  * `partitionCols` paths in
  * [[graft.etl.TransactionFeatureEngineer.engineer]] /
  * [[graft.model.HistoricalVaR.rollingVar]]). Checkpoint blocks die with
  * their executor, whatever the input was read from: an executor loss
  * fails the job, and the fallback is a rerun (DEPLOY.md).
  *
  * Preconditions: `orderCols` is a total order (include a unique
  * tiebreaker); its leading column is numeric and non-null (the rank
  * bucketing is equal-width on it — heavy skew onto a single value
  * degrades the rank pass, not correctness).
  */
object DistributedRolling {

  private val HelperCols = Seq("__bucket", "rank", "__rrank", "__grp", "__halo", "__d")

  /** Appends `features(w)` columns computed over the exact global rolling
    * window `orderBy(orderCols).rowsBetween(-(window-1), currentRow)`,
    * evaluated distributed. Features are appended in order, so a later
    * feature may reference an earlier one by name. */
  def withRolling(df: DataFrame, orderCols: Seq[String], window: Int)
                 (features: WindowSpec => Seq[(String, Column)]): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    require(HelperCols.forall(c => !df.columns.contains(c)),
      s"input must not contain helper columns ${HelperCols.mkString(", ")}")

    val spark = df.sparkSession
    val snap = df.transform(Materialize.checkpoint)

    val lead = col(orderCols.head).cast("double")
    val stats = snap.agg(min(lead).as("mn"), max(lead).as("mx"),
      count(lit(1)).as("n")).collect()(0)
    val n = stats.getLong(2)
    if (n == 0L) {
      // zero rows: the global window is free and keeps the exact schema
      val w = Window.orderBy(orderCols.map(col): _*)
        .rowsBetween(-(window - 1), Window.currentRow)
      return features(w).foldLeft(snap) { case (d, (name, c)) => d.withColumn(name, c) }
    }
    val mn = stats.getDouble(0)
    val mx = stats.getDouble(1)

    // equal-width rank buckets on the leading order column: monotone by
    // construction (ties share a bucket), driver offset table ≤ nBuckets
    val nBuckets = math.max(1, spark.sparkContext.defaultParallelism * 4)
    val width = math.max((mx - mn) / nBuckets, java.lang.Double.MIN_NORMAL)
    val bucket = least(floor((lead - lit(mn)) / lit(width)), lit((nBuckets - 1).toLong))

    val (ranked0, total) = DistributedRank.withRank(snap, bucket, orderCols.map(col))
    val ranked = ranked0.withColumnRenamed("rank", "__rrank")

    // one window task per block; B ≥ window so halo lookback is one block
    val targetBlocks = math.max(1, spark.sparkContext.defaultParallelism * 2)
    val block = math.max(window.toLong, (total + targetBlocks - 1) / targetBlocks)
    val maxGrp = (total - 1) / block
    def grp(shift: Long) =
      floor((col("__rrank") - 1L) / lit(block.toDouble)).cast("long") + lit(shift)

    // Fan each row to its destination block(s) with ONE generate instead of
    // a two-branch union: the union's halo branch re-planned the whole
    // rank pass (Exchange + Sort + Window) a second time — Spark does not
    // reuse the exchange across the branches — so every input row paid the
    // bucket shuffle and rank window twice (r13 profile: 2 × 1.8 s of the
    // 4.7 s q_rolling_corr wall at sf0.1; at scale, one full extra shuffle
    // +sort of the table). A row in the last `window−1` positions of its
    // block is emitted twice (own block + next block as halo); everything
    // else once. Same row multiset as the old union, one exchange fewer.
    val mainDest = struct(grp(0L).as("g"), lit(false).as("h"))
    val haloDest = struct(grp(1L).as("g"), lit(true).as("h"))
    val dests = when(
      pmod(col("__rrank") - 1L, lit(block)) >= lit(block - (window - 1L)) &&
        grp(1L) <= lit(maxGrp),
      array(mainDest, haloDest)).otherwise(array(mainDest))
    val fanned = ranked
      .select(col("*"), explode(dests).as("__d"))
      .withColumn("__grp", col("__d").getField("g"))
      .withColumn("__halo", col("__d").getField("h"))
      .drop("__d")

    val w = Window.partitionBy("__grp").orderBy(col("__rrank"))
      .rowsBetween(-(window - 1), Window.currentRow)
    // Batch features into as few projections as possible: a per-feature
    // withColumn fold leaves one Window node per feature (CollapseWindow
    // can't see through the interleaved Projects), i.e. one extra pass
    // over every block per feature. Features that don't reference an
    // earlier feature's NAME share one select — a 7-feature rolling
    // correlation plans 3 window passes instead of 8. Dependency
    // detection is by unresolved attribute name, so "a later feature may
    // reference an earlier one" still holds (it just starts a new batch).
    val fs = features(w)
    // Dependency detection is textual (Spark 4's Column hides its
    // expression tree): a feature whose printed form mentions a name from
    // the batch under construction starts a new projection. A referenced
    // column always appears verbatim in Column.toString, so detection
    // never MISSES a dependency; a false positive merely costs one extra
    // (correct) projection. Names from earlier batches are materialized
    // columns by the time the next select runs.
    def mentions(c: Column, names: Set[String]): Boolean = {
      val text = c.toString
      names.exists { n =>
        ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(n) +
          "(?![A-Za-z0-9_])").r.findFirstIn(text).isDefined
      }
    }
    val batches = fs.foldLeft(Vector.empty[Vector[(String, Column)]]) {
      case (acc, (name, c)) =>
        if (acc.isEmpty || mentions(c, acc.last.map(_._1).toSet))
          acc :+ Vector(name -> c)
        else acc.init :+ (acc.last :+ (name -> c))
    }
    val out = batches.foldLeft(fanned) { (d, batch) =>
      d.select(col("*") +: batch.map { case (n, c) => c.as(n) }: _*)
    }
    out.filter(!col("__halo")).drop("__rrank", "__grp", "__halo")
  }
}
