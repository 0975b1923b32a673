package graft

import scala.util.Using
import org.apache.logging.log4j.Logger
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.dedup.FrameStore

/** The one owner of materialized blocks. The block-lifetime contract of
  * every graft operator, stated once:
  *  - a frame is materialized only here: [[checkpoint]] (an eager
  *    `localCheckpoint`, for a cut lineage) or [[persist]]
  *    (`MEMORY_AND_DISK`, for a frame read by several consumers);
  *  - inside a [[scope]] each call records what it made, and the scope
  *    frees it when its body exits, normally or by an exception;
  *  - outside every scope nothing is recorded: a checkpoint's blocks are
  *    freed by Spark's ContextCleaner once its frame is unreachable, a
  *    persisted frame stays cached until `clearCache()`;
  *  - [[graft.dedup.FrameStore]] artifacts are made [[unscoped]] and
  *    freed by the store itself.
  * A freed local checkpoint cannot be recomputed (reading it fails with
  * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`), so a scope encloses building AND
  * every read of the result: Bench and Verify open one per entry run, the
  * API server one per request, the ingest dedup one per micro-batch. */
object Materialize {
  private val scopes = ThreadLocal.withInitial[List[Using.Manager]](() => Nil)

  private def record(free: AutoCloseable): Unit = scopes.get.headOption.foreach(_.acquire(free))

  /** `df` eagerly checkpointed, its blocks recorded in the open scope. */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    val (sc, id) = (out.sparkSession.sparkContext, rddId(out))
    record(() => free(sc, id))
    out
  }

  /** `df` persisted at `MEMORY_AND_DISK`, recorded in the open scope. */
  def persist(df: DataFrame): DataFrame = {
    record(() => df.unpersist(blocking = false))
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Run `body`, then free everything materialized inside it. Every free
    * runs even if another throws; a body's exception propagates with free
    * failures attached as suppressed (`scala.util.Using`'s rules). */
  def scope[T](body: => T): T = Using.Manager { m =>
    val outer = scopes.get
    scopes.set(m :: outer)
    try body finally scopes.set(outer)
  }.get

  /** Run `body` with no scope open: what it materializes outlives them. */
  private[graft] def unscoped[T](body: => T): T = {
    val outer = scopes.get
    scopes.set(Nil)
    try body finally scopes.set(outer)
  }

  /** The id of the checkpoint RDD behind a [[checkpoint]]ed frame. */
  private[graft] def rddId(checkpointed: DataFrame): Int =
    checkpointed.queryExecution.logical match { case r: LogicalRDD => r.rdd.id }

  /** Log one warning naming every persisted RDD that no
    * [[graft.dedup.FrameStore]] artifact owns: what `label`'s closed scope
    * left behind. */
  private[graft] def warnLeftovers(spark: SparkSession, logger: Logger,
                                   label: String): Unit = {
    val held = FrameStore.heldIds(spark)
    val left = spark.sparkContext.getPersistentRDDs.toSeq.sortBy(_._1).collect {
      case (id, rdd) if !held(id) => rdd.toString // "<class>[<id>] at <creation site>"
    }
    if (left.nonEmpty)
      logger.warn(s"$label left ${left.size} persisted RDDs: ${left.mkString(", ")}")
  }

  /** Free a checkpoint RDD's blocks now, if Spark still holds them. */
  private[graft] def free(sc: SparkContext, id: Int): Unit =
    sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
}
