package org.apache.spark.sql.graftx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/**
 * Eager lineage-free checkpoint that STAMPS a known hash partitioning onto
 * the resulting [[LogicalRDD]].
 *
 * Why it exists: `Dataset.localCheckpoint` captures the executed plan's
 * `outputPartitioning`, but (a) under AQE the adaptive plan reports
 * `UnknownPartitioning`, and (b) when the partitioning key is aliased in
 * the same projection (CC/LPA state carries `vid AS label`) the rewrite
 * can bind to the alias (`hash(label)`), so every downstream join on the
 * real key re-exchanges the relation — for a BSP kernel that is a full
 * state shuffle per superstep that the co-partitioned design exists to
 * avoid (measured r6: `Exchange hashpartitioning(vid, p)` above every
 * checkpointed relation in the superstep plan).
 *
 * The caller GUARANTEES the rows are physically laid out by
 * `hash(keys, p)` — i.e. the checkpointed plan ends in (or preserves the
 * layout of) a `repartition(p, keys)` / ENSURE_REQUIREMENTS exchange on
 * exactly those keys at exactly that width, followed only by per-row
 * operators (project/filter/generate). The stamp only re-attaches
 * metadata Spark's own exchange created; a false claim would silently
 * mis-join, which is why every kernel result stays gated by the DuckDB
 * oracle replay and the golden specs.
 *
 * Lives under `org.apache.spark.sql` for `private[sql]` access to
 * `Dataset.ofRows` — plain Spark internals, the standard extension-point
 * access pattern.
 */
object PartitionedCheckpoint {

  /** `df.localCheckpoint(eager)` with `hash(keys, p)` stamped on the
   * resulting LogicalRDD. Falls back to the plain checkpoint when the
   * plan shape is unexpected or a key column is missing. Throws
   * IllegalStateException (after freeing the checkpoint) when the
   * relation does not have exactly p partitions: such a stamp is false
   * by construction, and a co-partitioned join over it would fail far
   * from here ("Can't zip RDDs with unequal numbers of partitions") or
   * silently mis-join. */
  def localCheckpointHashed(df: DataFrame, keys: Seq[String], p: Int,
                            eager: Boolean = true): DataFrame = {
    val ck = df.localCheckpoint(eager)
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val attrs: Seq[Option[Attribute]] = keys.map(k => lr.output.find(_.name == k))
        if (attrs.exists(_.isEmpty)) ck
        else if (lr.rdd.getNumPartitions != p) {
          val n = lr.rdd.getNumPartitions
          lr.rdd.unpersist(false)
          throw new IllegalStateException(
            s"cannot stamp hash(${keys.mkString(", ")}, $p) on a relation with $n partitions")
        } else {
          // makeCopy appends the curried (session, originStats,
          // originConstraints) list itself, so the stamped relation keeps
          // its statistics (join sizing).
          val stamped = lr.makeCopy(Array(lr.output, lr.rdd, HashPartitioning(attrs.map(_.get), p),
            lr.outputOrdering, Boolean.box(lr.isStreaming), lr.stream))
          Dataset.ofRows(ck.sparkSession.asInstanceOf[SparkSession], stamped)
        }
      case _ => ck
    }
  }
}
