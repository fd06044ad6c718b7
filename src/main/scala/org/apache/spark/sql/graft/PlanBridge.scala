package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset,
  SparkSession => ClassicSession}

/** The one sanctioned crossing into Spark's `private[sql]` surface:
  * wrapping a hand-built [[LogicalPlan]] back into a user-facing
  * [[DataFrame]] (and reaching the running context's live conf).
  * Custom logical operators (graft.plans.*) need exactly
  * this and nothing else from the internal API, so the bridge is kept to
  * a single file under the `org.apache.spark.sql`
  * package (the standard technique for libraries shipping their own plan
  * nodes — the same access path Spark's own `Dataset` transformations
  * use).
  */
object PlanBridge {
  /** The live conf of the running [[org.apache.spark.SparkContext]],
    * which `GraftExtensions` sets its codegen defaults on (Spark's
    * `getActive` and `conf` are `private[spark]`; the public `getConf`
    * is a copy).
    */
  def activeContextConf: Option[org.apache.spark.SparkConf] =
    org.apache.spark.SparkContext.getActive.map(_.conf)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Re-declare the hash partitioning of an eagerly checkpointed frame.
    *
    * `Dataset.localCheckpoint` materializes through the AQE wrapper,
    * whose `outputPartitioning` is reported as `UnknownPartitioning` —
    * so a frame that was explicitly `repartition(n, keys…)`-ed
    * immediately before the checkpoint loses the co-partitioning fact,
    * and every downstream join re-exchanges both sides even though the
    * checkpointed RDD's partitions ARE the hash buckets (an explicit-N
    * repartition is never AQE-coalesced, and the checkpoint copies
    * partitions 1:1). This helper rewraps the checkpointed
    * [[LogicalRDD]] with the `HashPartitioning` the caller just
    * established, restoring what the planner knew one node earlier.
    *
    * The caller owns the proof obligation: `keys`/`numParts` must be
    * exactly the repartition's expressions (resolved against `df`) and
    * partition count. The partition-count half is checked here — on a
    * mismatch (or a non-LogicalRDD plan) the frame is returned
    * unchanged, so a wrong call degrades to an extra exchange, never
    * to a mis-partitioned join.
    */
  def checkpointedWithNullSafeKeyPartitioning(spark: SparkSession,
      df: DataFrame, keyCols: Seq[String], numParts: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Coalesce, IsNull,
      Literal}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.logical match {
      case lr: LogicalRDD if lr.rdd.getNumPartitions == numParts &&
          keyCols.forall(k => lr.output.exists(_.name == k)) =>
        // the exact key shape ExtractEquiJoinKeys gives a null-safe
        // (`<=>`) equi-join: (coalesce(k, <type default>), isnull(k))
        // per key — RESOLVED attribute references, so the analyzer's
        // relation dedup can re-id them on a self-referencing plan and
        // EnsureRequirements can match them against the join's
        // required clustering
        val exprs = keyCols.flatMap { k =>
          val attr = lr.output.find(_.name == k).get
          Seq(Coalesce(Seq(attr, Literal.default(attr.dataType))),
            IsNull(attr))
        }
        val repart = LogicalRDD(lr.output, lr.rdd,
          HashPartitioning(exprs, numParts), lr.outputOrdering,
          lr.isStreaming)(spark.asInstanceOf[ClassicSession], None, None)
        ofRows(spark, repart)
      case _ => df
    }
  }
}
