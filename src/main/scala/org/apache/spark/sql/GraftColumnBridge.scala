package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4.x moved `Column` to a ColumnNode facade; wrapping a raw
  * Catalyst [[Expression]] into a [[Column]] (the old `new Column(expr)`)
  * now lives in `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`. This shim lives inside the `org.apache.spark.sql`
  * package to re-export those two conversions for graft's custom
  * expressions, and the few other package-private calls graft needs
  * (public Spark API surface otherwise).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A frame over a logical plan built outside the Dataset API
    * (`Dataset.ofRows` is `private[sql]`). */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until the listener bus has delivered every event posted so
    * far (`LiveListenerBus.waitUntilEmpty` is `private[spark]`). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The job group a job was submitted under, from the properties its
    * `SparkListenerJobStart` carries; null outside any group. */
  def jobGroupOf(props: java.util.Properties): String =
    if (props == null) null
    else props.getProperty(SparkContext.SPARK_JOB_GROUP_ID)

  /** A stats-compounding cap on `sizeInBytes` stamps. Any value at or
    * above this is equally "do not broadcast" to the planner (the
    * auto-broadcast threshold is megabytes), so clamping changes no
    * plan decision — it only stops the BigInt DIGIT growth. */
  private val StatsCap = BigInt(1L) << 50 // 1 PiB

  /** `localCheckpoint` with BOUNDED stamped statistics.
    *
    * `Dataset.localCheckpoint` truncates lineage for EXECUTION but
    * stamps the ORIGIN plan's `Statistics` onto the fresh `LogicalRDD`
    * leaf (`LogicalRDD.rewriteStatsAndConstraints`). Size estimates
    * multiply across joins, so in an iterative fold — where each
    * round's pin feeds the next round's plan — the stamped
    * `sizeInBytes` BigInts COMPOUND: digits roughly multiply per round
    * (a 3-way self-join triples them), and by round ~8 Catalyst spends
    * minutes per plan touch in BigInteger Toom-Cook multiplication
    * inside `SizeInBytesOnlyStatsPlanVisitor` (jstack-verified here
    * and independently in LifecycleSoakSpec's hardPin note; that spec
    * works around it with collect+re-parallelize, which an op cannot).
    *
    * The fix: after checkpointing, rebuild the leaf with `sizeInBytes`
    * clamped to [[StatsCap]] and the (equally compounded) `rowCount`
    * dropped. Below the cap the origin stats pass through untouched,
    * so small pinned frames keep broadcasting exactly as before; at or
    * above it the planner reads "huge, never broadcast" either way —
    * NO plan decision changes, only the arithmetic stays bounded.
    * Rows, schema, partitioning, ordering: identical. */
  def localCheckpointBounded(df: Dataset[Row]): Dataset[Row] = {
    val ck = df.localCheckpoint()
    // Name the pinned RDD with the creating thread: makes loop pins
    // attributable in the UI/getPersistentRDDs — and lets the
    // pin-release spec count ITS pins under sbt's parallel suites
    // (cosmetic otherwise; the name rides the same RDD the clamped
    // rebuild below wraps).
    ck.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        l.rdd.setName(s"graftpin-t${Thread.currentThread().getId}")
      case _ => ()
    }
    ck.queryExecution.analyzed match {
      case l: execution.LogicalRDD if l.stats.sizeInBytes > StatsCap =>
        val clamped = catalyst.plans.logical.Statistics(
          sizeInBytes = StatsCap)
        val fresh = execution.LogicalRDD(l.output, l.rdd,
          l.outputPartitioning, l.outputOrdering, l.isStreaming,
          l.stream)(
          df.sparkSession.asInstanceOf[classic.SparkSession],
          Some(clamped), None)
        classic.Dataset.ofRows(
          df.sparkSession.asInstanceOf[classic.SparkSession], fresh)
      case _ => ck
    }
  }

  /** Release the block-store copy behind a SUPERSEDED pin (optimization
    * r21, VERDICT r20 item 1): a `localCheckpoint` materializes RDD
    * blocks that live until the query's SparkSession drops them — in an
    * iterative fold every round pins a fresh frame, so a 30-round loop
    * on a node-sized frame holds ~30 node-frame copies in the block
    * store unless the superseded rounds are released. Call this on
    * round R−1's pinned handle ONCE round R's pin has materialized
    * (pins are eager, so the handoff point is exact and nothing can
    * still need the old blocks). On a reliable `checkpoint()` frame
    * (the `checkpointDir` path) the RDD is not block-persisted and the
    * unpersist is a no-op — callers need not branch. Any other frame
    * is unpersisted when it is cached (an in-query `.cache()` a round
    * consumed) and left alone otherwise. */
  def releasePin(df: Dataset[Row]): Unit =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ if df.storageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        df.unpersist(blocking = false)
      case _ => ()
    }
}
