package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's dataflow surface (kafka-streams-plumber) is a linear
  * chain of three record-at-a-time operators over a keyed stream:
  * `filter(f(k,v))`, `map(f(k,v) -> (k',v'))`, `mapValues(f(v) -> v')`
  * (reference: StreamProcessOperations.scala:24-70 defines the Lua DSL,
  * :138-152 compiles it, :167-168 folds it; chain semantics: a dropped
  * record short-circuits all later steps).
  *
  * Spark-first re-expression: the canonical record frame is a DataFrame
  * with columns `key` and `value` (any Spark types, typically structs for
  * Avro-shaped data). Each step is a *Column expression* transform, so the
  * whole chain stays inside Catalyst: chained filters fuse
  * (CombineFilters), chained projections collapse (CollapseProject),
  * predicates push down to the source, and the whole pipeline runs in one
  * WholeStageCodegen span — none of which the reference's per-record Lua
  * interpreter can do.
  *
  * Cardinality contract preserved: 1 record in -> 0 or 1 records out.
  */
sealed trait Step
/** Keep the record iff the predicate is true; sees key AND value
  * (reference: StreamProcessOperations.scala:54-57, :140). */
final case class FilterStep(pred: (Column, Column) => Column) extends Step
/** Transform key and value together (reference:
  * StreamProcessOperations.scala:59-62; the "must return exactly 2
  * values" arity check at :144 is compile-time here — the function
  * returns a pair by construction). */
final case class MapStep(f: (Column, Column) => (Column, Column)) extends Step
/** Transform the value only; the key passes through untouched — the
  * no-repartition operator, same motivation as Kafka Streams mapValues
  * (reference: StreamProcessOperations.scala:64-67, :141). */
final case class MapValuesStep(f: Column => Column) extends Step

/** Builder for the step chain (the `pb` object of the reference's Lua
  * prelude, StreamProcessOperations.scala:24-70). Immutable; each call
  * returns a new pipeline with the step appended. */
final case class Pipeline(steps: Vector[Step] = Vector.empty) {
  def filter(pred: (Column, Column) => Column): Pipeline =
    copy(steps :+ FilterStep(pred))
  def map(f: (Column, Column) => (Column, Column)): Pipeline =
    copy(steps :+ MapStep(f))
  def mapValues(f: Column => Column): Pipeline =
    copy(steps :+ MapValuesStep(f))

  /** Compile the chain onto a `(key, value)` frame. `passthrough` columns
    * (e.g. an ordering index for the golden-test pre-pass, or Kafka
    * metadata columns) survive every step unchanged. Drop semantics: a
    * false/null predicate drops the record; later steps never see it —
    * exactly the reference's Option-fold short-circuit
    * (StreamProcessOperations.scala:149-152), but expressed as plan nodes
    * Catalyst is free to fuse. */
  def compile(df: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val keep = passthrough.map(col)
    steps.foldLeft(df) { (d, step) =>
      step match {
        case FilterStep(p) => d.filter(p(col("key"), col("value")))
        case MapStep(f) =>
          val (k2, v2) = f(col("key"), col("value"))
          d.select(k2.as("key") +: v2.as("value") +: keep: _*)
        case MapValuesStep(f) =>
          d.select(col("key") +: f(col("value")).as("value") +: keep: _*)
      }
    }
  }
}

object Pipeline {
  /** Entry point mirroring the Lua scripts' `local pb = require "pb"`. */
  def apply(): Pipeline = new Pipeline(Vector.empty)
}

/** Lambda-path parity: the reference's steps are *arbitrary scripts*
  * (opaque Lua closures). When a transformation genuinely can't be said
  * as Column expressions, this typed chain runs Scala closures over a
  * `Dataset[(K, V)]` — still distributed, still fused by Spark's
  * task pipelining, but opaque to Catalyst (so prefer [[Pipeline]]).
  * Type changes thread through the builder, replacing the reference's
  * dynamic Lua typing with compile-time checks.
  *
  * `K0`/`V0` are the input record types, `K`/`V` the output ones;
  * [[TypedPipeline]]`[K, V]` names a chain that has not changed them. */
final class TypedPipeline2[K0, V0, K, V] private[pipeline] (
    private[pipeline] val f: Dataset[(K0, V0)] => Dataset[(K, V)])
    extends Serializable {

  def filter(pred: (K, V) => Boolean): TypedPipeline2[K0, V0, K, V] =
    new TypedPipeline2(ds => f(ds).filter(kv => pred(kv._1, kv._2)))

  def map[K2, V2](g: (K, V) => (K2, V2))(
      implicit enc: Encoder[(K2, V2)]): TypedPipeline2[K0, V0, K2, V2] =
    new TypedPipeline2(ds => f(ds).map(kv => g(kv._1, kv._2)))

  def mapValues[V2](g: V => V2)(
      implicit enc: Encoder[(K, V2)]): TypedPipeline2[K0, V0, K, V2] =
    new TypedPipeline2(ds => f(ds).map(kv => (kv._1, g(kv._2))))

  def flatMapOpt[K2, V2](g: (K, V) => Option[(K2, V2)])(
      implicit enc: Encoder[(K2, V2)]): TypedPipeline2[K0, V0, K2, V2] =
    new TypedPipeline2(ds => f(ds).flatMap(kv => g(kv._1, kv._2)))

  def run(ds: Dataset[(K0, V0)]): Dataset[(K, V)] = f(ds)
}

object TypedPipeline {
  def apply[K, V](): TypedPipeline[K, V] = new TypedPipeline2(identity)
}
