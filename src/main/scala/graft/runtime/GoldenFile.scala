package graft.runtime

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Pipeline

/** File-based golden verification: the runtime analogue of the
  * reference's `-t` test script (`pb.forInputs` / `pb.expectOutputs`,
  * StreamProcessOperations.scala:33-52), executed BEFORE the stream
  * starts; any mismatch refuses startup (Plumber.scala:41-50).
  *
  * Format: one JSON document
  * {{{ {"inputs":[{"key":…,"value":…},…], "expected":[…]} }}}
  * Records may omit `key` (void-key pipelines). Comparison is ordered
  * (count + per-record), structural, and null==absent — mirroring Lua
  * semantics where a nil table entry IS absence
  * (StreamProcessOperations.scala:117-132; the reference's discarded
  * type-check bug at :118-120 is not replicated — canonical values keep
  * their types).
  */
object GoldenFile {

  /** Verify `pipeline` against the golden file. Right(n) = n records
    * matched; Left(msg) = first mismatch / shape error. */
  def verify(spark: SparkSession, pipeline: Pipeline, path: String): Either[String, Int] = {
    val doc = spark.read.option("multiLine", true).json(path)
    val cols = doc.columns.toSet
    if (!cols.contains("inputs") || !cols.contains("expected"))
      Left(s"golden file $path needs top-level `inputs` and `expected` arrays")
    else compare(pipeline, explodeRecords(doc, "inputs"), explodeRecords(doc, "expected"))
  }

  /** Run `pipeline` over the `(key, value)` frame `inputs` and compare
    * its output, in input order, with the `(key, value)` frame
    * `expected`. Fields match by name, not position. Right(n) = n records
    * matched; Left(msg) = the count or the first record differs. */
  def compare(pipeline: Pipeline, inputs: DataFrame, expected: DataFrame): Either[String, Int] = {
    // A monotonic `__seq` rides through the chain as a passthrough
    // column, so the collected output can be put back in input order.
    def numbered(df: DataFrame) = df.withColumn("__seq", monotonically_increasing_id())
    def canonicalInOrder(df: DataFrame): Seq[Map[String, Any]] = {
      val rows = df.orderBy(col("__seq")).drop("__seq")
      rows.collect().toSeq.map(canonicalRow(_, rows.schema))
    }
    val actual = canonicalInOrder(pipeline.compile(numbered(inputs), passthrough = Seq("__seq")))
    val exp = canonicalInOrder(numbered(expected))

    if (actual.size != exp.size)
      Left(s"expected ${exp.size} output records, got ${actual.size}: " +
        actual.mkString("[", ", ", "]"))
    else actual.zip(exp).zipWithIndex.collectFirst {
      case ((a, e), i) if a != e =>
        s"record $i mismatch:\n  actual:   $a\n  expected: $e"
    }.toLeft(actual.size)
  }

  /** One row per array element, in array order, as a (key, value)
    * frame; a missing `key`/`value` field becomes a null column. An EMPTY
    * array (the natural way to assert "all inputs drop") infers a
    * non-struct element type — yield an empty frame instead of crashing. */
  private def explodeRecords(doc: DataFrame, field: String): DataFrame = {
    val exploded = doc.select(explode(col(field)).as("rec"))
    exploded.schema("rec").dataType match {
      case recType: StructType =>
        def pick(name: String) =
          if (recType.fieldNames.contains(name)) col(s"rec.$name").as(name)
          else lit(null).cast(StringType).as(name)
        exploded.select(pick("key"), pick("value"))
      case _ =>
        exploded.where(lit(false)).select(
          lit(null).cast(StringType).as("key"),
          lit(null).cast(StringType).as("value"))
    }
  }

  /** Canonical structural value: structs -> name-sorted maps WITHOUT
    * null entries (null == absent, the Lua-table semantic), arrays ->
    * vectors, binary -> byte vector. Numeric equality is VALUE-based:
    * widths widen (all finite numerics -> an exact BigDecimal canonical
    * form, [[widen]]) so long 5 == double 5.0 — exactly the reference's
    * luaj semantics (its deepEq coerces 1 == 1.0) — without cooperative
    * equality's >2^53 lossiness. Golden JSON always parses numbers as
    * long/double, so a pipeline producing int 5 matches an expected 5;
    * only different VALUES mismatch. */
  def canonicalRow(r: Row, schema: StructType): Map[String, Any] =
    canonical(r, schema).asInstanceOf[Map[String, Any]]

  private def canonical(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (r: Row, st: StructType) =>
      TreeMap(st.fields.zipWithIndex.flatMap { case (f, i) =>
        val c = canonical(r.get(i), f.dataType)
        if (c == null) None else Some(f.name -> c)
      }.toIndexedSeq: _*)
    case (s: scala.collection.Seq[_], at: ArrayType) =>
      s.map(canonical(_, at.elementType)).toVector
    case (m: scala.collection.Map[_, _], mt: MapType) =>
      TreeMap(m.toSeq.map { case (k, mv) =>
        k.toString -> canonical(mv, mt.valueType)
      }.sortBy(_._1): _*)
    case (b: Array[Byte], _) => b.toVector
    case (x, _) => widen(x)
  }

  /** All finite numerics canonicalize to [[scala.math.BigDecimal]],
    * whose equality is numeric-EXACT: int 5 == long 5 == double 5.0
    * still hold (luaj's deepEq coercion), but Long-vs-Double no longer
    * routes through Scala cooperative equality's lossy Long→Double
    * conversion, which above 2^53 made DISTINCT values compare equal
    * (Long.MaxValue == 9.223372036854776e18) — a silent false-match
    * window for 64-bit fingerprint goldens. NaN/Infinity cannot be
    * BigDecimals and stay on the double path (NaN != NaN, Inf == Inf). */
  private def widen(v: Any): Any = v match {
    case b: java.lang.Byte => BigDecimal(b.longValue)
    case s: java.lang.Short => BigDecimal(s.longValue)
    case i: java.lang.Integer => BigDecimal(i.longValue)
    case l: java.lang.Long => BigDecimal(l.longValue)
    case f: java.lang.Float if !f.isNaN && !f.isInfinite => BigDecimal(f.doubleValue)
    case d: java.lang.Double if !d.isNaN && !d.isInfinite => BigDecimal(d.doubleValue)
    case f: java.lang.Float => f.doubleValue
    case other => other
  }
}
