package graft.runtime

import java.nio.file.{Files, Paths}

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
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
  *
  * The pre-pass runs on the driver and starts no Spark job, like the
  * reference's in-process fold over a handful of records. The document's
  * types come from `schema_of_json`, the same inference the multiLine
  * JSON reader runs, and `from_json` parses it over a one-row local
  * frame. The chain then runs over a local frame, which the optimizer's
  * `ConvertToLocalRelation` folds into a local relation: the golden
  * records go through Spark's interpreted expression evaluation, not
  * through the generated code of a production run.
  */
object GoldenFile {

  /** Verify `pipeline` against the golden file. Right(n) = n records
    * matched; Left(msg) = first mismatch / shape error. */
  def verify(spark: SparkSession, pipeline: Pipeline, path: String): Either[String, Int] =
    verifyText(spark, pipeline, path, read(path))

  /** The golden file's text; a missing or unreadable file throws an
    * `IOException`. */
  def read(path: String): String = Files.readString(Paths.get(path))

  /** [[verify]] over the `text` of the golden file at `path`. */
  def verifyText(spark: SparkSession, pipeline: Pipeline, path: String,
      text: String): Either[String, Int] =
    records(spark, path, text).flatMap { case (inputs, expected) =>
      compare(pipeline, inputs, expected)
    }

  /** The golden document's `inputs` and `expected` arrays as local
    * `(key, value)` frames, one row per element in array order; a missing
    * `key`/`value` field becomes a null string column. */
  private[runtime] def records(spark: SparkSession, path: String,
      text: String): Either[String, (DataFrame, DataFrame)] = {
    val one = spark.createDataFrame(java.util.List.of(Row(text)),
      StructType(Seq(StructField("text", StringType))))
    val parsed =
      try Some(one.select(from_json(col("text"), schema_of_json(lit(text))).as("doc")))
      catch { case _: AnalysisException => None }
    // A top-level array holds one document per element, as the multiLine
    // reader reads it. Malformed JSON, or any other value, has no such
    // fields, as with that reader's corrupt-record column.
    val docs = parsed.flatMap(p => p.schema("doc").dataType match {
      case _: StructType => Some(p.select("doc.*"))
      case ArrayType(st: StructType, _) =>
        Some(spark.createDataFrame(p.head().getSeq[Row](0).filter(_ != null).asJava, st))
      case _ => None
    })
    // Both fields must be arrays: `null`, an object or a number has no
    // records to read.
    def isArray(d: DataFrame, field: String) =
      d.columns.contains(field) && d.schema(field).dataType.isInstanceOf[ArrayType]
    docs.filter(d => isArray(d, "inputs") && isArray(d, "expected")) match {
      case None => Left(s"golden file $path needs top-level `inputs` and `expected` arrays")
      case Some(d) =>
        val rows = d.collect().toSeq
        Right((localRecords(d, rows, "inputs"), localRecords(d, rows, "expected")))
    }
  }

  /** The elements of the array `field` of the documents `docs`
    * (collected as `rows`), in order. The element type is the one
    * `explode` gives. An EMPTY array (the natural way to assert "all
    * inputs drop") infers a non-struct element type and yields no
    * records. */
  private def localRecords(docs: DataFrame, rows: Seq[Row], field: String): DataFrame = {
    val kv = Seq("key", "value")
    val (schema, recordRows) = docs.select(explode(col(field)).as("rec")).schema("rec").dataType match {
      case recType: StructType =>
        def has(name: String) = recType.fieldNames.contains(name)
        val elems = rows.flatMap(r => Option(r.getSeq[Row](r.fieldIndex(field))).getOrElse(Nil))
        (StructType(kv.map(n => if (has(n)) recType(n) else StructField(n, StringType))),
          elems.map(e => Row.fromSeq(kv.map(n => if (e == null || !has(n)) null else e.getAs[Any](n)))))
      case _ => (StructType(kv.map(StructField(_, StringType))), Nil)
    }
    docs.sparkSession.createDataFrame(recordRows.asJava, schema)
  }

  /** Run `pipeline` over the `(key, value)` frame `inputs` and compare
    * its output, in input order, with the `(key, value)` frame
    * `expected`. Fields match by name, not position. Right(n) = n records
    * matched; Left(msg) = the count or the first record differs. Both
    * frames are collected and the chain runs over a local copy of
    * `inputs`, so local frames start no Spark job. */
  def compare(pipeline: Pipeline, inputs: DataFrame, expected: DataFrame): Either[String, Int] = {
    val actual = output(pipeline, inputs)
    val exp = expected.collect().toSeq.map(canonicalRow(_, expected.schema))

    if (actual.size != exp.size)
      Left(s"expected ${exp.size} output records, got ${actual.size}: " +
        actual.mkString("[", ", ", "]"))
    else actual.zip(exp).zipWithIndex.collectFirst {
      case ((a, e), i) if a != e =>
        s"record $i mismatch:\n  actual:   $a\n  expected: $e"
    }.toLeft(actual.size)
  }

  /** `pipeline`'s output over a local copy of `inputs`, canonical and
    * in input order. */
  private[runtime] def output(pipeline: Pipeline, inputs: DataFrame): Seq[Map[String, Any]] =
    inOrder(pipeline.compile(numbered(inputs), passthrough = Seq(SeqCol)))

  /** The `__seq` index column that rides through the chain as a
    * passthrough column, so the collected output can be put back in
    * input order. */
  private[runtime] val SeqCol = "__seq"

  /** A local copy of `inputs` with its rows numbered in [[SeqCol]]. */
  private[runtime] def numbered(inputs: DataFrame): DataFrame =
    inputs.sparkSession.createDataFrame(
      inputs.collect().toSeq.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }.asJava,
      inputs.schema.add(SeqCol, LongType, nullable = false))

  /** The canonical rows of `out` without [[SeqCol]], in [[SeqCol]] order. */
  private[runtime] def inOrder(out: DataFrame): Seq[Map[String, Any]] = {
    val seqAt = out.schema.fieldIndex(SeqCol)
    def withoutSeq[T](s: Seq[T]) = s.patch(seqAt, Nil, 1)
    val schema = StructType(withoutSeq(out.schema.fields.toSeq))
    out.collect().toSeq.sortBy(_.getLong(seqAt))
      .map(r => canonicalRow(Row.fromSeq(withoutSeq(r.toSeq)), schema))
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
