package graft.types

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.Schema.Type._
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A union value could not be matched to any branch of its declared Avro
  * union — parity with the reference's runtime union dispatch failure
  * (reference: LuaMapper.scala:76 `UnresolvedUnionException`, tested at
  * AllFieldTypesTest.scala:176-196). */
final class UnresolvedUnionException(msg: String)
    extends RuntimeException(msg)

/** The reference's type bridge crosses three worlds — wire/Java, Lua, and
  * declared output types (SURVEY §1.2; reference: LuaMapper.scala:16-128,
  * TypeConversions.scala:30-39, StreamProcessOperations.scala:176-198).
  * Spark collapses this to two: Avro wire format <-> Catalyst types.
  *
  * Mapping rules (reference file:line in parens):
  *  - primitives map 1:1 (LuaMapper.scala:17-22)
  *  - record -> StructType, nested to any depth (LuaMapper.scala:24,52-59)
  *  - array<T> -> ArrayType (LuaMapper.scala:23,46-50)
  *  - enum -> StringType with symbol validation on encode
  *    (LuaMapper.scala:26,30-32,93-97)
  *  - union [null,T] -> nullable T — the reference's own fast path
  *    (LuaMapper.scala:38-40,71-73)
  *  - general union -> struct of nullable members `member0..memberN`
  *    (the public spark-avro convention); encode resolves the branch from
  *    the single non-null member — the Spark-typed analogue of the
  *    reference's runtime-type dispatch (LuaMapper.scala:75-91), and an
  *    all-null struct for a non-nullable union throws
  *    [[UnresolvedUnionException]] (LuaMapper.scala:76)
  *  - bytes/fixed -> BinaryType, map -> MapType — capability upgrades; the
  *    reference raises NotImplementedError on these (LuaMapper.scala:27,112)
  */
object AvroBridge {

  // ---------------------------------------------------------------- schema

  /** Avro Schema -> Spark DataType (nullable-ness is carried by the
    * StructField, so the top-level return is (type, nullable)). */
  def toSqlTypeNullable(schema: Schema): (DataType, Boolean) = schema.getType match {
    case BOOLEAN => (BooleanType, false)
    case INT     => (IntegerType, false)
    case LONG    => (LongType, false)
    case FLOAT   => (FloatType, false)
    case DOUBLE  => (DoubleType, false)
    case STRING  => (StringType, false)
    case ENUM    => (StringType, false)
    case BYTES | FIXED => (BinaryType, false)
    case NULL    => (NullType, true)
    case RECORD =>
      val fields = schema.getFields.asScala.map { f =>
        val (dt, nullable) = toSqlTypeNullable(f.schema())
        StructField(f.name(), dt, nullable)
      }
      (StructType(fields.toSeq), false)
    case ARRAY =>
      val (el, elNullable) = toSqlTypeNullable(schema.getElementType)
      (ArrayType(el, containsNull = elNullable), false)
    case MAP =>
      val (v, vNullable) = toSqlTypeNullable(schema.getValueType)
      (MapType(StringType, v, valueContainsNull = vNullable), false)
    case UNION =>
      val branches = schema.getTypes.asScala.toSeq
      val nonNull = branches.filter(_.getType != NULL)
      val hasNull = branches.size != nonNull.size
      nonNull match {
        case Seq(only) =>
          val (dt, n) = toSqlTypeNullable(only)
          (dt, n || hasNull)
        case many =>
          val fields = many.zipWithIndex.map { case (b, i) =>
            val (dt, _) = toSqlTypeNullable(b)
            StructField(s"member$i", dt, nullable = true)
          }
          (StructType(fields), hasNull)
      }
    case other => throw new IllegalArgumentException(s"unsupported avro type: $other")
  }

  def toSqlType(schema: Schema): DataType = toSqlTypeNullable(schema)._1

  // ----------------------------------------------------- catalyst decode

  /** Avro datum (as produced by GenericDatumReader) -> Catalyst value. */
  def avroToCatalyst(v: Any, schema: Schema): Any = {
    if (v == null) return null
    schema.getType match {
      case BOOLEAN | INT | LONG | FLOAT | DOUBLE => v
      case STRING => UTF8String.fromString(v.toString)
      case ENUM   => UTF8String.fromString(v.toString)
      case BYTES  => v match {
        case b: java.nio.ByteBuffer =>
          val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
        case a: Array[Byte] => a
      }
      case FIXED => v.asInstanceOf[GenericData.Fixed].bytes()
      case RECORD =>
        val rec = v.asInstanceOf[GenericRecord]
        val fields = schema.getFields.asScala
        val out = new Array[Any](fields.size)
        var i = 0
        fields.foreach { f => out(i) = avroToCatalyst(rec.get(f.pos()), f.schema()); i += 1 }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
      case ARRAY =>
        val el = schema.getElementType
        val xs = v.asInstanceOf[java.util.Collection[Any]].asScala
        new GenericArrayData(xs.map(avroToCatalyst(_, el)).toArray)
      case MAP =>
        val vt = schema.getValueType
        val m = v.asInstanceOf[java.util.Map[Any, Any]].asScala
        val keys = m.keys.map(k => UTF8String.fromString(k.toString): Any).toArray
        val vals = m.values.map(avroToCatalyst(_, vt)).toArray
        new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
      case UNION =>
        val nonNull = schema.getTypes.asScala.filter(_.getType != NULL).toSeq
        nonNull match {
          case Seq(only) => avroToCatalyst(v, only)
          case many =>
            // struct-of-members: exactly the matching branch is populated
            val idx = resolveUnionBranch(v, many)
            val out = new Array[Any](many.size)
            out(idx) = avroToCatalyst(v, many(idx))
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
        }
      case NULL => null
      case other => throw new IllegalArgumentException(s"unsupported avro type: $other")
    }
  }

  /** Runtime branch resolution by the value's runtime type — the Spark
    * analogue of the reference's Lua-type dispatch (LuaMapper.scala:80-91). */
  private def resolveUnionBranch(v: Any, branches: Seq[Schema]): Int = {
    val i = branches.indexWhere { b =>
      (b.getType, v) match {
        case (BOOLEAN, _: java.lang.Boolean) => true
        case (INT, _: java.lang.Integer) => true
        case (LONG, _: java.lang.Long) => true
        case (FLOAT, _: java.lang.Float) => true
        case (DOUBLE, _: java.lang.Double) => true
        case (STRING, _: CharSequence) => true
        case (ENUM, e: GenericData.EnumSymbol) => b.getFullName == e.getSchema.getFullName
        case (RECORD, r: GenericRecord) => b.getFullName == r.getSchema.getFullName
        case (ARRAY, _: java.util.Collection[_]) => true
        case (MAP, _: java.util.Map[_, _]) => true
        case (BYTES, _: java.nio.ByteBuffer) => true
        case (FIXED, f: GenericData.Fixed) => b.getFullName == f.getSchema.getFullName
        case _ => false
      }
    }
    if (i < 0) throw new UnresolvedUnionException(
      s"cannot resolve ${v.getClass.getName} against union ${branches.map(_.getType)}")
    i
  }

  // ----------------------------------------------------- catalyst encode

  /** Catalyst value -> Avro datum per the target schema. Encode is driven
    * by the *declared output schema* (the projection contract of
    * LuaMapper.luaOntoRecord, reference: LuaMapper.scala:116-122): for
    * records, fields are pulled by position from the InternalRow already
    * shaped by [[projectTo]]; nil -> null (LuaMapper.scala:100). */
  def catalystToAvro(v: Any, dataType: DataType, schema: Schema): Any = {
    if (v == null) {
      schema.getType match {
        case NULL => return null
        case UNION if schema.getTypes.asScala.exists(_.getType == NULL) => return null
        case _ => throw new UnresolvedUnionException(
          s"null value for non-nullable avro type ${schema.getType}")
      }
    }
    (schema.getType, dataType) match {
      case (BOOLEAN, BooleanType) | (INT, IntegerType) | (LONG, LongType) |
           (FLOAT, FloatType) | (DOUBLE, DoubleType) => v
      case (LONG, IntegerType) => v.asInstanceOf[Int].toLong
      case (DOUBLE, FloatType) => v.asInstanceOf[Float].toDouble
      case (STRING, StringType) => v.toString
      case (ENUM, StringType) =>
        val s = v.toString
        if (!schema.getEnumSymbols.asScala.contains(s))
          throw new IllegalArgumentException(
            s"'$s' is not a symbol of enum ${schema.getFullName} " +
              s"(${schema.getEnumSymbols.asScala.mkString(",")})")
        new GenericData.EnumSymbol(schema, s)
      case (BYTES, BinaryType) => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case (FIXED, BinaryType) => mkFixed(schema, v.asInstanceOf[Array[Byte]])
      case (RECORD, st: StructType) =>
        // Output-schema-as-projection (LuaMapper.scala:116-122): pull each
        // avro field BY NAME from the struct; struct fields the schema
        // doesn't declare are dropped, schema fields the struct lacks
        // become null (then nullability is enforced by the null path above).
        val row = v.asInstanceOf[InternalRow]
        val rec = new GenericData.Record(schema)
        schema.getFields.asScala.foreach { f =>
          val i = st.fieldNames.indexOf(f.name())
          val fv = if (i < 0 || row.isNullAt(i)) null else row.get(i, st.fields(i).dataType)
          val dt = if (i < 0) NullType else st.fields(i).dataType
          rec.put(f.pos(), catalystToAvro(fv, dt, f.schema()))
        }
        rec
      case (ARRAY, at: ArrayType) =>
        val arr = v.asInstanceOf[ArrayData]
        val out = new java.util.ArrayList[Any](arr.numElements())
        var i = 0
        while (i < arr.numElements()) {
          val el = if (arr.isNullAt(i)) null else arr.get(i, at.elementType)
          out.add(catalystToAvro(el, at.elementType, schema.getElementType))
          i += 1
        }
        out
      case (MAP, mt: MapType) =>
        val m = v.asInstanceOf[MapData]
        val out = new java.util.HashMap[String, Any](m.numElements())
        val keys = m.keyArray()
        val vals = m.valueArray()
        var i = 0
        while (i < m.numElements()) {
          val mv = if (vals.isNullAt(i)) null else vals.get(i, mt.valueType)
          out.put(keys.get(i, StringType).toString,
            catalystToAvro(mv, mt.valueType, schema.getValueType))
          i += 1
        }
        out
      case (UNION, dt) =>
        val nonNull = schema.getTypes.asScala.filter(_.getType != NULL).toSeq
        nonNull match {
          case Seq(only) => catalystToAvro(v, dt, only)
          case many => dt match {
            case st: StructType =>
              // struct-of-members: the single non-null member picks the branch
              val row = v.asInstanceOf[InternalRow]
              val idx = (0 until many.size).find(i => !row.isNullAt(i)).getOrElse(
                throw new UnresolvedUnionException(
                  s"all members null for non-nullable union ${many.map(_.getType)}"))
              catalystToAvro(row.get(idx, st.fields(idx).dataType),
                st.fields(idx).dataType, many(idx))
            case other =>
              // a plain value against a multi-branch union: runtime-type dispatch
              val i = many.indexWhere(b => sqlMatchesBranch(other, b))
              if (i < 0) throw new UnresolvedUnionException(
                s"cannot resolve $other against union ${many.map(_.getType)}")
              catalystToAvro(v, other, many(i))
          }
        }
      case (t, dt) => throw new IllegalArgumentException(
        s"cannot encode spark $dt as avro $t")
    }
  }

  /** GenericData.Fixed performs NO length validation (and the datum
    * writer emits exactly getFixedSize bytes: a long array would
    * silently truncate, a short one would throw an opaque AIOOBE deep
    * inside the encoder) — validate eagerly where the caller's value is
    * still in scope. */
  private def mkFixed(schema: Schema, bytes: Array[Byte]): GenericData.Fixed = {
    require(bytes.length == schema.getFixedSize,
      s"fixed ${schema.getFullName} requires exactly ${schema.getFixedSize} " +
        s"bytes, got ${bytes.length}")
    new GenericData.Fixed(schema, bytes)
  }

  private def sqlMatchesBranch(dt: DataType, b: Schema): Boolean = (b.getType, dt) match {
    case (BOOLEAN, BooleanType) | (INT, IntegerType) | (LONG, LongType) |
         (FLOAT, FloatType) | (DOUBLE, DoubleType) | (STRING, StringType) |
         (ENUM, StringType) | (BYTES, BinaryType) => true
    case (RECORD, _: StructType) | (ARRAY, _: ArrayType) | (MAP, _: MapType) => true
    case _ => false
  }

  // ------------------------------------------------------- column surface

  /** `from_avro` analogue: binary column of plain Avro -> struct column.
    * (No spark-avro connector in this environment; this is our own
    * Catalyst expression over org.apache.avro.) */
  def decodeAvro(c: Column, schema: Schema): Column =
    GraftColumnBridge.column(AvroDecode(GraftColumnBridge.expression(c), schema.toString))

  /** `to_avro` analogue: struct column -> binary column of plain Avro.
    * Projection onto the output schema (select by name, missing -> null,
    * extra dropped — LuaMapper.scala:116-122 semantics) happens inside the
    * encoder's RECORD path, which sees the analyzed input StructType — so
    * the input struct may have any shape. */
  def encodeAvro(c: Column, schema: Schema): Column =
    GraftColumnBridge.column(AvroEncode(
      GraftColumnBridge.expression(c), schema.toString))

  /** Output-schema-as-projection, Catalyst-native: reshape a struct
    * column of known `source` type onto `target` by field NAME — present
    * fields are cast/recursed, missing fields become null, extra fields
    * are dropped. Mirrors the reference's `luaOntoRecord`
    * (LuaMapper.scala:116-122; tested by AllFieldTypesTest.scala:31-57
    * "this makes optstring1 nil"). */
  def projectTo(c: Column, source: StructType, target: StructType): Column =
    reshape(c, source, target)

  private def reshape(src: Column, srcT: DataType, tgt: DataType): Column = (srcT, tgt) match {
    case (s: StructType, t: StructType) =>
      val fields = t.fields.map { f =>
        s.fields.find(_.name == f.name) match {
          case Some(sf) => reshape(src.getField(f.name), sf.dataType, f.dataType).as(f.name)
          case None     => lit(null).cast(f.dataType).as(f.name)
        }
      }
      when(src.isNull, lit(null).cast(t)).otherwise(struct(fields.toIndexedSeq: _*))
    case (s: ArrayType, t: ArrayType) =>
      transform(src, x => reshape(x, s.elementType, t.elementType))
    case (s, t) if s == t => src
    case (_, t) => src.cast(t)
  }

  /** DataFrame-level output projection with full missing-field->null,
    * extra-field->dropped semantics (schema known, so total). */
  def projectValueTo(df: org.apache.spark.sql.DataFrame, valueCol: String,
      target: StructType): org.apache.spark.sql.DataFrame =
    df.withColumn(valueCol, reshape(col(valueCol), df.schema(valueCol).dataType, target))

  // --------------------------------------------------------- binary avro

  def serialize(rec: GenericRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](rec.getSchema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  def deserialize(bytes: Array[Byte], schema: Schema): GenericRecord = {
    val dec = DecoderFactory.get().binaryDecoder(bytes, null)
    new GenericDatumReader[GenericRecord](schema).read(null, dec)
  }
}

/** binary (plain Avro body) -> struct, our from_avro. The datum decode
  * itself is Avro-library work, but the expression still participates in
  * whole-stage codegen: the generated code makes one call into this
  * object (Spark's own from_avro uses the same reference-object
  * pattern), so the surrounding filter/project span stays fused. */
case class AvroDecode(child: Expression, schemaJson: String)
    extends UnaryExpression {
  @transient private lazy val schema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val reader = new GenericDatumReader[Any](schema)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary input, got ${child.dataType}")
  override lazy val dataType: DataType = AvroBridge.toSqlType(new Schema.Parser().parse(schemaJson))
  override def nullable: Boolean = true
  /** public for generated code */
  def decode(bytes: Array[Byte]): Any = {
    val dec = DecoderFactory.get().binaryDecoder(bytes, null)
    AvroBridge.avroToCatalyst(reader.read(null, dec), schema)
  }
  override protected def nullSafeEval(v: Any): Any =
    decode(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("avroDecode", this)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .boxedType(dataType)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ($boxed) $ref.decode($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): AvroDecode =
    copy(child = newChild)
  override def prettyName: String = "graft_from_avro"
}

/** struct -> binary (plain Avro body), our to_avro. Same reference-object
  * codegen pattern as [[AvroDecode]]. */
case class AvroEncode(child: Expression, schemaJson: String)
    extends UnaryExpression {
  @transient private lazy val schema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val writer = new GenericDatumWriter[Any](schema)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable
  /** public for generated code */
  def encode(v: Any): Array[Byte] = {
    val datum = AvroBridge.catalystToAvro(v, child.dataType, schema)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    writer.write(datum, enc)
    enc.flush()
    out.toByteArray
  }
  override protected def nullSafeEval(v: Any): Any = encode(v)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("avroEncode", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): AvroEncode =
    copy(child = newChild)
  override def prettyName: String = "graft_to_avro"
}
