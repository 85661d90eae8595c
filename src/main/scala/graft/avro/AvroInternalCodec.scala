package graft.avro

import java.math.BigInteger
import java.nio.ByteBuffer

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.Schema.Type
import org.apache.avro.generic.{GenericData, GenericFixed, GenericRecord, IndexedRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The Avro ⇄ Catalyst value codec: `GenericRecord` → [[InternalRow]]
  * (and back) in ONE specialized pass. Every path that turns records into
  * rows uses it: the projector, `record.sql`, the bulk bridge, the
  * graft-avro source, and [[AvroRowCodec]]'s external-`Row` adapters.
  *
  * Decode plans once per (writer schema, read struct): field positions
  * and per-field converter closures are resolved up front, so the
  * per-record loop is position reads + direct internal-value
  * construction (`UTF8String.fromBytes` straight off Avro's `Utf8`
  * buffer, date ints and timestamp micros passed through — Avro's
  * logical representations ARE Catalyst's). Each call returns a fresh
  * [[GenericInternalRow]], so downstream operators may hold references
  * without a defensive copy.
  *
  * Value rules follow the reference's unpacker dispatch
  * (AvroUnpacker.scala:124-139): strings (incl. `Utf8`) and enum symbols →
  * strings, `FIXED` → raw bytes, logical decimal/date/timestamp → native
  * Spark values; timestamp-micros works (the reference's missing match
  * arm, AvroUnpacker.scala:100-118, is a fixed quirk, not replicated).
  * Multi-branch unions become tagged structs, and the schema-drift
  * numeric promotions of Avro resolution apply.
  */
object AvroInternalCodec {

  private def nonNull(s: Schema): Schema =
    if (s.getType == Type.UNION) AvroSchemaConverter.fromUnion(s)._1 else s

  /** Plan a record→InternalRow decoder for records conforming to
    * `avro` (the resolved READER schema) projected as `struct`.
    */
  def decoderFor(avro: Schema, struct: StructType): IndexedRecord => InternalRow = {
    val rec = nonNull(avro)
    val n = struct.fields.length
    val positions = new Array[Int](n)
    val convs = new Array[Any => Any](n)
    struct.fields.zipWithIndex.foreach { case (sf, i) =>
      val af = rec.getField(sf.name)
      require(af != null, s"Avro schema has no field '${sf.name}'")
      positions(i) = af.pos()
      convs(i) = converter(af.schema(), sf.dataType)
    }
    record => {
      val vals = new Array[Any](n)
      var i = 0
      while (i < n) {
        val v = record.get(positions(i))
        vals(i) = if (v == null) null else convs(i)(v)
        i += 1
      }
      new GenericInternalRow(vals)
    }
  }

  /** Multi-branch union → tagged-struct InternalRow, planned once per
    * (union, struct): branch converters and field ordinals resolve up
    * front; per value only Avro's own union dispatch runs. Nested column
    * pruning may leave a carrier without its `tag` (a branch-only read);
    * such a carrier holds only the branch fields it was asked for.
    */
  private def unionConverter(union: Schema, dt: DataType): Any => Any = {
    import scala.jdk.CollectionConverters._
    val st = dt.asInstanceOf[StructType]
    val tagIdx = st.fieldNames.indexOf(AvroSchemaConverter.UnionTagField)
    val gd = GenericData.get()
    val byIdx: Array[(Int, UTF8String, Any => Any)] =
      union.getTypes.asScala.toArray.map { b =>
        if (b.getType == Type.NULL) null
        else {
          val name = AvroSchemaConverter.branchName(b)
          // nested column pruning may keep only a SUBSET of the branch
          // fields (e.g. a tag-only projection): a pruned-away branch
          // still tags the row, its value is simply discarded
          val fi = st.fieldNames.indexOf(name)
          if (fi < 0) (-1, UTF8String.fromString(name), null)
          else (fi, UTF8String.fromString(name),
            converter(b, st.fields(fi).dataType))
        }
      }
    v => {
      // v is non-null (callers short-circuit nulls), so the resolved
      // branch is never the NULL slot
      val e = byIdx(gd.resolveUnion(union, v))
      val vals = new Array[Any](st.fields.length)
      if (tagIdx >= 0) vals(tagIdx) = e._2
      if (e._1 >= 0) vals(e._1) = e._3(v)
      new GenericInternalRow(vals)
    }
  }

  private def converter(schema0: Schema, dt: DataType): Any => Any = {
    if (schema0.getType == Type.UNION &&
        AvroSchemaConverter.unionBranches(schema0)._1.length >= 2)
      return unionConverter(schema0, dt)
    val schema = nonNull(schema0)
    (schema.getType, dt) match {
      case (Type.STRING | Type.ENUM, StringType) => {
        // Utf8 exposes its backing buffer: wrap, don't transcode (safe —
        // records are not reused, the buffer is never mutated after read)
        case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
        case other   => UTF8String.fromString(other.toString)
      }
      case (Type.BYTES, BinaryType) => bytesOf
      case (Type.FIXED, BinaryType) =>
        v => v.asInstanceOf[GenericFixed].bytes().clone()
      case (Type.BYTES | Type.FIXED, d: DecimalType) =>
        v => Decimal(new java.math.BigDecimal(
          new BigInteger(bytesOf(v)), d.scale), d.precision, d.scale)
      case (Type.INT, DateType) => identity // both are days since epoch
      case (Type.LONG, TimestampType | TimestampNTZType) =>
        schema.getLogicalType match {
          case _: LogicalTypes.TimestampMillis |
               _: LogicalTypes.LocalTimestampMillis =>
            v => Math.multiplyExact(v.asInstanceOf[Long], 1000L)
          case _ => identity // (local-)timestamp-micros IS the internal form
        }
      case (Type.RECORD, st: StructType) =>
        val dec = decoderFor(schema, st)
        v => dec(v.asInstanceOf[IndexedRecord])
      case (Type.ARRAY, ArrayType(et, _)) =>
        val ec = converter(schema.getElementType, et)
        v => {
          val col = v.asInstanceOf[java.util.Collection[Any]]
          val out = new Array[Any](col.size)
          var i = 0
          val it = col.iterator()
          while (it.hasNext) {
            val e = it.next()
            out(i) = if (e == null) null else ec(e)
            i += 1
          }
          new GenericArrayData(out)
        }
      case (Type.MAP, MapType(StringType, vt, _)) =>
        val vc = converter(schema.getValueType, vt)
        v => {
          val m = v.asInstanceOf[java.util.Map[Any, Any]]
          val ks = new Array[Any](m.size)
          val vs = new Array[Any](m.size)
          var i = 0
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            ks(i) = UTF8String.fromString(e.getKey.toString)
            vs(i) = if (e.getValue == null) null else vc(e.getValue)
            i += 1
          }
          new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
        }
      // schema-drift numeric promotions (Avro resolution rules)
      case (Type.INT, LongType)     => v => v.asInstanceOf[Int].toLong
      case (Type.INT, DoubleType)   => v => v.asInstanceOf[Int].toDouble
      case (Type.LONG, DoubleType)  => v => v.asInstanceOf[Long].toDouble
      case (Type.FLOAT, DoubleType) => v => v.asInstanceOf[Float].toDouble
      case _ => identity // boolean / int / long / float / double
    }
  }

  private val bytesOf: Any => Array[Byte] = {
    case bb: ByteBuffer =>
      val d = bb.duplicate()
      val out = new Array[Byte](d.remaining())
      d.get(out)
      out
    case arr: Array[Byte] => arr
    case f: GenericFixed => f.bytes() // fixed-carrier decimals
    case other => throw new IllegalArgumentException(s"not bytes: $other")
  }

  /** Plan an InternalRow→record encoder producing records conforming to
    * `avroSchema` from internal rows shaped as `struct`.
    */
  def encoderFor(struct: StructType, avroSchema: Schema): InternalRow => GenericRecord = {
    val rec = nonNull(avroSchema)
    val n = struct.fields.length
    val positions = new Array[Int](n)
    val types = new Array[DataType](n)
    val convs = new Array[Any => Any](n)
    struct.fields.zipWithIndex.foreach { case (sf, i) =>
      val af = rec.getField(sf.name)
      require(af != null, s"output Avro schema has no field '${sf.name}'")
      positions(i) = af.pos()
      types(i) = sf.dataType
      convs(i) = outConverter(sf.dataType, af.schema())
    }
    row => {
      val out = new GenericData.Record(rec)
      var i = 0
      while (i < n) {
        out.put(positions(i),
          if (row.isNullAt(i)) null else convs(i)(row.get(i, types(i))))
        i += 1
      }
      out
    }
  }

  /** Tagged-struct InternalRow → the branch the tag names (round trip
    * of [[unionConverter]] — a union-bearing table read back through
    * graft-avro and rewritten keeps its union).
    */
  private def outUnionConverter(dt: DataType, union: Schema): Any => Any = {
    val st = dt.asInstanceOf[StructType]
    val tagIdx = st.fieldIndex(AvroSchemaConverter.UnionTagField)
    val byName: Map[String, (Int, DataType, Any => Any)] =
      AvroSchemaConverter.unionBranches(union)._1.map { b =>
        val name = AvroSchemaConverter.branchName(b)
        val fi = st.fieldIndex(name)
        name -> ((fi, st.fields(fi).dataType,
          outConverter(st.fields(fi).dataType, b)))
      }.toMap
    v => {
      val row = v.asInstanceOf[InternalRow]
      require(!row.isNullAt(tagIdx), "union carrier row has a null tag")
      val tag = row.getUTF8String(tagIdx).toString
      val (fi, fdt, conv) = byName.getOrElse(tag,
        throw new IllegalArgumentException(
          s"tag '$tag' names no branch of $union"))
      if (row.isNullAt(fi)) null else conv(row.get(fi, fdt))
    }
  }

  private def outConverter(dt: DataType, schema0: Schema): Any => Any = {
    if (schema0.getType == Type.UNION &&
        AvroSchemaConverter.unionBranches(schema0)._1.length >= 2)
      return outUnionConverter(dt, schema0)
    val schema = nonNull(schema0)
    (dt, schema.getType) match {
      case (StringType, Type.ENUM) =>
        v => new GenericData.EnumSymbol(schema, v.toString)
      case (StringType, _) => v => v.toString
      case (BinaryType, Type.FIXED) =>
        v => new GenericData.Fixed(schema, v.asInstanceOf[Array[Byte]])
      case (BinaryType, _) => v => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case (d: DecimalType, Type.BYTES) =>
        v => ByteBuffer.wrap(v.asInstanceOf[Decimal].toJavaBigDecimal
          .setScale(d.scale).unscaledValue().toByteArray)
      case (DateType, Type.INT) => identity // both are days since epoch
      case (TimestampType | TimestampNTZType, Type.LONG) =>
        schema.getLogicalType match {
          case _: LogicalTypes.TimestampMillis |
               _: LogicalTypes.LocalTimestampMillis =>
            v => Math.floorDiv(v.asInstanceOf[Long], 1000L)
          case _ => identity // micros pass through
        }
      case (st: StructType, Type.RECORD) =>
        val enc = encoderFor(st, schema)
        v => enc(v.asInstanceOf[InternalRow])
      case (ArrayType(et, _), Type.ARRAY) =>
        val ec = outConverter(et, schema.getElementType)
        v => {
          val a = v.asInstanceOf[ArrayData]
          val out = new java.util.ArrayList[Any](a.numElements())
          var i = 0
          while (i < a.numElements()) {
            out.add(if (a.isNullAt(i)) null else ec(a.get(i, et)))
            i += 1
          }
          out
        }
      case (MapType(StringType, vt, _), Type.MAP) =>
        val vc = outConverter(vt, schema.getValueType)
        v => {
          val m = v.asInstanceOf[MapData]
          val out = new java.util.HashMap[String, Any](m.numElements() * 2)
          val ks = m.keyArray()
          val vs = m.valueArray()
          var i = 0
          while (i < m.numElements()) {
            out.put(ks.getUTF8String(i).toString,
              if (vs.isNullAt(i)) null else vc(vs.get(i, vt)))
            i += 1
          }
          out
        }
      case _ => identity
    }
  }

  /** Lazy EXTERNAL view of an internal row for the decode-time filter
    * evaluator ([[graft.sources.AvroFilterEval]] compares external JVM
    * values): only the fields a predicate actually touches are
    * converted. Containers are returned raw — predicates only ever
    * null-check them, and the evaluator answers may-match on values it
    * does not understand.
    */
  def externalView(ir: InternalRow, struct: StructType): Row = new Row {
    override def length: Int = struct.length
    override def get(i: Int): Any =
      if (ir.isNullAt(i)) null
      else externalize(ir.get(i, struct(i).dataType), struct(i).dataType)
    override def copy(): Row =
      Row.fromSeq((0 until length).map(get))
  }

  private[graft] def externalize(v: Any, dt: DataType): Any = dt match {
    case StringType => v.asInstanceOf[UTF8String].toString
    case DateType =>
      java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
    case TimestampType =>
      val us = v.asInstanceOf[Long]
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    case TimestampNTZType =>
      val us = v.asInstanceOf[Long]
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal
    case st: StructType => externalView(v.asInstanceOf[InternalRow], st)
    case _ => v // primitives, binary; containers stay internal (see doc)
  }
}
