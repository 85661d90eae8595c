package graft.avro

import org.apache.avro.Schema
import org.apache.avro.Schema.Type
import org.apache.avro.io.{DatumWriter, Encoder}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Write-side mirror of the vectorized decode tiers: a
  * `DatumWriter[InternalRow]` that encodes Catalyst internal rows
  * STRAIGHT into Avro's `Encoder`, skipping the per-row
  * InternalRow → external value → GenericRecord materialization the
  * [[AvroInternalCodec.encoderFor]] path pays (that conversion was the
  * single hottest allocation site of every graft-avro write).
  *
  * Planning happens once per (struct, writer schema): each field
  * resolves to a closure over [[SpecializedGetters]] so rows and array
  * elements share value writers. The writer schema is always the one
  * [[AvroSchemaConverter.toAvro]] derives from the SAME struct, so the
  * supported shapes are closed: primitives, string/enum, bytes/fixed,
  * decimal-as-bytes, date, (local) timestamp millis/micros, nested
  * records, arrays, string-keyed maps, nullable `[null, T]` unions and
  * tagged multi-branch unions. It is the only table encoder: a shape it
  * cannot plan throws when the writer is created, and a null in a
  * non-nullable field throws when the row is written. Value semantics
  * are pinned to [[AvroInternalCodec]] by DirectWriteSpec's row-by-row
  * byte comparison against a GenericDatumWriter reference.
  *
  * Maps: the generic path iterated a freshly-built `java.util.HashMap`,
  * so map ENTRY ORDER in the container bytes was hash order; here it is
  * the Catalyst `MapData` order. Avro maps are unordered — readers (and
  * every oracle) see identical contents.
  */
object AvroDirectDatumWriter {

  /** Plans the writer for `struct` encoded as `avro`; throws on a shape
    * it cannot plan.
    */
  def apply(struct: StructType, avro: Schema): DatumWriter[InternalRow] =
    new DirectRowWriter(struct, avro)

  /** (getters, ordinal, encoder) → emit the value at `ordinal`. */
  private type VW = (SpecializedGetters, Int, Encoder) => Unit

  private final class DirectRowWriter(struct: StructType, avro: Schema)
      extends DatumWriter[InternalRow] {
    private val writers: Array[VW] = recordWriters(struct, avro)
    override def setSchema(s: Schema): Unit = ()
    override def write(r: InternalRow, out: Encoder): Unit = {
      var i = 0
      while (i < writers.length) { writers(i)(r, i, out); i += 1 }
    }
  }

  /** Per-field writers in AVRO field order (binary format order),
    * mapped to struct ordinals by name. The two orders coincide for
    * toAvro-derived schemas, but the closure bakes the struct ordinal
    * in so a permuted foreign schema would still encode correctly.
    */
  private def recordWriters(struct: StructType, avro0: Schema): Array[VW] = {
    val rec =
      if (avro0.getType == Type.UNION) AvroSchemaConverter.fromUnion(avro0)._1
      else avro0
    require(rec.getType == Type.RECORD, s"not a record: $rec")
    rec.getFields.asScala.toArray.map { af =>
      val si = struct.fieldIndex(af.name) // throws on a missing field
      val vw = valueWriter(struct.fields(si).dataType, af.schema())
      // rebase the planned ordinal: record writers receive the record's
      // own getters, so the closure must read the STRUCT ordinal
      ((r: SpecializedGetters, _: Int, out: Encoder) => vw(r, si, out)): VW
    }
  }

  /** Fixed-width getters read a null slot as 0/false; a null in a
    * non-nullable field must fail instead of encoding a value.
    */
  private def present(r: SpecializedGetters, i: Int): SpecializedGetters =
    if (r.isNullAt(i)) throw new NullPointerException(
      s"null value at ordinal $i of a non-nullable Avro field")
    else r

  private def valueWriter(dt: DataType, schema0: Schema): VW = {
    if (schema0.getType == Type.UNION) return unionWriter(dt, schema0)
    (dt, schema0.getType) match {
      case (BooleanType, Type.BOOLEAN) =>
        (r, i, out) => out.writeBoolean(present(r, i).getBoolean(i))
      case (IntegerType, Type.INT) =>
        (r, i, out) => out.writeInt(present(r, i).getInt(i))
      case (DateType, Type.INT) => // both are days since epoch
        (r, i, out) => out.writeInt(present(r, i).getInt(i))
      case (LongType, Type.LONG) =>
        (r, i, out) => out.writeLong(present(r, i).getLong(i))
      case (TimestampType | TimestampNTZType, Type.LONG) =>
        schema0.getLogicalType match {
          case _: org.apache.avro.LogicalTypes.TimestampMillis |
               _: org.apache.avro.LogicalTypes.LocalTimestampMillis =>
            (r, i, out) =>
              out.writeLong(Math.floorDiv(present(r, i).getLong(i), 1000L))
          case _ => // (local-)timestamp-micros IS the internal form
            (r, i, out) => out.writeLong(present(r, i).getLong(i))
        }
      case (FloatType, Type.FLOAT) =>
        (r, i, out) => out.writeFloat(present(r, i).getFloat(i))
      case (DoubleType, Type.DOUBLE) =>
        (r, i, out) => out.writeDouble(present(r, i).getDouble(i))
      case (StringType, Type.STRING) =>
        // UTF8String already holds UTF-8 bytes: wrap, never transcode
        // through java.lang.String (the old path's toString + re-encode)
        (r, i, out) => out.writeString(new Utf8(r.getUTF8String(i).getBytes))
      case (StringType, Type.ENUM) =>
        (r, i, out) =>
          out.writeEnum(schema0.getEnumOrdinal(r.getUTF8String(i).toString))
      case (BinaryType, Type.BYTES) =>
        (r, i, out) => {
          val b = r.getBinary(i)
          out.writeBytes(b, 0, b.length)
        }
      case (BinaryType, Type.FIXED) =>
        (r, i, out) => out.writeFixed(r.getBinary(i))
      case (d: DecimalType, Type.BYTES) =>
        (r, i, out) => {
          val bytes = r.getDecimal(i, d.precision, d.scale)
            .toJavaBigDecimal.setScale(d.scale).unscaledValue().toByteArray
          out.writeBytes(bytes, 0, bytes.length)
        }
      case (NullType, Type.NULL) =>
        (_, _, out) => out.writeNull()
      case (st: StructType, Type.RECORD) =>
        val fws = recordWriters(st, schema0)
        val n = st.length
        (r, i, out) => {
          val row = r.getStruct(i, n)
          var f = 0
          while (f < fws.length) { fws(f)(row, f, out); f += 1 }
        }
      case (ArrayType(et, _), Type.ARRAY) =>
        val ew = valueWriter(et, schema0.getElementType)
        (r, i, out) => {
          val a = r.getArray(i)
          val n = a.numElements()
          out.writeArrayStart()
          out.setItemCount(n.toLong)
          var j = 0
          while (j < n) { out.startItem(); ew(a, j, out); j += 1 }
          out.writeArrayEnd()
        }
      case (MapType(StringType, vt, _), Type.MAP) =>
        val vw = valueWriter(vt, schema0.getValueType)
        (r, i, out) => {
          val m = r.getMap(i)
          val ks = m.keyArray()
          val vs = m.valueArray()
          val n = m.numElements()
          out.writeMapStart()
          out.setItemCount(n.toLong)
          var j = 0
          while (j < n) {
            out.startItem()
            out.writeString(new Utf8(ks.getUTF8String(j).getBytes))
            vw(vs, j, out)
            j += 1
          }
          out.writeMapEnd()
        }
      case other =>
        throw new IllegalArgumentException(s"unplannable: $other")
    }
  }

  /** Union writer. `[null, T]`-style (one non-null branch): null check
    * + index + inner. Multi-branch: the Catalyst value is the tagged
    * carrier struct — resolve the union index from the tag, mirroring
    * [[AvroInternalCodec.outUnionConverter]] + GenericData.resolveUnion
    * (a null ACTIVE branch value resolves to the null branch).
    */
  private def unionWriter(dt: DataType, union: Schema): VW = {
    val types = union.getTypes.asScala.toArray
    val nullIdx = types.indexWhere(_.getType == Type.NULL)
    val nonNull = types.zipWithIndex.filter(_._1.getType != Type.NULL)
    if (nonNull.length == 1) {
      val (branch, valIdx) = nonNull.head
      val inner = valueWriter(dt, branch)
      require(nullIdx >= 0, s"single-branch union without null: $union")
      (r, i, out) =>
        if (r.isNullAt(i)) { out.writeIndex(nullIdx); out.writeNull() }
        else { out.writeIndex(valIdx); inner(r, i, out) }
    } else {
      val st = dt.asInstanceOf[StructType]
      val tagIdx = st.fieldIndex(AvroSchemaConverter.UnionTagField)
      val byTag: Map[String, (Int, Int, VW)] = nonNull.map { case (b, j) =>
        val name = AvroSchemaConverter.branchName(b)
        val fi = st.fieldIndex(name)
        name -> ((j, fi, valueWriter(st.fields(fi).dataType, b)))
      }.toMap
      val stLen = st.length
      (r, i, out) => {
        if (r.isNullAt(i)) {
          if (nullIdx < 0) throw new NullPointerException(
            s"null value for non-nullable union $union")
          out.writeIndex(nullIdx); out.writeNull()
        } else {
          val row = r.getStruct(i, stLen)
          val tag = row.getUTF8String(tagIdx).toString
          val (j, fi, w) = byTag.getOrElse(tag,
            throw new IllegalArgumentException(
              s"tag '$tag' names no branch of $union"))
          if (row.isNullAt(fi)) {
            if (nullIdx < 0) throw new NullPointerException(
              s"null branch value for non-nullable union $union")
            out.writeIndex(nullIdx); out.writeNull()
          } else { out.writeIndex(j); w(row, fi, out) }
        }
      }
    }
  }
}
