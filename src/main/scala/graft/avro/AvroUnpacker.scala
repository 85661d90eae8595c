package graft.avro

import java.math.BigInteger
import java.nio.ByteBuffer
import java.time.{Instant, LocalDate, LocalTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.Schema.Type
import org.apache.avro.generic.{GenericFixed, IndexedRecord}

import scala.jdk.CollectionConverters._

/** Sink-side Avro → plain-Scala decoder (reference operator O17,
  * AvroUnpacker.scala:121-141): records → `Map[String, Any]`, arrays →
  * `Seq`, logical types → decimals / uuid strings / ISO-formatted
  * date-time strings, matching the reference's string-oriented decode
  * (AvroUnpacker.scala:30-33, 45-119). The reference declares
  * time-micros/timestamp-micros constants but has no match arm for them
  * (→ `scala.MatchError` at runtime, AvroUnpacker.scala:100-118); that
  * quirk is fixed here — micros decode properly.
  */
object AvroUnpacker {

  private val tsMillisFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  private val tsMicrosFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").withZone(ZoneOffset.UTC)
  private val timeMillisFmt = DateTimeFormatter.ofPattern("HH:mm:ss.SSS'Z'")
  private val timeMicrosFmt = DateTimeFormatter.ofPattern("HH:mm:ss.SSSSSS'Z'")

  def apply(value: Any, schema0: Schema): Any = {
    if (value == null) return null
    val schema =
      if (AvroSchemaConverter.isCarrier(schema0)) {
        // multi-branch union → tagged map, mirroring the converter's
        // tagged-struct mapping (the reference rejects these unions)
        val idx = org.apache.avro.generic.GenericData.get()
          .resolveUnion(schema0, value)
        val active = schema0.getTypes.get(idx)
        val name = AvroSchemaConverter.branchName(active)
        return Map("tag" -> name, name -> apply(value, active))
      } else AvroSchemaConverter.nonNull(schema0)
    schema.getType match {
      case Type.RECORD =>
        val rec = value.asInstanceOf[IndexedRecord]
        rec.getSchema.getFields.asScala.map { f =>
          f.name() -> apply(rec.get(f.pos()), f.schema())
        }.toMap
      case Type.ARRAY =>
        value.asInstanceOf[java.util.Collection[Any]].asScala.toSeq
          .map(apply(_, schema.getElementType))
      case Type.MAP =>
        value.asInstanceOf[java.util.Map[Any, Any]].asScala.map { case (k, v) =>
          k.toString -> apply(v, schema.getValueType)
        }.toMap
      case Type.ENUM => value.toString
      case Type.STRING => value.toString
      case Type.FIXED =>
        val bytes = value.asInstanceOf[GenericFixed].bytes().clone()
        Option(schema.getLogicalType) match {
          case Some(d: LogicalTypes.Decimal) =>
            new java.math.BigDecimal(new BigInteger(bytes), d.getScale)
          case _ => bytes
        }
      case Type.BYTES =>
        val bytes = bytesOf(value)
        Option(schema.getLogicalType) match {
          case Some(d: LogicalTypes.Decimal) =>
            new java.math.BigDecimal(new BigInteger(bytes), d.getScale)
          case Some(t) if t.getName == "uuid" =>
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          case _ => bytes
        }
      case Type.INT =>
        Option(schema.getLogicalType) match {
          case Some(_: LogicalTypes.Date) =>
            LocalDate.ofEpochDay(value.asInstanceOf[Int].toLong).toString
          case Some(_: LogicalTypes.TimeMillis) =>
            LocalTime.ofNanoOfDay(value.asInstanceOf[Int] * 1000000L)
              .format(timeMillisFmt)
          case _ => value
        }
      case Type.LONG =>
        Option(schema.getLogicalType) match {
          case Some(_: LogicalTypes.TimestampMillis) =>
            tsMillisFmt.format(Instant.ofEpochMilli(value.asInstanceOf[Long]))
          case Some(_: LogicalTypes.TimestampMicros) => // fixed quirk
            val us = value.asInstanceOf[Long]
            tsMicrosFmt.format(Instant.ofEpochSecond(
              Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
          case Some(_: LogicalTypes.TimeMicros) => // fixed quirk
            LocalTime.ofNanoOfDay(value.asInstanceOf[Long] * 1000L)
              .format(timeMicrosFmt)
          case _ => value
        }
      case _ => value // boolean / float / double / null
    }
  }

  private def bytesOf(v: Any): Array[Byte] = v match {
    case bb: ByteBuffer =>
      val d = bb.duplicate()
      val out = new Array[Byte](d.remaining())
      d.get(out)
      out
    case arr: Array[Byte] => arr
    case other => throw new IllegalArgumentException(s"not bytes: $other")
  }
}
