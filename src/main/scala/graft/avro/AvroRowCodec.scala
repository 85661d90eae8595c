package graft.avro

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericRecord, IndexedRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType

/** `GenericRecord` ⇄ external Spark `Row`, for callers that hold external
  * rows. The value rules are [[AvroInternalCodec]]'s; Catalyst's own
  * `CatalystTypeConverters` turn its internal rows into external ones
  * (`String`, `java.sql.Date`/`Timestamp`, `java.math.BigDecimal`, `Seq`,
  * `Map`, nested `Row`) and back. Each call plans its codec, so these are
  * for one-off conversions; per-record paths hold a planned codec.
  */
object AvroRowCodec {

  /** Avro record → external Spark Row conforming to `struct`. */
  def toRow(record: IndexedRecord, struct: StructType): Row =
    CatalystTypeConverters.createToScalaConverter(struct)(
      AvroInternalCodec.decoderFor(record.getSchema, struct)(record)).asInstanceOf[Row]

  /** External Spark Row → Avro record conforming to `avroSchema`. */
  def fromRow(row: Row, struct: StructType, avroSchema: Schema): GenericRecord =
    AvroInternalCodec.encoderFor(struct, avroSchema)(
      CatalystTypeConverters.createToCatalystConverter(struct)(row).asInstanceOf[InternalRow])
}
