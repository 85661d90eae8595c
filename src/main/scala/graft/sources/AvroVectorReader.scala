package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.Schema.Type
import org.apache.avro.io.{DatumReader, Decoder, DecoderFactory, ResolvingDecoder}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._

/** Vectorized Avro decode: a [[DatumReader]] that appends each record's
  * fields STRAIGHT into [[WritableColumnVector]] slots off the block's
  * [[ResolvingDecoder]] — no GenericRecord, no boxed field values, no
  * intermediate InternalRow. This is the per-core decode lever: the row
  * path allocates a GenericRecord + one object per field per record and
  * then copies again; this path is readLong→putLong.
  *
  * Schema resolution rides Avro's own resolver exactly like
  * GenericDatumReader: writer-extra fields skip via the grammar,
  * reader-synthesized fields (schema drift / ADD COLUMN) serve their
  * embedded defaults, and numeric promotions surface as direct
  * readLong/readDouble calls. `readFieldOrder` hands reader fields in
  * writer order; each maps to its vector by reader position.
  *
  * Value semantics mirror [[graft.avro.AvroInternalCodec]]: date ints
  * and timestamp micros pass through (Avro's logical representations
  * ARE Catalyst's), timestamp-millis scale with multiplyExact, enum
  * symbols become their UTF-8 bytes.
  *
  * Scope (enforced by `AvroReaderFactory.supportColumnarReads`):
  * primitive-leaf/container/nested-record projections; multi-branch
  * union columns stay on rows. Column-RENAME views vectorize — the
  * alias is name indirection, not a type change (tier 1 translates
  * writer names through the reader-field aliases, tier 2's resolver
  * applies them natively); only the re-added-historical-name case
  * (shadow fields) keeps the row path.
  */
private[sources] final class VectorAvroDatumReader(
    readerSchema: Schema, struct: StructType) extends DatumReader[AnyRef] {

  private var writer: Schema = _
  private var resolver: ResolvingDecoder = _
  // direct plan over the WRITER schema (null = use the resolver path)
  private var direct: Array[(Decoder, Array[WritableColumnVector], Int) => Unit] = _

  // per-record target, set by the partition reader before each next()
  private var vectors: Array[WritableColumnVector] = _
  private var rowId: Int = 0
  def target(vs: Array[WritableColumnVector]): Unit = vectors = vs
  def row(i: Int): Unit = rowId = i
  /** Visible for tests: true when the parser-free fast path planned. */
  private[sources] def isDirect: Boolean = direct != null

  override def setSchema(s: Schema): Unit = {
    writer = s; resolver = null
    direct = DirectVectorPlan.build(s, readerSchema, struct)
  }

  private type Append = (ResolvingDecoder, WritableColumnVector, Int) => Unit

  /** One appender per READER field. The first `struct.fields.length`
    * reader fields map 1:1 onto the catalyst struct (resolveReader
    * builds them from it in order); any fields past that are SHADOW
    * fields (a renamed-away writer field captured under a throwaway
    * alias so it cannot resolve into a re-added same-named column) —
    * they consume-and-discard, no vector involved.
    */
  private val appenders: Array[Append] = {
    val rfs = readerSchema.getFields.asScala.toArray
    rfs.zipWithIndex.map { case (rf, pos) =>
      if (pos < struct.fields.length) {
        val sf = struct.fields(pos)
        require(rf.name == sf.name,
          s"Avro reader field '${rf.name}' != struct field '${sf.name}'")
        fieldAppender(rf.schema(), sf.dataType)
      } else {
        val sk = DirectVectorPlan.skipStep(rf.schema())
        require(sk != null,
          s"Avro shadow field '${rf.name}' is not skippable: ${rf.schema}")
        (in, _, i) => sk(in, null, i)
      }
    }
  }

  private def fieldAppender(s: Schema, dt: DataType): Append =
    if (s.getType == Type.UNION &&
        graft.avro.AvroSchemaConverter.unionBranches(s)._1.length >= 2) {
      // TAGGED multi-branch union → struct {tag, <branch>…}: the union
      // index picks the branch straight off the wire (no resolveUnion
      // object dispatch); every child slot is written each row (tag +
      // active branch value, the rest null) so the dead-row scrub
      // protocol stays sound. Nested pruning may drop the tag itself (a
      // branch-only read): then only the branch children are written.
      val st = dt.asInstanceOf[StructType]
      val types = s.getTypes.asScala.toArray
      val nullIdx = types.indexWhere(_.getType == Type.NULL)
      val tagIdx = st.fieldNames.indexOf(graft.avro.AvroSchemaConverter.UnionTagField)
      val nChildren = st.fields.length
      val branches: Array[(Int, Array[Byte], Append)] = types.map {
        case n if n.getType == Type.NULL => null
        case b =>
          val name = graft.avro.AvroSchemaConverter.branchName(b)
          // nested pruning may keep only a SUBSET of branch fields (a
          // tag-only projection): a pruned-away branch still tags the
          // row; its wire value is consumed-and-discarded (skipStep
          // runs on a ResolvingDecoder — the shadow-field precedent)
          val fi = st.fieldNames.indexOf(name)
          if (fi < 0) {
            val sk = DirectVectorPlan.skipStep(b)
            require(sk != null,
              s"union branch '$name' pruned away but not skippable: $b")
            (-1, name.getBytes(StandardCharsets.UTF_8),
              (in: ResolvingDecoder, _: WritableColumnVector, i: Int) =>
                sk(in, null, i))
          } else
            (fi, name.getBytes(StandardCharsets.UTF_8),
              fieldAppender(b, st.fields(fi).dataType))
      }
      (in, v, i) => {
        val bi = in.readIndex()
        if (bi == nullIdx) { in.readNull(); v.putNull(i) }
        else {
          val (fi, tag, app) = branches(bi)
          v.putNotNull(i)
          var c = 0
          while (c < nChildren) {
            if (c != fi && c != tagIdx) v.getChild(c).putNull(i)
            c += 1
          }
          if (tagIdx >= 0) v.getChild(tagIdx).putByteArray(i, tag, 0, tag.length)
          app(in, if (fi < 0) null else v.getChild(fi), i)
          ()
        }
      }
    } else if (s.getType == Type.UNION) {
      val types = s.getTypes.asScala.toArray
      val nullIdx = types.indexWhere(_.getType == Type.NULL)
      val branches: Array[Append] = types.map {
        case n if n.getType == Type.NULL => null
        case t => valueAppender(t, dt)
      }
      (in, v, i) => {
        val b = in.readIndex()
        if (b == nullIdx) { in.readNull(); v.putNull(i) }
        else branches(b)(in, v, i)
      }
    } else valueAppender(s, dt)

  private def valueAppender(s: Schema, dt: DataType): Append =
    (s.getType, dt) match {
      case (Type.STRING, StringType) =>
        // scratch Utf8: the backing buffer is reused across records and
        // putByteArray copies out of it immediately
        val scratch = new Utf8()
        (in, v, i) => {
          val u = in.readString(scratch)
          v.putByteArray(i, u.getBytes, 0, u.getByteLength); ()
        }
      case (Type.ENUM, StringType) =>
        val syms = s.getEnumSymbols.asScala
          .map(_.getBytes(StandardCharsets.UTF_8)).toArray
        (in, v, i) => {
          val b = syms(in.readEnum())
          v.putByteArray(i, b, 0, b.length); ()
        }
      case (Type.BYTES, BinaryType) =>
        var scratch: java.nio.ByteBuffer = null
        (in, v, i) => {
          scratch = in.readBytes(scratch)
          if (scratch.hasArray)
            v.putByteArray(i, scratch.array(),
              scratch.arrayOffset() + scratch.position(), scratch.remaining())
          else {
            val tmp = new Array[Byte](scratch.remaining())
            scratch.duplicate().get(tmp)
            v.putByteArray(i, tmp, 0, tmp.length)
          }
          ()
        }
      case (Type.FIXED, BinaryType) =>
        val size = s.getFixedSize
        val tmp = new Array[Byte](size)
        (in, v, i) => { in.readFixed(tmp, 0, size); v.putByteArray(i, tmp, 0, size); () }
      case (Type.BOOLEAN, BooleanType) =>
        (in, v, i) => v.putBoolean(i, in.readBoolean())
      case (Type.INT, ByteType) =>
        (in, v, i) => v.putByte(i, in.readInt().toByte)
      case (Type.INT, ShortType) =>
        (in, v, i) => v.putShort(i, in.readInt().toShort)
      case (Type.INT, IntegerType | DateType) =>
        (in, v, i) => v.putInt(i, in.readInt())
      case (Type.INT, LongType) =>
        // widen-evo contract: resolveReader keeps the writer's NARROW
        // schema for present fields, so the resolver grammar holds an
        // INT terminal — the promotion happens HERE, never via
        // readLong (which would throw AvroTypeException mid-grammar)
        (in, v, i) => v.putLong(i, in.readInt().toLong)
      case (Type.LONG, LongType) =>
        (in, v, i) => v.putLong(i, in.readLong())
      case (Type.LONG, TimestampType | TimestampNTZType) =>
        s.getLogicalType match {
          case _: org.apache.avro.LogicalTypes.TimestampMillis |
               _: org.apache.avro.LogicalTypes.LocalTimestampMillis =>
            (in, v, i) =>
              v.putLong(i, Math.multiplyExact(in.readLong(), 1000L))
          case _ => // (local-)timestamp-micros IS the internal form
            (in, v, i) => v.putLong(i, in.readLong())
        }
      case (Type.FLOAT, FloatType) =>
        (in, v, i) => v.putFloat(i, in.readFloat())
      // same narrow-terminal rule for the double promotions: read the
      // reader field's ACTUAL width, widen in Scala
      case (Type.INT, DoubleType) =>
        (in, v, i) => v.putDouble(i, in.readInt().toDouble)
      case (Type.LONG, DoubleType) =>
        (in, v, i) => v.putDouble(i, in.readLong().toDouble)
      case (Type.FLOAT, DoubleType) =>
        (in, v, i) => v.putDouble(i, in.readFloat().toDouble)
      case (Type.DOUBLE, DoubleType) =>
        (in, v, i) => v.putDouble(i, in.readDouble())
      // decimals: unscaled big-endian two's-complement bytes; the
      // CATALYST field's (precision, scale) governs, mirroring
      // AvroInternalCodec's row decode exactly
      case (Type.BYTES, d: DecimalType) =>
        var scratch: java.nio.ByteBuffer = null
        (in, v, i) => {
          scratch = in.readBytes(scratch)
          val arr = new Array[Byte](scratch.remaining())
          scratch.duplicate().get(arr)
          v.putDecimal(i, org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(new java.math.BigInteger(arr),
              d.scale), d.precision, d.scale), d.precision)
        }
      case (Type.FIXED, d: DecimalType) =>
        val size = s.getFixedSize
        val tmp = new Array[Byte](size)
        (in, v, i) => {
          in.readFixed(tmp, 0, size)
          v.putDecimal(i, org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(new java.math.BigInteger(tmp),
              d.scale), d.precision, d.scale), d.precision)
        }
      // arrays of primitives: append elements to the child vector, put
      // the slice; element promotions follow the narrow-terminal rule
      case (Type.ARRAY, ArrayType(et, _)) =>
        val elem = DirectVectorPlan.elemAppender(s.getElementType, et)
        if (elem == null) throw new IllegalStateException(
          s"graft-avro: array element ${s.getElementType} -> $et is not " +
            "vectorizable (factory check should have fallen back)")
        val app = DirectVectorPlan.arrayAppender(elem)
        (in, v, i) => app(in, v, i)
      // string-keyed maps of primitive values: keys/values children in
      // lockstep, one shared (start, length) slice on the parent
      case (Type.MAP, MapType(StringType, vt, _)) =>
        val valApp = DirectVectorPlan.elemAppender(s.getValueType, vt)
        if (valApp == null) throw new IllegalStateException(
          s"graft-avro: map value ${s.getValueType} -> $vt is not " +
            "vectorizable (factory check should have fallen back)")
        val app = DirectVectorPlan.mapAppender(valApp)
        (in, v, i) => app(in, v, i)
      // nested records: the resolver hands THIS level's reader fields
      // in writer order too (readFieldOrder is per-record in the
      // grammar), so nested drift resolves exactly like the top level
      case (Type.RECORD, st: StructType) =>
        val fieldApps: Array[Append] = st.fields.map { sf =>
          val f = s.getField(sf.name)
          require(f != null,
            s"Avro nested reader schema has no field '${sf.name}'")
          fieldAppender(f.schema(), sf.dataType)
        }
        (in, v, i) => {
          val order = in.readFieldOrder()
          var k = 0
          while (k < order.length) {
            val pos = order(k).pos()
            fieldApps(pos)(in, v.getChild(pos), i)
            k += 1
          }
        }
      case other => throw new IllegalStateException(
        s"graft-avro: field shape $other is not vectorizable (factory " +
          "support check should have fallen back to the row path)")
    }

  override def read(reuse: AnyRef, in: Decoder): AnyRef = {
    if (direct != null) {
      // parser-free: raw varint/byte reads in writer field order, with
      // hand-rolled skips for unprojected fields
      var k = 0
      while (k < direct.length) { direct(k)(in, vectors, rowId); k += 1 }
      return null
    }
    if (resolver == null)
      resolver = DecoderFactory.get().resolvingDecoder(
        Schema.applyAliases(writer, readerSchema), readerSchema, null)
    resolver.configure(in)
    val order = resolver.readFieldOrder()
    var k = 0
    while (k < order.length) {
      val pos = order(k).pos()
      // shadow fields sit past the vector array — their appenders are
      // pure discards and never touch the (null) vector argument
      appenders(pos)(resolver,
        if (pos < vectors.length) vectors(pos) else null, rowId)
      k += 1
    }
    resolver.drain()
    null
  }
}

/** Planner for the parser-free decode path: walks the WRITER record
  * once and compiles one step per writer field — append-to-vector for
  * projected fields, a type-driven skip for the rest — plus trailing
  * putNull steps for reader-synthesized (drifted) columns. Every
  * primitive lands as a raw [[Decoder]] call (readLong/readDouble/...)
  * with none of the ResolvingDecoder grammar machine's per-read symbol
  * processing, which profiling shows dominates Avro decode cost.
  *
  * Returns null when the shape needs real resolution — a non-null
  * declared default (ALTER TABLE ADD COLUMN DEFAULT serves the literal
  * via the resolver's embedded-default grammar), or any writer/reader
  * pairing outside the supported promotions — and the caller keeps the
  * ResolvingDecoder path.
  */
private[sources] object DirectVectorPlan {

  private type Step = (Decoder, Array[WritableColumnVector], Int) => Unit

  def build(writer0: Schema, readerSchema: Schema, struct: StructType)
      : Array[Step] = {
    // A top-level UNION writer would need a per-record readIndex step
    // the compiled plan doesn't have — unwrapping to a branch here
    // would silently misparse the stream. Fall back to the resolver
    // path (currently unreachable: resolveFor rejects non-record
    // writers first, but keep the trap closed).
    if (writer0.getType != Type.RECORD) return null
    val writer = writer0
    val colOf: Map[String, Int] =
      struct.fieldNames.zipWithIndex.toMap
    // Column-rename views: resolveReader attaches the file's HISTORICAL
    // name to the current-named reader field as an alias — translate
    // writer names through that map so a pre-rename file's field feeds
    // the current column. A shadow field's alias translates to the
    // shadow name (not in colOf), so a renamed-away writer field never
    // feeds a same-named re-added column here either.
    val aliasOf: Map[String, String] = readerSchema.getFields.asScala
      .flatMap(rf => rf.aliases().asScala.map(a => a -> rf.name())).toMap
    def curName(n: String): String = aliasOf.getOrElse(n, n)
    val steps = Vector.newBuilder[Step]
    for (wf <- writer.getFields.asScala) {
      colOf.get(curName(wf.name)) match {
        case Some(idx) =>
          val step = appendStep(wf.schema(), struct(idx).dataType, idx)
          if (step == null) return null
          steps += step
        case None =>
          val skip = skipStep(wf.schema())
          if (skip == null) return null
          steps += skip
      }
    }
    // reader columns the writer lacks (schema drift): constant null,
    // unless a non-null declared default exists — that needs the
    // resolver's embedded-default machinery. Presence is judged on
    // TRANSLATED names: a renamed-away writer field does not make the
    // re-added current column "present".
    val present = writer.getFields.asScala.map(f => curName(f.name)).toSet
    for ((sf, idx) <- struct.fields.zipWithIndex if !present(sf.name)) {
      val rf = readerSchema.getField(sf.name)
      if (rf == null) return null
      val d = rf.defaultVal()
      if (d != null && d != org.apache.avro.JsonProperties.NULL_VALUE)
        return null
      steps += ((_, vs, i) => vs(idx).putNull(i))
    }
    steps.result().toArray
  }

  /** Append one writer-typed value into vector `idx`, or null when the
    * (writer, catalyst) pairing is outside the direct repertoire.
    */
  private def appendStep(ws: Schema, dt: DataType, idx: Int): Step = {
    val f = appendInto(ws, dt)
    if (f == null) null else (in, vs, i) => f(in, vs(idx), i)
  }

  /** Append one (possibly nullable-union-wrapped) writer value into an
    * EXPLICIT target vector — the building block nested records use.
    * Null = unsupported shape.
    */
  private def appendInto(ws: Schema, dt: DataType)
      : (Decoder, WritableColumnVector, Int) => Unit =
    if (ws.getType == Type.UNION &&
        graft.avro.AvroSchemaConverter.unionBranches(ws)._1.length >= 2) {
      // TAGGED multi-branch union → struct {tag, <branch>…}: the wire
      // index picks the branch; every child slot writes each row. Bail
      // (null) on any shape surprise — the resolver tier handles it.
      dt match {
        case st: StructType
            if st.fieldNames.contains(
              graft.avro.AvroSchemaConverter.UnionTagField) =>
          val types = ws.getTypes.asScala.toArray
          val nullIdx = types.indexWhere(_.getType == Type.NULL)
          val tagIdx = st.fieldIndex(
            graft.avro.AvroSchemaConverter.UnionTagField)
          val nChildren = st.fields.length
          val branches: Array[(Int, Array[Byte],
              (Decoder, WritableColumnVector, Int) => Unit)] = types.map {
            case n if n.getType == Type.NULL => null
            case b =>
              val name = graft.avro.AvroSchemaConverter.branchName(b)
              val fi = st.fieldNames.indexOf(name)
              if (fi < 0) return null
              val app = appendInto(b, st.fields(fi).dataType)
              if (app == null) return null
              (fi, name.getBytes(StandardCharsets.UTF_8), app)
          }
          (in, v, i) => {
            val bi = in.readIndex()
            if (bi == nullIdx) { in.readNull(); v.putNull(i) }
            else {
              val (fi, tag, app) = branches(bi)
              v.putNotNull(i)
              var c = 0
              while (c < nChildren) {
                if (c != fi && c != tagIdx) v.getChild(c).putNull(i)
                c += 1
              }
              v.getChild(tagIdx).putByteArray(i, tag, 0, tag.length)
              app(in, v.getChild(fi), i)
              ()
            }
          }
        case _ => null
      }
    } else if (ws.getType == Type.UNION) {
      val types = ws.getTypes.asScala.toArray
      val nullIdx = types.indexWhere(_.getType == Type.NULL)
      val branches = types.map {
        case n if n.getType == Type.NULL => null
        case t => valueInto(t, dt)
      }
      if (branches.zipWithIndex.exists { case (b, i) =>
          b == null && i != nullIdx }) null
      else (in, v, i) => {
        val b = in.readIndex()
        if (b == nullIdx) { in.readNull(); v.putNull(i) }
        else branches(b)(in, v, i)
      }
    } else valueInto(ws, dt)

  private def valueInto(ws: Schema, dt: DataType)
      : (Decoder, WritableColumnVector, Int) => Unit =
    (ws.getType, dt) match {
      case (Type.STRING, StringType) =>
        val scratch = new Utf8()
        (in, v, i) => {
          val u = in.readString(scratch)
          v.putByteArray(i, u.getBytes, 0, u.getByteLength); ()
        }
      case (Type.ENUM, StringType) =>
        val syms = ws.getEnumSymbols.asScala
          .map(_.getBytes(StandardCharsets.UTF_8)).toArray
        (in, v, i) => {
          val b = syms(in.readEnum())
          v.putByteArray(i, b, 0, b.length); ()
        }
      case (Type.BYTES, BinaryType) =>
        var scratch: java.nio.ByteBuffer = null
        (in, v, i) => {
          scratch = in.readBytes(scratch)
          if (scratch.hasArray)
            v.putByteArray(i, scratch.array(),
              scratch.arrayOffset() + scratch.position(), scratch.remaining())
          else {
            val tmp = new Array[Byte](scratch.remaining())
            scratch.duplicate().get(tmp)
            v.putByteArray(i, tmp, 0, tmp.length)
          }
          ()
        }
      case (Type.FIXED, BinaryType) =>
        val size = ws.getFixedSize
        val tmp = new Array[Byte](size)
        (in, v, i) => {
          in.readFixed(tmp, 0, size); v.putByteArray(i, tmp, 0, size); ()
        }
      case (Type.BOOLEAN, BooleanType) =>
        (in, v, i) => v.putBoolean(i, in.readBoolean())
      case (Type.INT, ByteType) =>
        (in, v, i) => v.putByte(i, in.readInt().toByte)
      case (Type.INT, ShortType) =>
        (in, v, i) => v.putShort(i, in.readInt().toShort)
      case (Type.INT, IntegerType | DateType) =>
        (in, v, i) => v.putInt(i, in.readInt())
      case (Type.INT, LongType) => // int→long promotion, done inline
        (in, v, i) => v.putLong(i, in.readInt().toLong)
      case (Type.LONG, LongType) =>
        (in, v, i) => v.putLong(i, in.readLong())
      case (Type.LONG, TimestampType | TimestampNTZType) =>
        ws.getLogicalType match {
          case _: org.apache.avro.LogicalTypes.TimestampMillis |
               _: org.apache.avro.LogicalTypes.LocalTimestampMillis =>
            (in, v, i) =>
              v.putLong(i, Math.multiplyExact(in.readLong(), 1000L))
          case _ =>
            (in, v, i) => v.putLong(i, in.readLong())
        }
      case (Type.FLOAT, FloatType) =>
        (in, v, i) => v.putFloat(i, in.readFloat())
      case (Type.INT, DoubleType) =>
        (in, v, i) => v.putDouble(i, in.readInt().toDouble)
      case (Type.LONG, DoubleType) =>
        (in, v, i) => v.putDouble(i, in.readLong().toDouble)
      case (Type.FLOAT, DoubleType) =>
        (in, v, i) => v.putDouble(i, in.readFloat().toDouble)
      case (Type.DOUBLE, DoubleType) =>
        (in, v, i) => v.putDouble(i, in.readDouble())
      case (Type.BYTES, d: DecimalType) =>
        var scratch: java.nio.ByteBuffer = null
        (in, v, i) => {
          scratch = in.readBytes(scratch)
          val arr = new Array[Byte](scratch.remaining())
          scratch.duplicate().get(arr)
          v.putDecimal(i, org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(new java.math.BigInteger(arr),
              d.scale), d.precision, d.scale), d.precision)
        }
      case (Type.FIXED, d: DecimalType) =>
        val size = ws.getFixedSize
        val tmp = new Array[Byte](size)
        (in, v, i) => {
          in.readFixed(tmp, 0, size)
          v.putDecimal(i, org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(new java.math.BigInteger(tmp),
              d.scale), d.precision, d.scale), d.precision)
        }
      case (Type.ARRAY, ArrayType(et, _)) =>
        val elem = elemAppender(ws.getElementType, et)
        if (elem == null) null
        else arrayAppender(elem)
      case (Type.MAP, MapType(StringType, vt, _)) =>
        val valApp = elemAppender(ws.getValueType, vt)
        if (valApp == null) null
        else mapAppender(valApp)
      // nested records, direct tier: the WRITER's field order drives;
      // writer-extra fields skip, and a catalyst field the writer lacks
      // needs the resolver's default machinery — bail to that path
      case (Type.RECORD, st: StructType) =>
        val colOf = st.fieldNames.zipWithIndex.toMap
        val present = ws.getFields.asScala.map(_.name).toSet
        if (st.fields.exists(f => !present(f.name))) null
        else {
          val steps = ws.getFields.asScala.map { wf =>
            colOf.get(wf.name) match {
              case Some(k) =>
                val f = appendInto(wf.schema(), st(k).dataType)
                if (f == null) return null
                (in: Decoder, v: WritableColumnVector, i: Int) =>
                  f(in, v.getChild(k), i)
              case None =>
                val sk = skipStep(wf.schema())
                if (sk == null) return null
                (in: Decoder, v: WritableColumnVector, i: Int) =>
                  sk(in, null, i)
            }
          }.toArray
          (in, v, i) => {
            var k = 0
            while (k < steps.length) { steps(k)(in, v, i); k += 1 }
          }
        }
      case _ => null
    }

  /** Append one array element to a CHILD vector (append-style: the
    * child's elementsAppended cursor advances; the parent records the
    * (start, length) slice via putArray). Shared by both decode tiers —
    * the resolver's ResolvingDecoder IS a Decoder, and the narrow-
    * terminal promotion rule applies to elements the same way it does
    * to scalar fields. Null = unsupported element shape (nested
    * containers, decimals) → the whole column falls back to rows.
    */
  private[sources] def elemAppender(s: Schema, dt: DataType)
      : (Decoder, WritableColumnVector) => Unit =
    if (s.getType == Type.UNION) {
      val types = s.getTypes.asScala.toArray
      val nullIdx = types.indexWhere(_.getType == Type.NULL)
      val branches = types.map {
        case n if n.getType == Type.NULL => null
        case t => elemValue(t, dt)
      }
      if (branches.zipWithIndex.exists { case (b, i) =>
          b == null && i != nullIdx }) null
      else (in, child) => {
        val b = in.readIndex()
        if (b == nullIdx) { in.readNull(); child.appendNull(); () }
        else branches(b)(in, child)
      }
    } else elemValue(s, dt)

  private def elemValue(s: Schema, dt: DataType)
      : (Decoder, WritableColumnVector) => Unit =
    (s.getType, dt) match {
      case (Type.STRING, StringType) =>
        val scratch = new Utf8()
        (in, child) => {
          val u = in.readString(scratch)
          child.appendByteArray(u.getBytes, 0, u.getByteLength); ()
        }
      case (Type.ENUM, StringType) =>
        val syms = s.getEnumSymbols.asScala
          .map(_.getBytes(StandardCharsets.UTF_8)).toArray
        (in, child) => {
          val b = syms(in.readEnum())
          child.appendByteArray(b, 0, b.length); ()
        }
      case (Type.BYTES, BinaryType) =>
        var scratch: java.nio.ByteBuffer = null
        (in, child) => {
          scratch = in.readBytes(scratch)
          val tmp = new Array[Byte](scratch.remaining())
          scratch.duplicate().get(tmp)
          child.appendByteArray(tmp, 0, tmp.length); ()
        }
      case (Type.FIXED, BinaryType) =>
        val size = s.getFixedSize
        val tmp = new Array[Byte](size)
        (in, child) => {
          in.readFixed(tmp, 0, size)
          child.appendByteArray(tmp, 0, size); ()
        }
      case (Type.BOOLEAN, BooleanType) =>
        (in, child) => { child.appendBoolean(in.readBoolean()); () }
      case (Type.INT, ByteType) =>
        (in, child) => { child.appendByte(in.readInt().toByte); () }
      case (Type.INT, ShortType) =>
        (in, child) => { child.appendShort(in.readInt().toShort); () }
      case (Type.INT, IntegerType | DateType) =>
        (in, child) => { child.appendInt(in.readInt()); () }
      case (Type.INT, LongType) => // narrow-terminal promotion rule
        (in, child) => { child.appendLong(in.readInt().toLong); () }
      case (Type.LONG, LongType) =>
        (in, child) => { child.appendLong(in.readLong()); () }
      case (Type.LONG, TimestampType | TimestampNTZType) =>
        s.getLogicalType match {
          case _: org.apache.avro.LogicalTypes.TimestampMillis |
               _: org.apache.avro.LogicalTypes.LocalTimestampMillis =>
            (in, child) => {
              child.appendLong(Math.multiplyExact(in.readLong(), 1000L)); ()
            }
          case _ =>
            (in, child) => { child.appendLong(in.readLong()); () }
        }
      case (Type.FLOAT, FloatType) =>
        (in, child) => { child.appendFloat(in.readFloat()); () }
      case (Type.INT, DoubleType) =>
        (in, child) => { child.appendDouble(in.readInt().toDouble); () }
      case (Type.LONG, DoubleType) =>
        (in, child) => { child.appendDouble(in.readLong().toDouble); () }
      case (Type.FLOAT, DoubleType) =>
        (in, child) => { child.appendDouble(in.readFloat().toDouble); () }
      case (Type.DOUBLE, DoubleType) =>
        (in, child) => { child.appendDouble(in.readDouble()); () }
      case _ => null
    }

  /** Decode one whole array into the parent vector's child, recording
    * the (start, length) slice at row `i`. A dead-row re-decode simply
    * records a fresh slice; orphaned child elements are harmless.
    */
  private[sources] def arrayAppender(
      elem: (Decoder, WritableColumnVector) => Unit)
      : (Decoder, WritableColumnVector, Int) => Unit =
    (in, v, i) => {
      val child = v.arrayData()
      val start = child.getElementsAppended
      var total = 0L
      var n = in.readArrayStart()
      while (n > 0) {
        var k = 0L
        while (k < n) { elem(in, child); k += 1 }
        total += n
        n = in.arrayNext()
      }
      v.putArray(i, start, total.toInt)
    }

  /** Decode one whole string-keyed map: keys and values append to the
    * two children in lockstep, the parent records one shared
    * (start, length) slice — the vectorized MapType layout.
    */
  private[sources] def mapAppender(
      valApp: (Decoder, WritableColumnVector) => Unit)
      : (Decoder, WritableColumnVector, Int) => Unit = {
    val scratch = new Utf8()
    (in, v, i) => {
      val keys = v.getChild(0)
      val vals = v.getChild(1)
      val start = keys.getElementsAppended
      var total = 0L
      var n = in.readMapStart()
      while (n > 0) {
        var k = 0L
        while (k < n) {
          val u = in.readString(scratch)
          keys.appendByteArray(u.getBytes, 0, u.getByteLength)
          valApp(in, vals)
          k += 1
        }
        total += n
        n = in.mapNext()
      }
      v.putArray(i, start, total.toInt)
    }
  }

  /** Consume-and-discard one writer-typed value (recursive for
    * containers; block-skips honor Avro's negative-count byte-length
    * fast path via skipArray/skipMap).
    */
  private[sources] def skipStep(ws: Schema): Step = ws.getType match {
    case Type.NULL => (in, _, _) => in.readNull()
    case Type.BOOLEAN => (in, _, _) => { in.readBoolean(); () }
    case Type.INT => (in, _, _) => { in.readInt(); () }
    case Type.LONG => (in, _, _) => { in.readLong(); () }
    case Type.FLOAT => (in, _, _) => { in.readFloat(); () }
    case Type.DOUBLE => (in, _, _) => { in.readDouble(); () }
    case Type.STRING => (in, _, _) => in.skipString()
    case Type.BYTES => (in, _, _) => in.skipBytes()
    case Type.FIXED =>
      val size = ws.getFixedSize
      (in, _, _) => in.skipFixed(size)
    case Type.ENUM => (in, _, _) => { in.readEnum(); () }
    case Type.UNION =>
      val branches = ws.getTypes.asScala.map(skipStep).toArray
      if (branches.exists(_ == null)) null
      else (in, vs, i) => branches(in.readIndex())(in, vs, i)
    case Type.RECORD =>
      val fields = ws.getFields.asScala.map(f => skipStep(f.schema())).toArray
      if (fields.exists(_ == null)) null
      else (in, vs, i) => {
        var k = 0
        while (k < fields.length) { fields(k)(in, vs, i); k += 1 }
      }
    case Type.ARRAY =>
      val elem = skipStep(ws.getElementType)
      if (elem == null) null
      else (in, vs, i) => {
        var n = in.skipArray()
        while (n > 0) {
          var k = 0L
          while (k < n) { elem(in, vs, i); k += 1 }
          n = in.skipArray()
        }
      }
    case Type.MAP =>
      val value = skipStep(ws.getValueType)
      if (value == null) null
      else (in, vs, i) => {
        var n = in.skipMap()
        while (n > 0) {
          var k = 0L
          while (k < n) { in.skipString(); value(in, vs, i); k += 1 }
          n = in.skipMap()
        }
      }
    case _ => null
  }
}
