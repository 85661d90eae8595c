package graft.avro

import org.apache.avro.{LogicalType, LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.Schema.Type
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Avro `Schema` ⇄ Spark `StructType` converter (SURVEY.md §7 L2).
  *
  * Type mapping follows the reference's supported-type table (SURVEY.md §1):
  * `[null,T]` / `[T,null]` / single-element unions unwrap to a nullable `T`
  * (reference: AvroSchemaSql.scala:40-47); any other union is rejected, as
  * the reference does. Logical types map to native Spark types where one
  * exists (decimal, date, timestamp-millis/micros); time-millis/micros and
  * uuid keep their carrier type plus metadata. The reference's
  * timestamp-micros `MatchError` (AvroUnpacker.scala:100-118 declares the
  * constants but has no match arm) is a quirk fixed here, not replicated.
  *
  * Avro names, namespaces, docs, aliases, defaults and object props have no
  * Spark equivalent (O15) — they ride in `StructField.metadata` under
  * `avro.*` keys and are restored by [[toAvro]], so a projection planned on
  * the StructType can still derive a faithful output Avro schema.
  */
object AvroSchemaConverter {

  private[avro] val MetaRecordName = "avro.record.name"
  private[avro] val MetaRecordNamespace = "avro.record.namespace"
  private[avro] val MetaRecordDoc = "avro.record.doc"
  private[avro] val MetaFieldDoc = "avro.field.doc"
  private[avro] val MetaAliases = "avro.field.aliases"
  private[avro] val MetaLogical = "avro.logicalType"
  private[avro] val MetaEnumName = "avro.enum.name"
  private[avro] val MetaEnumSymbols = "avro.enum.symbols"
  private[avro] val MetaFixedName = "avro.fixed.name"
  private[avro] val MetaFixedSize = "avro.fixed.size"
  private[graft] val MetaUnionBranches = "avro.union.branches"
  private[graft] val UnionTagField = "tag"

  /** Unwrap a union: `[null,T]`, `[T,null]`, `[T]` → (T, nullable).
    * Anything else throws, matching AvroSchemaSql.scala:40-47.
    */
  def fromUnion(u: Schema): (Schema, Boolean) = {
    val ts = u.getTypes.asScala.toSeq
    ts match {
      case Seq(one) => (one, false)
      case Seq(a, b) if a.getType == Type.NULL => (b, true)
      case Seq(a, b) if b.getType == Type.NULL => (a, true)
      case _ => throw new IllegalArgumentException(
        s"Unions are only supported as [null, T], [T, null] or single-type: $u")
    }
  }

  /** A union's non-null branches plus its nullability — the lenient
    * companion of [[fromUnion]] for the multi-branch extension.
    */
  private[graft] def unionBranches(u: Schema): (Seq[Schema], Boolean) = {
    val ts = u.getTypes.asScala.toSeq
    (ts.filterNot(_.getType == Type.NULL), ts.exists(_.getType == Type.NULL))
  }

  /** A union of two or more non-null branches: a tagged struct in
    * Catalyst, a union carrier to the codec and the move plan.
    */
  private[graft] def isCarrier(s: Schema): Boolean =
    s.getType == Type.UNION && unionBranches(s)._1.length >= 2

  /** `s` without its null branch; a non-union as it is. */
  private[graft] def nonNull(s: Schema): Schema =
    if (s.getType == Type.UNION) fromUnion(s)._1 else s

  /** Spark field name for a union branch: the simple name for named
    * types (record/enum/fixed), the Avro type name otherwise — the same
    * identifiers Avro's own JSON encoding tags branches with. Unique by
    * the Avro spec within one union, except same-simple-name records in
    * different namespaces, which we reject.
    */
  private[graft] def branchName(s: Schema): String = s.getType match {
    case Type.RECORD | Type.ENUM | Type.FIXED => s.getName
    case t => t.getName.toLowerCase
  }

  /** Avro schema → (Spark DataType, nullable, metadata for the holder).
    *
    * MULTI-BRANCH UNION EXTENSION (the reference rejects these,
    * AvroSchemaSql.scala:40-47; real Kafka schemas have them): a union
    * with ≥2 non-null branches maps to a TAGGED STRUCT
    * `{tag: string, <branch1>, <branch2>, …}` — `tag` names the active
    * branch, exactly one branch field is non-null. The holder metadata
    * records the branch names under `avro.union.branches`, which is how
    * [[toAvro]] knows to reconstruct the union (round-trip fidelity,
    * AvroBridgeSpec). Strict reference parity stays available via
    * `toStruct(schema, strictUnions = true)`.
    */
  def toDataType(schema: Schema): (DataType, Boolean, Metadata) =
    toDataType(schema, strictUnions = false)

  def toDataType(schema: Schema, strictUnions: Boolean)
      : (DataType, Boolean, Metadata) = {
    val logical = Option(schema.getLogicalType)
    schema.getType match {
      case Type.UNION
          if !strictUnions && unionBranches(schema)._1.length >= 2 =>
        val (branches, nullable) = unionBranches(schema)
        val names = branches.map(branchName)
        require(names.distinct.length == names.length,
          s"union branches must have distinct names, got $names in $schema")
        require(!names.contains(UnionTagField),
          s"union branch name '$UnionTagField' collides with the carrier " +
            s"struct's tag field, got $names in $schema")
        val fields = StructField(UnionTagField, StringType,
          nullable = false) +: branches.map { b =>
          val (dt, _, md) = toDataType(b, strictUnions)
          // every branch field is null except the active one
          StructField(branchName(b), dt, nullable = true, metadata = md)
        }
        (StructType(fields), nullable,
          new MetadataBuilder()
            .putStringArray(MetaUnionBranches, names.toArray).build())
      case Type.UNION =>
        val (inner, nullable) = fromUnion(schema)
        val (dt, innerNullable, md) = toDataType(inner, strictUnions)
        (dt, nullable || innerNullable, md)
      case Type.BOOLEAN => (BooleanType, false, Metadata.empty)
      case Type.DOUBLE => (DoubleType, false, Metadata.empty)
      case Type.FLOAT => (FloatType, false, Metadata.empty)
      case Type.INT =>
        logical match {
          case Some(_: LogicalTypes.Date) => (DateType, false, Metadata.empty)
          case Some(t: LogicalTypes.TimeMillis) =>
            (IntegerType, false, logicalMeta(t))
          case _ => (IntegerType, false, Metadata.empty)
        }
      case Type.LONG =>
        logical match {
          case Some(_: LogicalTypes.TimestampMillis) =>
            (TimestampType, false, logicalMeta(LogicalTypes.timestampMillis()))
          case Some(_: LogicalTypes.TimestampMicros) =>
            (TimestampType, false, logicalMeta(LogicalTypes.timestampMicros()))
          case Some(_: LogicalTypes.LocalTimestampMillis) =>
            (TimestampNTZType, false,
              logicalMeta(LogicalTypes.localTimestampMillis()))
          case Some(_: LogicalTypes.LocalTimestampMicros) =>
            (TimestampNTZType, false,
              logicalMeta(LogicalTypes.localTimestampMicros()))
          case Some(t: LogicalTypes.TimeMicros) =>
            (LongType, false, logicalMeta(t))
          case _ => (LongType, false, Metadata.empty)
        }
      case Type.NULL => (NullType, true, Metadata.empty)
      case Type.STRING =>
        logical match {
          case Some(t) if t.getName == "uuid" =>
            (StringType, false, logicalMeta(t))
          case _ => (StringType, false, Metadata.empty)
        }
      case Type.BYTES =>
        logical match {
          case Some(d: LogicalTypes.Decimal) =>
            (DecimalType(d.getPrecision, d.getScale), false,
              logicalMeta(d))
          case _ => (BinaryType, false, Metadata.empty)
        }
      case Type.FIXED =>
        val base = new MetadataBuilder()
          .putString(MetaFixedName, schema.getFullName)
          .putLong(MetaFixedSize, schema.getFixedSize.toLong)
        logical match {
          case Some(d: LogicalTypes.Decimal) =>
            (DecimalType(d.getPrecision, d.getScale), false,
              base.putString(MetaLogical, d.getName).build())
          case _ => (BinaryType, false, base.build())
        }
      case Type.ENUM =>
        (StringType, false, new MetadataBuilder()
          .putString(MetaEnumName, schema.getFullName)
          .putStringArray(MetaEnumSymbols, schema.getEnumSymbols.asScala.toArray)
          .build())
      case Type.RECORD =>
        (toStruct(schema, strictUnions), false, recordMeta(schema))
      case Type.ARRAY =>
        val (et, en, _) = toDataType(schema.getElementType, strictUnions)
        (ArrayType(et, containsNull = en), false,
          elementMeta(schema.getElementType))
      case Type.MAP =>
        val (vt, vn, _) = toDataType(schema.getValueType, strictUnions)
        (MapType(StringType, vt, valueContainsNull = vn), false,
          elementMeta(schema.getValueType))
    }
  }

  private def logicalMeta(t: LogicalType): Metadata =
    new MetadataBuilder().putString(MetaLogical, t.getName).build()

  private def recordMeta(s: Schema): Metadata = {
    val b = new MetadataBuilder().putString(MetaRecordName, s.getName)
    Option(s.getNamespace).foreach(b.putString(MetaRecordNamespace, _))
    Option(s.getDoc).foreach(b.putString(MetaRecordDoc, _))
    b.build()
  }

  /** Record/enum/fixed metadata for an array element or map value rides on
    * the enclosing field (one collection level deep — matching the
    * reference's supported shapes).
    */
  private def elementMeta(element: Schema): Metadata = {
    val e = element.getType match {
      case Type.UNION => unionBranches(element)._1 match {
        case Seq(one) => one
        // multi-branch element: names ride on the branch fields instead
        case _ => return Metadata.empty
      }
      case _ => element
    }
    e.getType match {
      case Type.RECORD => recordMeta(e)
      case Type.ENUM => new MetadataBuilder()
        .putString(MetaEnumName, e.getFullName)
        .putStringArray(MetaEnumSymbols, e.getEnumSymbols.asScala.toArray)
        .build()
      case Type.FIXED => new MetadataBuilder()
        .putString(MetaFixedName, e.getFullName)
        .putLong(MetaFixedSize, e.getFixedSize.toLong)
        .build()
      case _ => Metadata.empty
    }
  }

  /** Avro RECORD schema → StructType with `avro.*` metadata. Pass
    * `strictUnions = true` for exact reference parity (multi-branch
    * unions rejected, AvroSchemaSql.scala:40-47) instead of the
    * tagged-struct extension.
    */
  def toStruct(schema: Schema): StructType =
    toStruct(schema, strictUnions = false)

  def toStruct(schema: Schema, strictUnions: Boolean): StructType = {
    require(schema.getType == Type.RECORD, s"expected RECORD, got $schema")
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val (dt, nullable, typeMeta) = toDataType(f.schema(), strictUnions)
      val mb = new MetadataBuilder().withMetadata(typeMeta)
      Option(f.doc()).foreach(mb.putString(MetaFieldDoc, _))
      if (!f.aliases().isEmpty)
        mb.putStringArray(MetaAliases, f.aliases().asScala.toArray)
      StructField(f.name(), dt, nullable = nullable, metadata = mb.build())
    })
  }

  /** Top-level record identity (name, namespace, doc) for the deriver. */
  def recordInfo(schema: Schema): (String, Option[String], Option[String]) =
    (schema.getName, Option(schema.getNamespace), Option(schema.getDoc))

  // ---------------------------------------------------------------- toAvro

  /** StructType → Avro RECORD schema, restoring `avro.*` metadata carried
    * through the projection (O15). Unnamed nested records synthesize
    * `<fieldName>_record` names, mirroring what avro4s-style derivation
    * would produce.
    */
  def toAvro(struct: StructType, name: String, namespace: Option[String],
      doc: Option[String]): Schema = {
    val rec = Schema.createRecord(name, doc.orNull, namespace.orNull, false)
    val fields = struct.fields.map { f =>
      val base = fieldSchema(f.dataType, f.metadata, f.name)
      val sch = if (f.nullable && base.getType != Type.NULL) nullable(base) else base
      val fieldDoc =
        if (f.metadata.contains(MetaFieldDoc)) f.metadata.getString(MetaFieldDoc)
        else null
      val av =
        if (f.nullable) new Schema.Field(f.name, sch, fieldDoc, Schema.Field.NULL_DEFAULT_VALUE)
        else new Schema.Field(f.name, sch, fieldDoc)
      if (f.metadata.contains(MetaAliases))
        f.metadata.getStringArray(MetaAliases).foreach(av.addAlias)
      av
    }
    rec.setFields(java.util.Arrays.asList(fields: _*))
    rec
  }

  private def nullable(s: Schema): Schema =
    // a union-carrier field flattens: Avro forbids nested unions, so
    // [A, B] nullable becomes [null, A, B], never [null, [A, B]]
    if (s.getType == Type.UNION)
      Schema.createUnion(
        (Schema.create(Type.NULL) +: s.getTypes.asScala.toSeq).asJava)
    else
      Schema.createUnion(java.util.Arrays.asList(Schema.create(Type.NULL), s))

  private def fieldSchema(dt: DataType, md: Metadata, fieldName: String): Schema =
    dt match {
      case BooleanType => Schema.create(Type.BOOLEAN)
      case DoubleType => Schema.create(Type.DOUBLE)
      case FloatType => Schema.create(Type.FLOAT)
      case IntegerType =>
        if (md.contains(MetaLogical) && md.getString(MetaLogical) == "time-millis")
          LogicalTypes.timeMillis().addToSchema(Schema.create(Type.INT))
        else Schema.create(Type.INT)
      case LongType =>
        if (md.contains(MetaLogical) && md.getString(MetaLogical) == "time-micros")
          LogicalTypes.timeMicros().addToSchema(Schema.create(Type.LONG))
        else Schema.create(Type.LONG)
      case NullType => Schema.create(Type.NULL)
      case StringType =>
        if (md.contains(MetaEnumName))
          Schema.createEnum(
            md.getString(MetaEnumName).split("\\.").last, null,
            namespaceOf(md.getString(MetaEnumName)),
            java.util.Arrays.asList(md.getStringArray(MetaEnumSymbols): _*))
        else if (md.contains(MetaLogical) && md.getString(MetaLogical) == "uuid")
          LogicalTypes.uuid().addToSchema(Schema.create(Type.STRING))
        else Schema.create(Type.STRING)
      case BinaryType =>
        if (md.contains(MetaFixedName))
          Schema.createFixed(
            md.getString(MetaFixedName).split("\\.").last, null,
            namespaceOf(md.getString(MetaFixedName)),
            md.getLong(MetaFixedSize).toInt)
        else Schema.create(Type.BYTES)
      case d: DecimalType =>
        LogicalTypes.decimal(d.precision, d.scale)
          .addToSchema(Schema.create(Type.BYTES))
      case DateType => LogicalTypes.date().addToSchema(Schema.create(Type.INT))
      case TimestampType =>
        val lt =
          if (md.contains(MetaLogical) && md.getString(MetaLogical) == "timestamp-millis")
            LogicalTypes.timestampMillis()
          else LogicalTypes.timestampMicros()
        lt.addToSchema(Schema.create(Type.LONG))
      case TimestampNTZType =>
        val lt =
          if (md.contains(MetaLogical) && md.getString(MetaLogical) == "local-timestamp-millis")
            LogicalTypes.localTimestampMillis()
          else LogicalTypes.localTimestampMicros()
        lt.addToSchema(Schema.create(Type.LONG))
      case s: StructType if md.contains(MetaUnionBranches) =>
        // tagged union carrier → reconstruct the original multi-branch
        // union from the branch fields (tag is representation-only)
        val names = md.getStringArray(MetaUnionBranches)
        val byName = s.fields.map(f => f.name -> f).toMap
        val branches = names.toSeq.map { n =>
          val bf = byName.getOrElse(n, throw new IllegalArgumentException(
            s"union carrier struct lost branch field '$n'"))
          fieldSchema(bf.dataType, bf.metadata, n)
        }
        Schema.createUnion(branches.asJava)
      case s: StructType =>
        val nm =
          if (md.contains(MetaRecordName)) md.getString(MetaRecordName)
          else s"${fieldName}_record"
        val ns =
          if (md.contains(MetaRecordNamespace)) Some(md.getString(MetaRecordNamespace))
          else None
        val dc =
          if (md.contains(MetaRecordDoc)) Some(md.getString(MetaRecordDoc))
          else None
        toAvro(s, nm, ns, dc)
      case ArrayType(et, containsNull) =>
        val elem0 = fieldSchema(et, md, fieldName)
        Schema.createArray(if (containsNull) nullable(elem0) else elem0)
      case MapType(StringType, vt, valueContainsNull) =>
        val v0 = fieldSchema(vt, md, fieldName)
        Schema.createMap(if (valueContainsNull) nullable(v0) else v0)
      case other =>
        throw new IllegalArgumentException(s"Unsupported Spark type for Avro: $other")
    }

  private def namespaceOf(fullName: String): String = {
    val i = fullName.lastIndexOf('.')
    if (i < 0) null else fullName.substring(0, i)
  }
}
