package graft.avro

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.Schema.Type
import org.apache.avro.generic.{GenericData, GenericRecord, IndexedRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, CaseWhen, CreateNamedStruct, Expression, GetArrayStructFields, GetMapValue, GetStructField, IsNotNull, Literal, NamedExpression}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.avro.AvroSchemaConverter.{isCarrier, nonNull}
import graft.functions.{ElementNarrow, ElementProjection, MapNarrow}

/** An analyzed projection compiled into moves of Avro values: the
  * executor of [[AvroProjector]]. The dialect only selects, renames and
  * reorders, so every output value is an input value moved to a new place;
  * no Catalyst row is made per record.
  *
  * [[bind]] compiles the project list against one writer schema. Fields
  * resolve by name, so a drifted writer schema (fields reordered, added,
  * or unread ones dropped) binds to its own positions; a field the plan
  * reads and the writer lacks fails the bind with an
  * `IllegalArgumentException`. The compiled move builds a fresh
  * `GenericData.Record` of the output schema per record:
  *  - records, array elements and map entries are rebuilt in the output
  *    schema (arrays as `ArrayList`, maps as `HashMap` with `String`
  *    keys, as [[AvroInternalCodec]]'s encoder makes them);
  *  - a leaf whose Avro representation does not change moves by
  *    reference: boxed primitives, strings (a `Utf8` through `toString`),
  *    date ints and micros timestamps;
  *  - every other leaf (bytes, fixed, decimal, millis timestamps, enums,
  *    union carriers, drift promotions) goes through the codec's
  *    `converter` and `outConverter`, so it equals the DataFrame path's
  *    value by construction.
  *
  * The plan accepts a closed set of expressions, those `GraftSql` plans:
  * `Alias`, `AttributeReference`, `GetStructField`, `GetMapValue` with a
  * literal key, `CreateNamedStruct`, the `CaseWhen(IsNotNull(x), v)`
  * null guard, [[ElementProjection]] over `GetArrayStructFields` chains
  * with its [[ElementNarrow]]s, and [[MapNarrow]]. Any other expression
  * fails the build with an `IllegalStateException`.
  *
  * `lastWin` is the map-key deduplication policy a renamed map key that
  * collides with a kept one follows (`spark.sql.mapKeyDedupPolicy`,
  * fixed when the plan is made): the later value wins at the first key's
  * place, or the record fails as `map_from_entries` fails.
  */
private[avro] final class AvroMovePlan(projectList: Seq[NamedExpression],
    outSchema: Schema, lastWin: Boolean) {

  import AvroMovePlan._

  /** The move for records of writer schema `writer`. */
  def bind(writer: Schema): IndexedRecord => GenericRecord = new Binder(writer).root

  /** Input leaf paths the plan reads, in `struct`'s field order: the leaves
    * of `struct` (through structs and arrays of structs, as dotted paths)
    * at or under a value the plan hands to a move. `struct` is the
    * Catalyst form of `writer`.
    */
  def readPaths(writer: Schema, struct: StructType): Seq[String] = {
    val b = new Binder(writer)
    b.root
    val read = b.read.toSeq
    leaves(struct, Nil)
      .filter(l => read.exists(r => l.startsWith(r) || r.startsWith(l)))
      .map(_.mkString("."))
  }

  private final class Binder(writer: Schema) {
    private val rec = nonNull(writer)
    val read = scala.collection.mutable.LinkedHashSet.empty[Seq[String]]

    lazy val root: IndexedRecord => GenericRecord = {
      val out = nonNull(outSchema)
      val move = record(out, projectList.map { ne =>
        val f = out.getField(ne.name)
        (f.pos, value(ne, f.schema))
      })
      r => move(r).asInstanceOf[GenericRecord]
    }

    /** The output value of `e` (of output schema `o`) for a root record. */
    private def value(e: Expression, o: Schema): Any => Any = e match {
      case Alias(c, _) => value(c, o)
      case s: CreateNamedStruct =>
        val out = nonNull(o)
        record(out, s.names.zip(s.valExprs).map { case (n, v) =>
          val f = out.getField(n.toString)
          (f.pos, value(v, f.schema))
        })
      case CaseWhen(Seq((IsNotNull(x), v)), None) =>
        val guard = source(x).get
        val move = value(v, o)
        r => if (guard(r) == null) null else move(r)
      case p: ElementProjection => elements(p, o)
      case MapNarrow(child, keys, t) => moved(child, narrow(keys, _, child.dataType, t, o))
      case _ => moved(e, whole(_, e.dataType, o))
    }

    /** The source value of getter `e`, through `move` (made from its Avro
      * schema); a null source value stays null.
      */
    private def moved(e: Expression, move: Schema => Any => Any): Any => Any = {
      val s = source(e)
      read += s.path
      via(s.get, move(s.schema))
    }

    /** A getter over the root record: attributes, struct fields (also of
      * a union carrier) and literal map keys.
      */
    private def source(e: Expression): Src = e match {
      case a: AttributeReference =>
        val f = rec.getField(a.name)
        require(f != null, s"Avro schema has no field '${a.name}'")
        val pos = f.pos
        Src(f.schema, Seq(a.name), r => r.asInstanceOf[IndexedRecord].get(pos))
      case GetStructField(c, ordinal, _) =>
        val name = c.dataType.asInstanceOf[StructType](ordinal).name
        source(c).andThen(name, field(_, name))
      case GetMapValue(c, Literal(key, StringType)) =>
        val k = key.toString
        val u = new Utf8(k)
        source(c).andThen(k, s => (nonNull(s).getValueType, mapValue(_, k, u)))
      case other => unsupported(other)
    }

    /** One [[ElementProjection]]: each child is a `GetArrayStructFields`
      * chain (possibly empty) over the same array, so it reads a path of
      * field names inside every element.
      */
    private def elements(p: ElementProjection, o: Schema): Any => Any = {
      def split(e: Expression): (Expression, List[String]) = e match {
        case GetArrayStructFields(c, f, _, _, _) =>
          val (b, path) = split(c)
          (b, path :+ f.name)
        case b => (b, Nil)
      }
      val splits = p.children.map(split)
      val baseExpr = splits.head._1
      if (!splits.forall(_._1.semanticEquals(baseExpr))) unsupported(p)
      val base = source(baseExpr)
      val elem = nonNull(base.schema).getElementType
      val cells = splits.map { case (_, path) =>
        read += base.path ++ path
        path.foldLeft(Src(elem, Nil, identity))((s, n) => s.andThen(n, field(_, n)))
      }.toIndexedSeq
      val outElem = nonNull(o).getElementType
      val move = part(p.element, cells, p.dataType.elementType, outElem)
      via(base.get, a => {
        val c = a.asInstanceOf[java.util.Collection[Any]]
        val out = new java.util.ArrayList[Any](c.size)
        val it = c.iterator()
        while (it.hasNext) out.add(move(it.next()))
        out
      })
    }

    /** One element's output, `outDt` in Catalyst terms, from the element
      * (null included) through the children's getters `cells`.
      */
    private def part(p: ElementProjection.Part, cells: IndexedSeq[Src],
        outDt: DataType, o: Schema): Any => Any = p match {
      case ElementProjection.Take(k, dt, n) =>
        via(cells(k).get, narrow(n, cells(k).schema, dt, outDt, o))
      case ElementProjection.Build(fields, marker) =>
        val st = outDt.asInstanceOf[StructType]
        val out = nonNull(o)
        val build = record(out, fields.zipWithIndex.map { case (f, j) =>
          val of = out.getField(st(j).name)
          (of.pos, part(f, cells, st(j).dataType, of.schema))
        })
        if (marker < 0) build
        else {
          val mark = cells(marker).get
          e => if (mark(e) == null) null else build(e)
        }
    }
  }

  /** A non-null value of Avro schema `s` and Catalyst type `dt` through
    * `n`, to an output value of type `outDt` and schema `o`.
    */
  private def narrow(n: ElementNarrow, s: Schema, dt: DataType, outDt: DataType,
      o: Schema): Any => Any = n match {
    case ElementNarrow.Keep => whole(s, dt, o)
    case ElementNarrow.Pick(ordinals, types, subs) =>
      val st = dt.asInstanceOf[StructType]
      val outSt = outDt.asInstanceOf[StructType]
      val out = nonNull(o)
      record(out, ordinals.indices.map { j =>
        val (fs, get) = field(s, st(ordinals(j)).name)
        val of = out.getField(outSt(j).name)
        (of.pos, via(get, narrow(subs(j), fs, types(j), outSt(j).dataType, of.schema)))
      })
    case ElementNarrow.Each(et, sub) =>
      val m = narrow(sub, nonNull(s).getElementType, et,
        outDt.asInstanceOf[ArrayType].elementType, nonNull(o).getElementType)
      v => {
        val c = v.asInstanceOf[java.util.Collection[Any]]
        val out = new java.util.ArrayList[Any](c.size)
        val it = c.iterator()
        while (it.hasNext) {
          val e = it.next()
          out.add(if (e == null) null else m(e))
        }
        out
      }
    case k: ElementNarrow.Keys =>
      val m = narrow(k.sub, nonNull(s).getValueType, k.valueType, k.outValueType,
        nonNull(o).getValueType)
      keys(k, m)
  }

  /** A map narrowed by key: kept keys (by string form) take their new
    * names, values go through `m`; entries keep their order.
    */
  private def keys(k: ElementNarrow.Keys, m: Any => Any): Any => Any = {
    val targets = new java.util.HashMap[String, String]()
    k.kept.foreach(n => targets.put(n, k.renames.getOrElse(n, n)))
    k.renames.foreach { case (n, a) => targets.put(n, a) }
    val collide = k.renames.nonEmpty
    v => {
      val in = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
      val ks = new Array[String](in.size)
      val vs = new Array[Any](in.size)
      var n = 0
      val it = in.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val name = e.getKey.toString
        val t = targets.get(name)
        val key = if (t != null) t else if (k.allKeys) name else null
        if (key != null) {
          val x = if (e.getValue == null) null else m(e.getValue)
          val at = if (collide) ks.indexOf(key, 0) else -1
          if (at < 0) { ks(n) = key; vs(n) = x; n += 1 }
          else if (lastWin) vs(at) = x
          else throw GraftSqlBridge.duplicateMapKey(key)
        }
      }
      val out = new java.util.HashMap[String, Any](n * 2)
      var i = 0
      while (i < n) { out.put(ks(i), vs(i)); i += 1 }
      out
    }
  }

  /** A non-null value of Avro schema `s` and Catalyst type `dt`, moved
    * whole to output schema `o`.
    */
  private def whole(s: Schema, dt: DataType, o: Schema): Any => Any =
    if (isCarrier(s) || isCarrier(o)) codec(s, dt, o)
    else {
      val (w, out) = (nonNull(s), nonNull(o))
      (w.getType, dt, out.getType) match {
        // a container: the narrowing that keeps all of it
        case (Type.RECORD, st: StructType, Type.RECORD) => narrow(ElementNarrow.Pick(
          st.indices, st.fields.map(_.dataType).toIndexedSeq,
          st.fields.map(_ => ElementNarrow.Keep: ElementNarrow).toIndexedSeq), s, dt, dt, o)
        case (Type.ARRAY, ArrayType(et, _), Type.ARRAY) =>
          narrow(ElementNarrow.Each(et, ElementNarrow.Keep), s, dt, dt, o)
        case (Type.MAP, MapType(StringType, vt, _), Type.MAP) => narrow(ElementNarrow.Keys(
          StringType, vt, vt, allKeys = true, Set.empty, Map.empty, ElementNarrow.Keep), s, dt, dt, o)
        case (Type.STRING, StringType, Type.STRING) => _.toString
        case (Type.BOOLEAN, BooleanType, Type.BOOLEAN) | (Type.INT, IntegerType, Type.INT) |
             (Type.LONG, LongType, Type.LONG) | (Type.FLOAT, FloatType, Type.FLOAT) |
             (Type.DOUBLE, DoubleType, Type.DOUBLE) | (Type.INT, DateType, Type.INT) => identity
        case (Type.LONG, TimestampType | TimestampNTZType, Type.LONG)
            if micros(w) && micros(out) => identity
        case _ => codec(s, dt, o)
      }
    }
}

private[avro] object AvroMovePlan {

  /** A getter: the Avro schema of what it reads, the path of names to it
    * (a map key counts as a name), and the read itself, which returns
    * null once a value on the way is null.
    */
  private final case class Src(schema: Schema, path: Seq[String], get: Any => Any) {
    def andThen(name: String, step: Schema => (Schema, Any => Any)): Src = {
      val (s, f) = step(schema)
      Src(s, path :+ name, via(get, f))
    }
  }

  private def micros(s: Schema): Boolean = s.getLogicalType match {
    case _: LogicalTypes.TimestampMillis | _: LogicalTypes.LocalTimestampMillis => false
    case _ => true
  }

  /** Field `name` of a non-null value of Avro schema `s`: a record field
    * by position, or a union carrier's tag (the branch name) or branch
    * (the value when it is of that branch, else null).
    */
  private def field(s: Schema, name: String): (Schema, Any => Any) =
    if (isCarrier(s)) {
      val branches = s.getTypes.asScala.toArray
      val names = branches.map(b =>
        if (b.getType == Type.NULL) null else AvroSchemaConverter.branchName(b))
      val gd = GenericData.get()
      if (name == AvroSchemaConverter.UnionTagField)
        (Schema.create(Type.STRING), v => names(gd.resolveUnion(s, v)))
      else {
        val i = names.indexOf(name)
        if (i < 0) (Schema.create(Type.NULL), _ => null)
        else (branches(i), v => if (gd.resolveUnion(s, v) == i) v else null)
      }
    } else {
      val r = nonNull(s)
      require(r.getType == Type.RECORD, s"cannot read field '$name' of Avro $r")
      val f = r.getField(name)
      require(f != null, s"Avro schema has no field '$name'")
      val pos = f.pos
      (f.schema, v => v.asInstanceOf[IndexedRecord].get(pos))
    }

  /** The value of a non-null map for `key`, matched by string form. Avro's
    * binary decoder makes `Utf8` keys, which never equal a `String`, so
    * `utf8` (the same key, built once per plan) is looked up next; only
    * keys of some other `CharSequence` class are compared by `toString`.
    */
  private def mapValue(m: Any, key: String, utf8: Utf8): Any = {
    val map = m.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
    val hit = map.get(key)
    if (hit != null) return hit
    val utf8Hit = map.get(utf8)
    if (utf8Hit != null) return utf8Hit
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      e.getKey match {
        case _: String | _: Utf8 =>
        case k => if (k.toString == key) return e.getValue
      }
    }
    null
  }

  /** A record of schema `out`: each part puts at its position what its
    * move makes of the input value.
    */
  private def record(out: Schema, parts: Seq[(Int, Any => Any)]): Any => Any = {
    val positions = parts.map(_._1).toArray
    val moves = parts.map(_._2).toArray
    v => {
      val rec = new GenericData.Record(out)
      var i = 0
      while (i < moves.length) { rec.put(positions(i), moves(i)(v)); i += 1 }
      rec
    }
  }

  /** `move` over what `get` reads; a null read stays null. */
  private def via(get: Any => Any, move: Any => Any): Any => Any =
    v => { val x = get(v); if (x == null) null else move(x) }

  /** A leaf through the Avro ⇄ Catalyst codec, both ways. */
  private def codec(s: Schema, dt: DataType, o: Schema): Any => Any = {
    val in = AvroInternalCodec.converter(s, dt)
    val out = AvroInternalCodec.outConverter(dt, o)
    v => out(in(v))
  }

  /** Leaf paths of `st`: through structs and arrays of structs. */
  private def leaves(st: StructType, prefix: Seq[String]): Seq[Seq[String]] =
    st.fields.toSeq.flatMap { f =>
      f.dataType match {
        case s: StructType => leaves(s, prefix :+ f.name)
        case ArrayType(s: StructType, _) => leaves(s, prefix :+ f.name)
        case _ => Seq(prefix :+ f.name)
      }
    }

  private def unsupported(e: Expression): Nothing =
    throw new IllegalStateException(
      s"the Avro move plan has no move for ${e.getClass.getSimpleName}: $e")
}
