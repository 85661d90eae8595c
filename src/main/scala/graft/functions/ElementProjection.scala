package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapBuilder, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Narrowing of an array's elements without a lambda: the withstructure
  * rebuild of `array<struct>` (reference AvroSql.scala:187-305) as one
  * codegen'd Catalyst expression.
  *
  * Every child is an array ALIGNED with the array being narrowed: the same
  * length, and null exactly when that array is null. In practice each is
  * a `GetArrayStructFields` chain (`items.qty`, `items.detail.color`) that
  * reads one kept leaf of every element, so Catalyst's own nested-column
  * pruning (`SchemaPruning`, `ProjectionOverSchema`) sees exactly the
  * element fields the projection reads, and the kernel decodes and a
  * `graft-avro` scan reads only those. Element `i` of the result is
  * `element` evaluated at position `i` of the children:
  *  - [[ElementProjection.Build]] makes a struct of its parts, or null when
  *    its marker child (a kept, non-nullable field of that level) is null
  *    at `i`, which keeps a null element or a null nested struct null;
  *  - [[ElementProjection.Take]] takes a child's value at `i` and passes it
  *    through an [[ElementNarrow]], which selects, renames and recurses by
  *    field ordinals inside a value that is read whole (an array of
  *    arrays, a map, or a nullable level with no non-nullable kept leaf to
  *    mark it).
  * `dataType` is fixed by the planner, which derives it from the schema.
  */
case class ElementProjection(
    children: Seq[Expression],
    element: ElementProjection.Part,
    dataType: ArrayType) extends Expression {

  import ElementProjection._

  // every child is rooted at the same array, so any one tells its nullness
  override def nullable: Boolean = children.head.nullable

  override def prettyName: String = "project_elements"

  override def toString: String = s"$prettyName(${children.mkString(", ")})"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.nonEmpty && children.forall(_.dataType.isInstanceOf[ArrayType]))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array arguments, got " +
        children.map(_.dataType.simpleString).mkString(", "))

  override def eval(input: InternalRow): Any = {
    val arrays = new Array[ArrayData](children.length)
    var k = 0
    while (k < arrays.length) {
      val v = children(k).eval(input)
      if (v == null) return null
      arrays(k) = v.asInstanceOf[ArrayData]
      k += 1
    }
    val n = arrays(0).numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = element.at(arrays, i); i += 1 }
    new GenericArrayData(out)
  }

  // Generated code reads child k's value at position i into a local
  // `Object`, null when the child is null there; `get` hands back a
  // generic array's stored value without unboxing and boxing it again.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val inputs = children.map(_.genCode(ctx))
    val arrays = inputs.map(_ => ctx.freshName("arr"))
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val out = ctx.freshName("out")
    val cells = children.indices.map(_ => ctx.freshName("cell"))
    val read = children.indices.map { k =>
      val dt = ctx.addReferenceObj("dt",
        children(k).dataType.asInstanceOf[ArrayType].elementType,
        classOf[DataType].getName)
      s"Object ${cells(k)} = ${arrays(k)}.isNullAt($i) ? null : " +
        s"${arrays(k)}.get($i, $dt);"
    }.mkString("\n")
    val (elemCode, elemVar) = genPart(ctx, element, cells)
    val bind = inputs.zip(arrays).map { case (in, a) =>
      s"ArrayData $a = (ArrayData) ${in.value};"
    }.mkString("\n")
    ev.copy(code = code"""
      |${inputs.map(_.code).mkString("\n")}
      |boolean ${ev.isNull} = ${inputs.map(_.isNull).mkString(" || ")};
      |ArrayData ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  $bind
      |  int $n = ${arrays.head}.numElements();
      |  Object[] $out = new Object[$n];
      |  for (int $i = 0; $i < $n; $i++) {
      |    $read
      |    $elemCode
      |    $out[$i] = $elemVar;
      |  }
      |  ${ev.value} = new $GenericArrayDataClass($out);
      |}
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object ElementProjection {

  private val GenericArrayDataClass = classOf[GenericArrayData].getName
  private val GenericRowClass = classOf[GenericInternalRow].getName

  /** How one output element is made from position `i` of the children. */
  sealed trait Part extends Serializable {
    def at(arrays: Array[ArrayData], i: Int): Any
  }

  /** Child `child`'s value at `i`, of type `dt`, through `narrow`. */
  final case class Take(child: Int, dt: DataType, narrow: ElementNarrow) extends Part {
    def at(arrays: Array[ArrayData], i: Int): Any = {
      val a = arrays(child)
      if (a.isNullAt(i)) null else narrow(a.get(i, dt))
    }
  }

  /** A struct of `fields`; null when child `marker` (if >= 0) is null at `i`. */
  final case class Build(fields: IndexedSeq[Part], marker: Int) extends Part {
    def at(arrays: Array[ArrayData], i: Int): Any =
      if (marker >= 0 && arrays(marker).isNullAt(i)) null
      else {
        val values = new Array[Any](fields.length)
        var j = 0
        while (j < values.length) { values(j) = fields(j).at(arrays, i); j += 1 }
        new GenericInternalRow(values)
      }
  }

  /** Java statements that leave `part`'s element in the returned
    * variable, given each child's value at this position in `cells`.
    */
  private def genPart(ctx: CodegenContext, part: Part,
      cells: Seq[String]): (String, String) = part match {
    case Take(k, _, ElementNarrow.Keep) => ("", cells(k))
    case Take(k, _, narrow) =>
      val v = ctx.freshName("elem")
      val ref = ctx.addReferenceObj("narrow", narrow, classOf[ElementNarrow].getName)
      (s"Object $v = ${cells(k)} == null ? null : $ref.apply(${cells(k)});", v)
    case Build(fields, marker) =>
      val v = ctx.freshName("elem")
      val values = ctx.freshName("values")
      val parts = fields.zipWithIndex.map { case (f, j) =>
        val (code, fv) = genPart(ctx, f, cells)
        s"$code\n$values[$j] = $fv;"
      }.mkString("\n")
      val build =
        s"""Object[] $values = new Object[${fields.length}];
           |$parts
           |$v = new $GenericRowClass($values);""".stripMargin
      val guarded =
        if (marker < 0) build else s"if (${cells(marker)} != null) {\n$build\n}"
      (s"Object $v = null;\n$guarded", v)
  }
}

/** Narrowing of one value read whole, by field ordinals: a null stays
  * null. Mirrors the withstructure rebuild of a struct, an array and a
  * map (see `graft.sql.StructurePlanner`).
  */
sealed abstract class ElementNarrow extends Serializable {
  def apply(v: Any): Any
}

object ElementNarrow {

  /** The value unchanged. */
  case object Keep extends ElementNarrow {
    def apply(v: Any): Any = v
  }

  /** A struct of the source fields at `ordinals` (of types `types`),
    * each through its own narrowing.
    */
  final case class Pick(ordinals: IndexedSeq[Int], types: IndexedSeq[DataType],
      subs: IndexedSeq[ElementNarrow]) extends ElementNarrow {
    def apply(v: Any): Any =
      if (v == null) null
      else {
        val row = v.asInstanceOf[InternalRow]
        val values = new Array[Any](ordinals.length)
        var j = 0
        while (j < values.length) {
          val o = ordinals(j)
          values(j) = if (row.isNullAt(o)) null else subs(j)(row.get(o, types(j)))
          j += 1
        }
        new GenericInternalRow(values)
      }
  }

  /** An array whose elements of type `elemType` go through `sub`. */
  final case class Each(elemType: DataType, sub: ElementNarrow) extends ElementNarrow {
    def apply(v: Any): Any =
      if (v == null) null
      else {
        val a = v.asInstanceOf[ArrayData]
        val out = new Array[Any](a.numElements())
        var i = 0
        while (i < out.length) {
          out(i) = if (a.isNullAt(i)) null else sub(a.get(i, elemType))
          i += 1
        }
        new GenericArrayData(out)
      }
  }

  /** A map narrowed by key: every key when `allKeys`, else only the
    * `kept` ones (matched by their string form); keys in `renames` take
    * the new name (string keys only), and every value of type `valueType`
    * goes through `sub` to `outValueType`. Entries keep their order; a
    * renamed key that collides with a kept one follows the session's
    * map-key deduplication policy, as `map_from_entries` does.
    */
  final case class Keys(keyType: DataType, valueType: DataType,
      outValueType: DataType, allKeys: Boolean,
      kept: Set[String], renames: Map[String, String],
      sub: ElementNarrow) extends ElementNarrow {
    def apply(v: Any): Any =
      if (v == null) null
      else {
        val m = v.asInstanceOf[MapData]
        val keys = m.keyArray()
        val values = m.valueArray()
        val builder = new ArrayBasedMapBuilder(keyType, outValueType)
        var i = 0
        while (i < m.numElements()) {
          val key = keys.get(i, keyType)
          val name = key.toString
          if (allKeys || kept(name)) {
            val outKey = renames.get(name) match {
              case Some(a) => UTF8String.fromString(a)
              case None => key
            }
            builder.put(outKey,
              if (values.isNullAt(i)) null else sub(values.get(i, valueType)))
          }
          i += 1
        }
        builder.build()
      }
  }
}
