package graft.sql

import graft.SparkSpec
import graft.sql.GraftSql.implicits._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

/** withstructure-mode parity suite — mirrors the reference behaviours in
  * AvroSqlWithRetainStructureTest.scala:23-291, re-expressed on DataFrames.
  */
class StructureSpec extends AnyWordSpec with Matchers with SparkSpec {
  import Fixtures._

  private def pizzaDf: DataFrame = {
    import spark.implicits._
    Seq(pepperoni).toDF()
  }

  private def ingredientFields(df: DataFrame, col: String): Seq[String] =
    df.schema(col).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames.toSeq

  // an array of nullable records (non-nullable sku/qty, nullable price and
  // nested detail), an array of arrays of records and a map of records
  // whose values hold an array of records
  private val detailT = StructType(Seq(
    StructField("color", StringType, nullable = false),
    StructField("size", IntegerType)))
  private val lineT = StructType(Seq(
    StructField("sku", StringType, nullable = false),
    StructField("qty", IntegerType, nullable = false),
    StructField("price", DoubleType),
    StructField("detail", detailT),
    StructField("attrs", MapType(StringType, StringType))))
  private val cellT = StructType(Seq(
    StructField("a", IntegerType), StructField("b", StringType)))
  private val basketT = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("lines", ArrayType(lineT, containsNull = true)),
    StructField("grid", ArrayType(ArrayType(cellT))),
    StructField("byName", MapType(StringType, StructType(Seq(
      StructField("z", IntegerType, nullable = false),
      StructField("lines", ArrayType(lineT))))))))

  private def basketDf: DataFrame = {
    val l1 = Row("a", 1, 2.0, Row("red", 3), Map("color" -> "r", "k" -> "v"))
    val l2 = Row("b", 2, null, null, null)
    val rows = Seq(
      Row(1, Seq(l1, null, l2), Seq(Seq(Row(1, "x"), null, Row(null, null)), null, Seq()),
        Map("k1" -> Row(1, Seq(l1, null)), "k2" -> null)),
      Row(2, null, null, null),
      Row(3, Seq(), Seq(Seq()), Map("k1" -> Row(5, null))))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), basketT)
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  "withstructure over arrays of records" should {
    "keep a null element, a null array and an empty array" in {
      val out = basketDf.sql("SELECT id, lines.qty, lines.price FROM t withstructure")
      rowsOf(out) shouldBe Seq(
        Seq(1, Seq(Row(1, 2.0), null, Row(2, null))),
        Seq(2, null),
        Seq(3, Seq()))
      // every kept leaf nullable: a null element still differs from an
      // element whose kept fields are all null
      rowsOf(basketDf.sql("SELECT id, lines.price FROM t withstructure")) shouldBe Seq(
        Seq(1, Seq(Row(2.0), null, Row(null))), Seq(2, null), Seq(3, Seq()))
    }

    "rename and expand an element-level star" in {
      val out = basketDf.sql("SELECT lines.price AS p, lines.*, lines.sku AS code FROM t withstructure")
      ingredientFields(out, "lines") shouldBe Seq("p", "qty", "detail", "attrs", "code")
      rowsOf(out) shouldBe Seq(
        Seq(Seq(Row(2.0, 1, Row("red", 3), Map("color" -> "r", "k" -> "v"), "a"), null,
          Row(null, 2, null, null, "b"))),
        Seq(null),
        Seq(Seq()))
    }

    "rebuild a nullable nested struct inside an element" in {
      rowsOf(basketDf.sql("SELECT lines.detail.color FROM t withstructure")) shouldBe Seq(
        Seq(Seq(Row(Row("red")), null, Row(null))), Seq(null), Seq(Seq()))
      rowsOf(basketDf.sql("SELECT lines.sku, lines.detail.size AS sz FROM t withstructure")) shouldBe
        Seq(Seq(Seq(Row("a", Row(3)), null, Row("b", null))), Seq(null), Seq(Seq()))
    }

    "narrow a map inside an element by key" in {
      rowsOf(basketDf.sql("SELECT lines.attrs.color AS c, lines.qty FROM t withstructure")) shouldBe
        Seq(Seq(Seq(Row(Map("c" -> "r"), 1), null, Row(null, 2))), Seq(null), Seq(Seq()))
    }

    "project inside an array of arrays of records" in {
      val out = basketDf.sql("SELECT grid.b AS bee, grid.* FROM t withstructure")
      out.schema("grid").dataType shouldBe
        ArrayType(ArrayType(StructType(Seq(
          StructField("bee", StringType), StructField("a", IntegerType)))))
      rowsOf(out) shouldBe Seq(
        Seq(Seq(Seq(Row("x", 1), null, Row(null, null)), null, Seq())),
        Seq(null),
        Seq(Seq(Seq())))
    }

    "project an array of records inside a map of records" in {
      rowsOf(basketDf.sql("SELECT id, byName.k1.lines.qty, byName.k1.lines.price FROM t withstructure")) shouldBe
        Seq(
          Seq(1, Map("k1" -> Row(Seq(Row(1, 2.0), null)))),
          Seq(2, null),
          Seq(3, Map("k1" -> Row(null))))
    }

    "refuse to rename the keys of a non-string map inside an element" in {
      val t = StructType(Seq(StructField("arr", ArrayType(StructType(Seq(
        StructField("m", MapType(IntegerType, StringType))))))))
      val df = spark.createDataFrame(java.util.Arrays.asList(
        Row(Seq(Row(Map(1 -> "a"))))), t)
      val e = the[IllegalArgumentException] thrownBy
        df.sql("SELECT arr.m.`1` AS one FROM t withstructure")
      e.getMessage should include("only string keys")
    }

    "plan an array of records with no higher-order function" in {
      def hofs(q: String) = basketDf.sql(q).queryExecution.analyzed.expressions
        .exists(_.exists(_.isInstanceOf[HigherOrderFunction]))
      hofs("SELECT id, lines.qty, lines.price FROM t withstructure") shouldBe false
      hofs("SELECT lines.price AS p, lines.*, grid.b FROM t withstructure") shouldBe false
      hofs("SELECT lines.detail.color, lines.attrs.color FROM t withstructure") shouldBe false
      // maps keep their lambdas
      hofs("SELECT byName.k1.z FROM t withstructure") shouldBe true
    }
  }

  "withstructure mode" should {
    "be the identity on 'SELECT *' (ref :72)" in {
      val out = pizzaDf.sql("SELECT *FROM topic withstructure")
      out.schema shouldBe pizzaDf.schema
      out.collect() shouldBe pizzaDf.collect()
    }

    "move an explicitly renamed field after the star (ref :83)" in {
      val out = pizzaDf.sql("SELECT *, name as fieldName FROM topic withstructure")
      out.columns.toSeq shouldBe Seq("ingredients", "vegetarian", "vegan", "calories", "fieldName")
      out.collect().head.toSeq shouldBe Seq(
        Seq(Row("pepperoni", 12.0, 4.4), Row("onions", 1.0, 0.4)),
        false, false, 98, "pepperoni")
    }

    "rename a complex (array) field 'ingredients as stuff' (ref :99)" in {
      val out = pizzaDf.sql("SELECT *, ingredients as stuff FROM topic withstructure")
      out.columns.toSeq shouldBe Seq("name", "vegetarian", "vegan", "calories", "stuff")
      ingredientFields(out, "stuff") shouldBe Seq("name", "sugar", "fat")
      out.collect().head.getSeq[Row](4) shouldBe
        Seq(Row("pepperoni", 12.0, 4.4), Row("onions", 1.0, 0.4))
    }

    "reorder via explicit-then-star (ref :115)" in {
      val out = pizzaDf.sql("SELECT name as fieldName, * FROM topic withstructure")
      out.columns.toSeq shouldBe Seq("fieldName", "ingredients", "vegetarian", "vegan", "calories")
      out.collect().head.getString(0) shouldBe "pepperoni"
    }

    "cherry-pick a single field 'SELECT vegan' (ref :130)" in {
      val out = pizzaDf.sql("SELECT vegan FROM topic withstructure")
      out.columns.toSeq shouldBe Seq("vegan")
      out.collect().head.toSeq shouldBe Seq(false)
    }

    "cherry-pick with rename 'SELECT vegan as veganA' (ref :144)" in {
      val out = pizzaDf.sql("SELECT vegan as veganA FROM topic withstructure")
      out.columns.toSeq shouldBe Seq("veganA")
      out.collect().head.toSeq shouldBe Seq(false)
    }

    "project inside array elements 'SELECT ingredients.name' (ref :158)" in {
      val out = pizzaDf.sql("SELECT ingredients.name FROM topic withstructure")
      out.columns.toSeq shouldBe Seq("ingredients")
      ingredientFields(out, "ingredients") shouldBe Seq("name")
      out.collect().head.getSeq[Row](0) shouldBe Seq(Row("pepperoni"), Row("onions"))
    }

    "project two fields inside array elements (ref :173)" in {
      val out = pizzaDf.sql("SELECT ingredients.name, ingredients.sugar FROM topic withstructure")
      ingredientFields(out, "ingredients") shouldBe Seq("name", "sugar")
      out.collect().head.getSeq[Row](0) shouldBe
        Seq(Row("pepperoni", 12.0), Row("onions", 1.0))
    }

    "rename fields inside array elements (ref :188)" in {
      val out = pizzaDf.sql(
        "SELECT ingredients.name as fieldName, ingredients.sugar as fieldSugar FROM topic withstructure")
      ingredientFields(out, "ingredients") shouldBe Seq("fieldName", "fieldSugar")
      out.collect().head.getSeq[Row](0) shouldBe
        Seq(Row("pepperoni", 12.0), Row("onions", 1.0))
    }

    "expand element-level star before renamed fields (ref :204)" in {
      val out = pizzaDf.sql(
        "SELECT ingredients.*,ingredients.name as fieldName, ingredients.sugar as fieldSugar FROM topic withstructure")
      ingredientFields(out, "ingredients") shouldBe Seq("fat", "fieldName", "fieldSugar")
      out.collect().head.getSeq[Row](0) shouldBe
        Seq(Row(4.4, "pepperoni", 12.0), Row(0.4, "onions", 1.0))
    }

    "expand element-level star between renamed fields (ref :218)" in {
      val out = pizzaDf.sql(
        "SELECT ingredients.name as fieldName,ingredients.*, ingredients.sugar as fieldSugar FROM topic withstructure")
      ingredientFields(out, "ingredients") shouldBe Seq("fieldName", "fat", "fieldSugar")
      out.collect().head.getSeq[Row](0) shouldBe
        Seq(Row("pepperoni", 4.4, 12.0), Row("onions", 0.4, 1.0))
    }

    "expand element-level star after renamed fields (ref :233)" in {
      val out = pizzaDf.sql(
        "SELECT ingredients.name as fieldName, ingredients.sugar as fieldSugar, ingredients.* FROM topic withstructure")
      ingredientFields(out, "ingredients") shouldBe Seq("fieldName", "fieldSugar", "fat")
      out.collect().head.getSeq[Row](0) shouldBe
        Seq(Row("pepperoni", 12.0, 4.4), Row("onions", 1.0, 0.4))
    }

    "drop unmentioned top-level fields when a selection exists (ref :249)" in {
      val out = pizzaDf.sql(
        "SELECT name, ingredients.name as fieldName, ingredients.sugar as fieldSugar, ingredients.* FROM topic withstructure")
      out.columns.toSeq shouldBe Seq("name", "ingredients")
      ingredientFields(out, "ingredients") shouldBe Seq("fieldName", "fieldSugar", "fat")
    }

    "order top-level fields by first mention (ref :264)" in {
      val out = pizzaDf.sql(
        "SELECT name, ingredients.name as fieldName, ingredients.sugar as fieldSugar, ingredients.*, calories as cals FROM topic withstructure")
      out.columns.toSeq shouldBe Seq("name", "ingredients", "cals")
      out.collect().head.toSeq shouldBe Seq("pepperoni",
        Seq(Row("pepperoni", 12.0, 4.4), Row("onions", 1.0, 0.4)), 98)
    }

    "pin the traversed segment at its first mention even with interleaved fields (ref :278)" in {
      val out = pizzaDf.sql(
        "SELECT name, ingredients.name as fieldName, calories as cals, ingredients.sugar as fieldSugar, ingredients.* FROM topic withstructure")
      out.columns.toSeq shouldBe Seq("name", "ingredients", "cals")
      out.collect().head.toSeq shouldBe Seq("pepperoni",
        Seq(Row("pepperoni", 12.0, 4.4), Row("onions", 1.0, 0.4)), 98)
    }

    "null-safe rebuild of a nullable nested struct" in {
      import spark.implicits._
      val df = Seq(Outer(1, Some(Inner(7))), Outer(2, None)).toDF()
      val out = df.sql("SELECT id, inner.n FROM t withstructure")
      out.columns.toSeq shouldBe Seq("id", "inner")
      out.collect().map(_.toSeq).toSeq shouldBe
        Seq(Seq(1, Row(7)), Seq(2, null))
    }

    "cherry-pick and rename map keys (O11, ref AvroSql.scala:246-278)" in {
      import spark.implicits._
      val df = Seq(
        MapHolder(1, Map("a" -> TagVal(1, "x"), "b" -> TagVal(2, "y")))).toDF()
      val out = df.sql("SELECT id, tags.a as A FROM t withstructure")
      out.columns.toSeq shouldBe Seq("id", "tags")
      out.schema("tags").dataType shouldBe a[MapType]
      out.collect().head.getMap[String, Row](1).toMap shouldBe
        Map("A" -> Row(1, "x"))
    }

    "keep all map keys with star" in {
      import spark.implicits._
      val df = Seq(
        MapHolder(1, Map("a" -> TagVal(1, "x"), "b" -> TagVal(2, "y")))).toDF()
      val out = df.sql("SELECT id, tags.* FROM t withstructure")
      out.collect().head.getMap[String, Row](1).toMap shouldBe
        Map("a" -> Row(1, "x"), "b" -> Row(2, "y"))
    }

    "project inside a map value reached by key (deep path)" in {
      import spark.implicits._
      val df = Seq(
        MapHolder(1, Map("a" -> TagVal(1, "x"), "b" -> TagVal(2, "y")))).toDF()
      val out = df.sql("SELECT id, tags.a.b FROM t withstructure")
      out.collect().head.getMap[String, Row](1).toMap shouldBe
        Map("a" -> Row("x"))
    }
  }
}
