package graft.sources

import java.io.File

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Multi-column `sortedBy` (`"c1,c2"` = LEXICOGRAPHIC tuple order,
  * ascending nulls-first per column): the claim verifies at write time
  * (OrderVerifier throws on any tuple inversion), stamps the marker
  * with the full spec, keys the sort-zone manifest on the PRIMARY
  * column (a lexicographic order implies primary order, so every
  * single-column consumer stays sound), reports the longest PROJECTED
  * PREFIX as the scan's output ordering, and withdraws on any
  * non-agreeing append — the same lifecycle as the single-column claim.
  */
class SortedMultiSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_smulti")

  /** (g, r): g = k / 10 (coarse, repeats), r = k % 10 then k — sorted
    * lexicographically by construction.
    */
  private def writeSorted(dir: String): Unit = {
    spark.range(0, 5000).toDF("k")
      .select((F.col("k") / 10).cast("long").as("g"),
        F.pmod(F.col("k"), F.lit(10)).cast("int").as("r"),
        F.md5(F.col("k").cast("string")).as("payload"))
      .repartitionByRange(4, F.col("g"), F.col("r"))
      .sortWithinPartitions("g", "r")
      .write.format("graft-avro").option("sortedBy", "g,r")
      .mode("overwrite").save(dir)
  }

  test("a verified compound write stamps the full spec; the sort-zone " +
      "manifest keys on the primary column") {
    val dir = tmp()
    writeSorted(dir)
    AvroFileSource.sortedColumnsOf(new File(dir)) shouldBe Seq("g", "r")
    AvroFileSource.sortedColumnOf(new File(dir)) shouldBe Some("g")
    ZoneCells.coverAll(dir, "g") shouldBe true
    // metadata MIN/MAX of the primary column serves from the manifest
    val t = spark.read.format("graft-avro").load(dir)
    val row = t.agg(F.min("g"), F.max("g")).head()
    row.getLong(0) shouldBe 0L
    row.getLong(1) shouldBe 499L
  }

  test("a tuple inversion within an equal primary run fails the write") {
    val dir = tmp()
    val ex = intercept[Exception] {
      // g constant, r descending: primary-equal, secondary inverted
      spark.range(0, 100).toDF("k")
        .select(F.lit(7L).as("g"), (F.lit(99) - F.col("k"))
          .cast("int").as("r"))
        .coalesce(1)
        .write.format("graft-avro").option("sortedBy", "g,r")
        .mode("overwrite").save(dir)
    }
    ex.getMessage should include("sortedBy")
  }

  test("a secondary decrease is legal when the primary advances") {
    val dir = tmp()
    import spark.implicits._
    // (1, 9) then (2, 0): r drops but g advanced — valid lexicographic
    Seq((1L, 9), (2L, 0), (2L, 5)).toDF("g", "r")
      .coalesce(1)
      .write.format("graft-avro").option("sortedBy", "g,r")
      .mode("overwrite").save(dir)
    AvroFileSource.sortedColumnsOf(new File(dir)) shouldBe Seq("g", "r")
  }

  test("a null primary after a non-null primary fails (nulls sort first)") {
    val dir = tmp()
    import spark.implicits._
    val ex = intercept[Exception] {
      Seq((Some(1L), 0), (None, 1)).toDF("g", "r")
        .coalesce(1)
        .write.format("graft-avro").option("sortedBy", "g,r")
        .mode("overwrite").save(dir)
    }
    ex.getMessage should include("sortedBy")
  }

  test("an append claiming a DIFFERENT spec (even a prefix) withdraws " +
      "the claim and the manifest") {
    val dir = tmp()
    writeSorted(dir)
    spark.range(5000, 5100).toDF("k")
      .select((F.col("k") / 10).cast("long").as("g"),
        F.pmod(F.col("k"), F.lit(10)).cast("int").as("r"),
        F.md5(F.col("k").cast("string")).as("payload"))
      .sortWithinPartitions("g")
      .write.format("graft-avro").option("sortedBy", "g")
      .mode("append").save(dir)
    AvroFileSource.sortedColumnsOf(new File(dir)) shouldBe Nil
    AvroFileSource.sortMarker(new File(dir)) shouldNot exist
  }

  test("an agreeing compound append keeps the claim") {
    val dir = tmp()
    writeSorted(dir)
    spark.range(5000, 5100).toDF("k")
      .select((F.col("k") / 10).cast("long").as("g"),
        F.pmod(F.col("k"), F.lit(10)).cast("int").as("r"),
        F.md5(F.col("k").cast("string")).as("payload"))
      .coalesce(1).sortWithinPartitions("g", "r")
      .write.format("graft-avro").option("sortedBy", "g,r")
      .mode("append").save(dir)
    AvroFileSource.sortedColumnsOf(new File(dir)) shouldBe Seq("g", "r")
    ZoneCells.coverAll(dir, "g") shouldBe true
  }

  test("the scan reports the longest projected prefix as its ordering") {
    val dir = tmp()
    writeSorted(dir)
    def ordering(cols: String*): Seq[String] = {
      val t = spark.read.format("graft-avro").load(dir)
        .select(cols.map(F.col): _*)
      val scan = t.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.get
      scan match {
        case o: org.apache.spark.sql.connector.read.SupportsReportOrdering =>
          o.outputOrdering().toSeq.map(_.expression() match {
            case n: org.apache.spark.sql.connector.expressions
                .NamedReference => n.fieldNames.mkString(".")
            case other => other.toString
          })
        case _ => Nil
      }
    }
    ordering("g", "r", "payload") shouldBe Seq("g", "r")
    ordering("g", "payload") shouldBe Seq("g")
    // a projected-out HEAD invalidates the tail's order entirely
    ordering("r", "payload") shouldBe Nil
  }

  test("requestSort arranges an unsorted frame into a verified compound " +
      "layout") {
    val dir = tmp()
    spark.range(0, 5000).toDF("k")
      .select((F.col("k") / 10).cast("long").as("g"),
        F.pmod(F.col("k"), F.lit(10)).cast("int").as("r"))
      .repartition(8) // deliberately scrambled
      .write.format("graft-avro")
      .option("sortedBy", "g,r").option("requestSort", "true")
      .mode("overwrite").save(dir)
    AvroFileSource.sortedColumnsOf(new File(dir)) shouldBe Seq("g", "r")
    val t = spark.read.format("graft-avro").load(dir)
    t.count() shouldBe 5000L
  }

  test("compactSortedTo preserves a compound claim") {
    val dir = tmp()
    val out = tmp()
    writeSorted(dir)
    AvroMaintenance.compactSortedTo(spark, dir, out, "g,r",
      targetBytes = 1L << 30)
    AvroFileSource.sortedColumnsOf(new File(out)) shouldBe Seq("g", "r")
    spark.read.format("graft-avro").load(out).count() shouldBe 5000L
  }

  test("renaming a secondary sort column follows in the spec; dropping " +
      "it withdraws the claim") {
    val dir = tmp()
    writeSorted(dir)
    AvroMaintenance.renameColumn(spark, dir, "r", "r2")
    AvroFileSource.sortedColumnsOf(new File(dir)) shouldBe Seq("g", "r2")
    AvroMaintenance.dropColumn(dir, "r2")
    AvroFileSource.sortedColumnsOf(new File(dir)) shouldBe Nil
    AvroFileSource.sortMarker(new File(dir)) shouldNot exist
  }
}
