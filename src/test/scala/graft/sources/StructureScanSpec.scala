package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.sql.GraftSql.implicits._

/** A withstructure projection inside the elements of an array of records
  * reaches a `graft-avro` scan as nested column pruning: the scan reads
  * only the element fields the projection keeps.
  */
class StructureScanSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("withstructure over an array of records prunes the scan's element fields") {
    val dir = graft.operators.Catalog.tempDir("graft_ws_scan")
    val item = StructType(Seq(
      StructField("sku", StringType, nullable = false),
      StructField("qty", IntegerType, nullable = false),
      StructField("price", DoubleType, nullable = false)))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("note", StringType),
      StructField("items", ArrayType(item, containsNull = false), nullable = false)))
    val rows = (0 until 20).map { i =>
      Row(i.toLong, s"n$i", (0 until i % 3).map(k => Row(s"s$i.$k", i + k, k * 1.5)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(2).write.format("graft-avro").mode("overwrite").save(dir)

    val out = spark.read.format("graft-avro").load(dir)
      .sql("SELECT id, items.qty FROM t withstructure")
    val got = out.collect().map(r => r.getLong(0) -> r.getSeq[Row](1).map(_.getInt(0)))
      .sortBy(_._1).toSeq
    got shouldBe (0 until 20).map(i => i.toLong -> (0 until i % 3).map(i + _))

    val scans = out.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    scans should have size 1
    val read = scans.head.scan.readSchema()
    read.fieldNames.toSeq shouldBe Seq("id", "items")
    read("items").dataType match {
      case ArrayType(st: StructType, _) => st.fieldNames.toSeq shouldBe Seq("qty")
      case other => fail(s"items read as ${other.simpleString}")
    }
  }
}
