package graft.sources

import java.io.File

import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The row reader factory ships per-file birth versions (consulted by
  * stamped equality deletes) to every task. The map must hold only the
  * files the scan planned, under both their live and archive path, not
  * every live file of the table.
  */
class BirthsScopeSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("a one-file lookup ships the births of its planned files only") {
    val dir = graft.operators.Catalog.tempDir("graft_births")
    val files = 16
    spark.range(0, 1600).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartition(files, F.col("k"))
      .write.format("graft-avro").option("bloomFor", "k")
      .mode("overwrite").save(dir)
    AvroFileSource.listAvro(new File(dir)).size shouldBe files
    val victim = 421L
    AvroMaintenance.deleteWhere(spark, dir, "k", Seq(victim))

    val schema = spark.read.format("graft-avro").load(dir).schema
    def lookup(k: Long): (Set[String], Map[String, Long]) = {
      val sb = new AvroScanBuilder(dir, schema)
      sb.pushFilters(Array(EqualTo("k", k)))
      val batch = sb.build().toBatch
      val planned = batch.planInputPartitions().collect {
        case p: AvroInputPartition => p.file
      }.toSet
      val births = batch.createReaderFactory() match {
        case f: AvroReaderFactory => f.births
        case other => fail(s"unexpected factory $other")
      }
      (planned, births)
    }

    Seq(victim, 7L).foreach { k =>
      val (planned, births) = lookup(k)
      planned.size should (be >= 1 and be < files / 2)
      births.size should be <= 2 * planned.size
      planned.foreach(f => births.keySet should contain(f))
    }
    // the stamped delete still applies to the looked-up file
    val df = spark.read.format("graft-avro").load(dir)
    df.filter(F.col("k") === victim).count() shouldBe 0L
    df.filter(F.col("k") === 7L).count() shouldBe 1L
    df.count() shouldBe 1599L
  }
}
