package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `requestSort=true`: the write DECLARES its layout needs through DSv2
  * RequiresDistributionAndOrdering and Spark inserts the exchange + sort —
  * the caller never pre-sorts. The proof rides on the existing verified-
  * claim machinery: OrderVerifier throws on any unsorted file, so a green
  * requestSort write of shuffled input is itself evidence Spark applied
  * the requested ordering.
  */
class AvroSortReqSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_sortreq")

  test("requestSort sorts unsorted input: claim verified, zones stamped") {
    val dir = tmp()
    // adversarially shuffled input — a plain sortedBy write of this throws
    val df = spark.range(2000)
      .selectExpr("((id * 48271) % 2000) as id", "id % 7 as grp")
      .repartition(5)
    df.write.format("graft-avro")
      .option("sortedBy", "id").option("requestSort", "true")
      .mode("overwrite").save(dir)
    AvroFileSource.sortedColumnOf(new java.io.File(dir)) shouldBe Some("id")
    val back = spark.read.format("graft-avro").load(dir)
    back.count() shouldBe 2000
    back.agg(F.sum("id")).head().getLong(0) shouldBe (0L until 2000L).sum
    // ordered (range) distribution ⇒ non-overlapping files ⇒ an equality
    // predicate prunes to at most one file via the zone manifest
    ZoneCells.coverAll(dir, "id") shouldBe true
  }

  test("the same shuffled input WITHOUT requestSort fails the claim") {
    val dir = tmp()
    val err = intercept[Exception] {
      spark.range(2000)
        .selectExpr("((id * 48271) % 2000) as id")
        .repartition(5)
        .write.format("graft-avro").option("sortedBy", "id")
        .mode("overwrite").save(dir)
    }
    err.toString + Option(err.getCause).mkString should include("violated")
  }

  // the flat writer verifies every sortable key type with its internal
  // comparator: a string or decimal claim is checked, not waved through
  Seq("string" -> "cast((id * 48271) % 2000 as string)",
      "decimal" -> "cast((id * 48271) % 2000 as decimal(12, 2))")
    .foreach { case (kind, key) =>
      test(s"unpartitioned sortedBy on a shuffled $kind key fails the claim") {
        val dir = tmp()
        val err = intercept[Exception] {
          spark.range(2000)
            .selectExpr(s"$key as k")
            .repartition(5)
            .write.format("graft-avro").option("sortedBy", "k")
            .mode("overwrite").save(dir)
        }
        err.toString + Option(err.getCause).mkString should include("violated")
        AvroFileSource.sortedColumnOf(new java.io.File(dir)) shouldBe None
      }
    }

  test("partitioned requestSort: one file per partition dir, no pre-shape") {
    val dir = tmp()
    spark.range(1000)
      .selectExpr("id", "concat('p', id % 4) as part")
      .repartition(8) // rows of every partition scattered over 8 tasks
      .write.format("graft-avro")
      .option("partitionBy", "part").option("requestSort", "true")
      .mode("overwrite").save(dir)
    val dirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("part="))
    dirs.length shouldBe 4
    // clustered distribution: each hive dir is written by exactly one task
    dirs.foreach { d =>
      d.listFiles().count(_.getName.endsWith(".avro")) shouldBe 1
    }
    spark.read.format("graft-avro").load(dir).count() shouldBe 1000
  }

  test("partitioned + sorted requestSort: claim verified inside each dir") {
    val dir = tmp()
    spark.range(1000)
      .selectExpr("((id * 48271) % 1000) as id", "concat('p', id % 3) as part")
      .repartition(6)
      .write.format("graft-avro")
      .option("partitionBy", "part").option("sortedBy", "id")
      .option("requestSort", "true")
      .mode("overwrite").save(dir)
    AvroFileSource.sortedColumnOf(new java.io.File(dir)) shouldBe Some("id")
    spark.read.format("graft-avro").load(dir).count() shouldBe 1000
  }

  test("requestSort without a layout to request is rejected") {
    val dir = tmp()
    val err = intercept[Exception] {
      spark.range(10).write.format("graft-avro")
        .option("requestSort", "true").mode("overwrite").save(dir)
    }
    err.toString + Option(err.getCause).mkString should
      include("requestSort")
  }
}
