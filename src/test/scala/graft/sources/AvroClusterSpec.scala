package graft.sources

import java.io.File

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Layout-repair maintenance: [[AvroMaintenance.compactSortedTo]]
  * (bin-pack AND re-sort, keeping the verified sortedBy claim so
  * metadata MIN/MAX + zone skipping survive compaction) and
  * [[AvroMaintenance.clusterBy]] (OPTIMIZE ZORDER — after the rewrite,
  * selective predicates on EITHER clustered dimension skip files via
  * the all-column zones, where the incoming single-sorted layout could
  * only prune one).
  */
class AvroClusterSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_clu")

  private def scanParts(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = df.queryExecution.executedPlan
    val under = root.collectFirst {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }.getOrElse(root)
    under.collect { case b: BatchScanExec => b }.head.inputPartitions.size
  }

  test("compactSortedTo keeps the sort claim, zones, and metadata MIN/MAX") {
    val in = tmp(); val out = tmp()
    spark.range(0, 10000).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartitionByRange(24, F.col("k")).sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(in)
    AvroMaintenance.dataFiles(in) shouldBe 24
    AvroMaintenance.compactSortedTo(spark, in, out, "k",
      AvroMaintenance.listBytes(in) / 4)
    val nOut = AvroMaintenance.dataFiles(out)
    nOut should be < 24
    // sort marker + zones carried through the rewrite
    AvroFileSource.sortedColumnOf(new File(out)) shouldBe Some("k")
    ZoneCells.coverAll(out, "k") shouldBe true
    val t = spark.read.format("graft-avro").load(out)
    // metadata-served MIN/MAX still works (zero file opens)
    t.agg(F.min("k"), F.max("k")).collect().head.toSeq shouldBe Seq(0L, 9999L)
    // selective predicate still skips files on the compacted table
    scanParts(t.filter(F.col("k") >= 9900)) should be < nOut
    t.filter(F.col("k") >= 9900).count() shouldBe 100
  }

  test("clusterBy makes BOTH dimensions prunable where sort covered one") {
    val in = tmp(); val out = tmp()
    // x-sorted input: x-zones are tight, y-zones span the domain
    spark.range(0, 10000).toDF("i")
      .select((F.col("i") % 100).as("x"), (F.col("i") / 100).cast("long").as("y"),
        F.md5(F.col("i").cast("string")).as("payload"))
      .repartitionByRange(16, F.col("x")).sortWithinPartitions("x")
      .write.format("graft-avro").mode("overwrite").save(in)
    val tIn = spark.read.format("graft-avro").load(in)
    val nIn = AvroMaintenance.dataFiles(in)
    scanParts(tIn.filter(F.col("x") === 5L)) should be < nIn // x prunes
    scanParts(tIn.filter(F.col("y") === 5L)) shouldBe nIn // y cannot
    AvroMaintenance.clusterBy(spark, in, out, "x", "y", 16)
    val tOut = spark.read.format("graft-avro").load(out)
    val nOut = AvroMaintenance.dataFiles(out)
    // after z-ordering both dimensions skip files
    scanParts(tOut.filter(F.col("x") === 5L)) should be < nOut
    scanParts(tOut.filter(F.col("y") === 5L)) should be < nOut
    // and answers are intact
    tOut.filter(F.col("x") === 5L).count() shouldBe 100
    tOut.filter(F.col("y") === 5L).count() shouldBe 100
    tOut.count() shouldBe 10000
  }

  test("clusterBy curve=hilbert prunes both dimensions with contiguous files") {
    val in = tmp(); val out = tmp()
    spark.range(0, 10000).toDF("i")
      .select((F.col("i") % 100).as("x"), (F.col("i") / 100).cast("long").as("y"),
        F.md5(F.col("i").cast("string")).as("payload"))
      .repartition(8)
      .write.format("graft-avro").mode("overwrite").save(in)
    AvroMaintenance.clusterBy(spark, in, out, "x", "y", 16,
      curve = "hilbert")
    val tOut = spark.read.format("graft-avro").load(out)
    val nOut = AvroMaintenance.dataFiles(out)
    scanParts(tOut.filter(F.col("x") === 5L)) should be < nOut
    scanParts(tOut.filter(F.col("y") === 5L)) should be < nOut
    // box predicate: the Hilbert layout's contiguous file regions must
    // confine a 10x10 box to a small fraction of the files
    scanParts(tOut.filter(F.col("x") < 10 && F.col("y") < 10)) should
      be <= (nOut / 4)
    tOut.filter(F.col("x") === 5L).count() shouldBe 100
    tOut.filter(F.col("y") === 5L).count() shouldBe 100
    tOut.filter(F.col("x") < 10 && F.col("y") < 10).count() shouldBe 100
    tOut.count() shouldBe 10000
  }
}
