package graft.sources

import java.io.File

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Per-file birth versions (consulted by stamped equality deletes and
  * column renames) reach every task. The main row scan puts each file's
  * birth on its own partition and ships no map; every other reader
  * factory's map must hold only the files its scan planned, under both
  * their live and archive path, not every live file of the table: the
  * batch change feed, the change-feed stream and the file stream.
  */
class BirthsScopeSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val files = 16
  private val victim = 421L

  /** 16 files over k = 0..1599, a stamped delete of `victim`, then one
    * appended file holding k = 5000..5009: versions 1, 2 and 3.
    */
  private def table(): String = {
    val dir = graft.operators.Catalog.tempDir("graft_births")
    spark.range(0, 1600).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartition(files, F.col("k"))
      .write.format("graft-avro").option("bloomFor", "k")
      .mode("overwrite").save(dir)
    AvroFileSource.listAvro(new File(dir)).size shouldBe files
    AvroMaintenance.deleteWhere(spark, dir, "k", Seq(victim))
    spark.range(5000, 5010).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1)
      .write.format("graft-avro").mode("append").save(dir)
    dir
  }

  /** The planned files are at most half the table, and the births map
    * holds each of them and at most its two paths.
    */
  private def checkScoped(planned: Set[String],
      births: Map[String, Long]): Unit = {
    planned.size should (be >= 1 and be < files / 2)
    births.size should be <= 2 * planned.size
    planned.foreach(f => births.keySet should contain(f))
  }

  private def cdcSchema(dir: String): (StructType, StructType) = {
    val data = spark.read.format("graft-avro").load(dir).schema
    (StructType(data.fields ++ Seq(
      StructField(AvroFileSource.CdcChangeType, StringType, nullable = false),
      StructField(AvroFileSource.CdcCommitVersion, LongType,
        nullable = false))), data)
  }

  private def cdcFiles(parts: Seq[Any]): Set[String] =
    parts.collect { case p: AvroCdcPartition => p.file }.toSet

  /** A row scan's planned files and the births its partitions carry;
    * its factory must carry none.
    */
  private def rowScan(dir: String, filters: Array[org.apache.spark.sql
      .sources.Filter]): (Set[String], Map[String, Long]) = {
    val schema = spark.read.format("graft-avro").load(dir).schema
    val sb = new AvroScanBuilder(dir, schema)
    sb.pushFilters(filters)
    val batch = sb.build().toBatch
    val parts = batch.planInputPartitions().collect {
      case p: AvroInputPartition => p
    }
    batch.createReaderFactory() match {
      case f: AvroReaderFactory => f.births shouldBe empty
      case other => fail(s"unexpected factory $other")
    }
    (parts.map(_.file).toSet, parts.map(p => p.file -> p.birth).toMap)
  }

  test("a one-file lookup ships the births of its planned files only") {
    val dir = table()
    def lookup(k: Long): (Set[String], Map[String, Long]) =
      rowScan(dir, Array(EqualTo("k", k)))

    Seq(victim, 7L).foreach { k =>
      val (planned, births) = lookup(k)
      checkScoped(planned, births)
    }
    // the stamped delete still applies to the looked-up file
    val df = spark.read.format("graft-avro").load(dir)
    df.filter(F.col("k") === victim).count() shouldBe 0L
    df.filter(F.col("k") === 7L).count() shouldBe 1L
    df.count() shouldBe 1609L
  }

  test("a full scan's factory holds no births map; answers are unchanged") {
    val dir = table()
    // re-insert the deleted key at version 4: the delete stamped at
    // version 2 must not apply to the new file, which only its birth tells
    spark.range(victim, victim + 1).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1)
      .write.format("graft-avro").mode("append").save(dir)
    val (planned, births) = rowScan(dir, Array.empty)
    planned.size shouldBe files + 2
    val snaps = AvroFileSource.readSnapshots(new File(dir))
    def bornAt(v: Long): Seq[String] =
      snaps.find(_.version == v).get.files
        .filterNot(snaps.find(_.version == v - 1).get.files.toSet)
        .map(rel => new File(dir, rel).getAbsolutePath)
    births.filter(_._2 == 3L).keySet shouldBe bornAt(3L).toSet
    births.filter(_._2 == 4L).keySet shouldBe bornAt(4L).toSet
    births.values.count(_ == 0L) shouldBe files
    Seq("true", "false").foreach { columnar =>
      val df = spark.read.format("graft-avro").option("columnar", columnar)
        .load(dir)
      df.count() shouldBe 1610L
      df.filter(F.col("k") === victim).count() shouldBe 1L
      df.filter(F.col("k") >= 5000L).count() shouldBe 10L
    }
  }

  test("a batch change-feed read ships the births of its version's files") {
    val dir = table()
    val feed = spark.read.format("graft-avro")
      .option("readChangeFeed", "true").option("startingVersion", "3")
      .load(dir)
    val scan = feed.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no batch scan"))
    val planned = cdcFiles(scan.inputPartitions)
    val births = scan.readerFactory match {
      case f: AvroCdcReaderFactory => f.births
      case other => fail(s"unexpected factory $other")
    }
    planned.size shouldBe 1
    checkScoped(planned, births)
    feed.count() shouldBe 10L
  }

  test("a change-feed micro-batch ships the births of its files") {
    val dir = table()
    val (required, data) = cdcSchema(dir)
    val stream = new AvroCdcMicroBatchStream(dir, required, data, Some(3L))
    val parts = stream.planInputPartitions(stream.deserializeOffset("2"),
      stream.deserializeOffset("3"))
    val births = stream.createReaderFactory() match {
      case f: AvroCdcReaderFactory => f.births
      case other => fail(s"unexpected factory $other")
    }
    val planned = cdcFiles(parts.toSeq)
    planned.size shouldBe 1
    checkScoped(planned, births)
  }

  test("a file-stream micro-batch ships the births of its files") {
    val dir = table()
    val full = spark.read.format("graft-avro").load(dir).schema
    val stream = new AvroMicroBatchStream(dir, full, full,
      graft.operators.Catalog.tempDir("graft_births_ckpt"))
    stream.latestOffset().json() shouldBe (files + 1).toString
    val parts = stream.planInputPartitions(
      stream.deserializeOffset(files.toString),
      stream.deserializeOffset((files + 1).toString))
    val births = stream.createReaderFactory() match {
      case f: AvroReaderFactory => f.births
      case other => fail(s"unexpected factory $other")
    }
    val planned = parts.collect { case p: AvroInputPartition => p.file }.toSet
    planned.size shouldBe 1
    checkScoped(planned, births)
  }
}
