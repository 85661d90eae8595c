package graftbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession, functions => F}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.sources.AvroMaintenance

/** One writer against a table prefilled with many small files, the key
  * sorted and bloom-indexed. Each step appends a small batch (one commit),
  * looks up two keys it just wrote and deletes a live prefill key. The
  * timed phase is a fixed number of steps, so every run ends at the same
  * table size.
  */
final class TableIngest(spark: SparkSession, rec: Recorder, seed: Long,
    traceRun: Boolean, work: File) extends Workload {
  import TableIngest._

  private val dir = new File(work, "ingest")
  // the reference, each right after the op it matches: the same batch
  // appended to a parquet table by Spark's own source; a point lookup in a
  // one-file parquet table; resolving that table's schema and writing a
  // small file, as a delete resolves the table and writes its delete file
  private val refDir = new File(work, "ref")
  private val refSmall = new File(work, "ref-small")
  private val refNote = new File(work, "ref-note")
  private val gen = new Rng(seed)
  private val a = 1 + gen.int(1000)
  private val b = gen.int(1000)
  private val rng = new Rng(seed * 31 + 11)

  private var nextKey = 0L
  private var prefillRows = 0L
  private var appended = 0L
  private val deleted = scala.collection.mutable.LinkedHashSet.empty[Long]
  private var step = 0L

  private def row(k: Long): Row = Row(k, (k % 16).toInt, k * a + b, s"s${(k * 7 + b) % 100000}")

  def setup(): Unit = prefill(PrefillFiles)

  /** The cold set-up only warms the code: a smaller table will do. */
  override def coldSetup(): Unit = prefill(PrefillFiles / 10)

  private def rows(n: Long, files: Int) = spark.range(0, n, 1, files)
    .select(F.col("id").as("k"), (F.col("id") % 16).cast("int").as("grp"),
      (F.col("id") * a + b).as("v"),
      F.concat(F.lit("s"), ((F.col("id") * 7 + b) % 100000).cast("string")).as("s"))

  private def prefill(files: Int): Unit = {
    Dirs.delete(dir)
    Tables.write(rows(files.toLong * PrefillRowsPerFile, files), dir, "k", "overwrite")
    Seq(refDir, refSmall).foreach(d =>
      rows(PrefillRowsPerFile, 1).write.mode("overwrite").parquet(d.getPath))
    prefillRows = files.toLong * PrefillRowsPerFile
    nextKey = prefillRows
    appended = 0L
    deleted.clear()
    val l = Tables.listing(dir)
    rec.info("prefill_files") = Tables.dataFiles(l).size
    rec.info("prefill_rows") = nextKey
    rec.info("prefill_bytes") = l.values.map(_._1).sum
  }

  def warmup(): Unit = (1 to WarmupSteps).foreach(_ => runStep())

  def timed(seconds: Double): Unit = {
    val steps = math.max(1L, math.round(seconds * StepsPerSecond))
    rec.info("timed_steps") = steps
    (1L to steps).foreach { _ =>
      // two steps on, two off
      rec.tracing = traceRun && step / 2 % 2 == 0
      runStep()
    }
    rec.tracing = false
  }

  private def runStep(): Unit =
    rec.step("ingest")(ingest())

  private def ingest(): Unit = {
    step += 1
    val keys = nextKey until nextKey + BatchRows
    nextKey += BatchRows
    val batch = spark.createDataFrame(keys.map(row).asJava, Schema).coalesce(1)
    val before = if (rec.tracing) Tables.listing(dir) else Map.empty[String, (Long, Long)]
    if (rec.op("commit") { Tables.write(batch, dir, "k", "append"); true })
      appended += BatchRows
    var dataFiles = 0
    if (rec.tracing) {
      val after = Tables.listing(dir)
      val (n, bytes) = Tables.metaTouched(before, after)
      val newData = Tables.dataFiles(after) -- Tables.dataFiles(before).keys
      rec.attr("meta_files_touched", n)
      rec.attr("meta_bytes_rewritten", bytes.toDouble)
      rec.attr("data_bytes_per_row", newData.values.map(_._1).sum.toDouble / BatchRows)
      dataFiles = Tables.dataFiles(after).size
    }
    rec.op("commit_ref") { batch.write.mode("append").parquet(refDir.getPath); true }

    // two lookups a step: a run's 20 steps gave too few for a steady mean
    (1 to LookupsPerStep).foreach { _ =>
      val key = keys(rng.int(BatchRows))
      val df = Tables.read(spark, dir).filter(F.col("k") === key)
      var got: Array[Row] = Array.empty
      rec.op("lookup") {
        rec.span("scan.plan")(df.queryExecution.executedPlan)
        got = rec.span("scan.exec")(df.collect())
        true
      }
      if (rec.tracing) {
        rec.attr("partitions_planned", Tables.partitionsPlanned(df.queryExecution.executedPlan))
        rec.attr("data_files", dataFiles)
        rec.attr("rows_out", got.length)
      }
      rec.check("ingest.read_your_write", got.toSeq == Seq(row(key)))
      val refKey = key % PrefillRowsPerFile
      val refDf = spark.read.parquet(refSmall.getPath).filter(F.col("k") === refKey)
      rec.op("lookup_ref") { refDf.queryExecution.executedPlan; got = refDf.collect(); true }
      rec.check("ref.lookup", got.toSeq == Seq(row(refKey)))
    }

    var victim = rng.int(prefillRows.toInt).toLong
    while (deleted(victim)) victim = rng.int(prefillRows.toInt).toLong
    if (rec.op("delete") {
      AvroMaintenance.deleteWhere(spark, dir.getPath, "k", Seq(victim)); true
    }) deleted += victim
    var fields = 0
    rec.op("delete_ref") {
      fields = spark.read.parquet(refSmall.getPath).schema.length
      java.nio.file.Files.write(refNote.toPath, s"k=$victim".getBytes)
      true
    }
    rec.check("ref.schema", fields == Schema.length)
  }

  def finish(): Unit = {
    val expected = prefillRows + appended - deleted.size
    val gone = F.col("k").isin(deleted.toSeq: _*)
    val Array(Row(rows: Long, undead: Long)) = Tables.read(spark, dir)
      .agg(F.count(F.lit(1)), F.count(F.when(gone, 1))).collect()
    rec.check("ingest.final_row_count", rows == expected)
    rec.check("ingest.deleted_keys_gone", undead == 0)
    val l = Tables.listing(dir)
    rec.info("table.data_files") = Tables.dataFiles(l).size
    rec.info("table.meta_bytes") = (l -- Tables.dataFiles(l).keys).values.map(_._1).sum
    rec.info("table.rows") = expected
  }
}

object TableIngest {
  val PrefillFiles = 1000
  val PrefillRowsPerFile = 10
  val BatchRows = 20
  val LookupsPerStep = 2
  val WarmupSteps = 10
  /** Timed steps per requested second (a fixed count, not a deadline). */
  val StepsPerSecond = 2.0

  val Schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("grp", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("s", StringType, nullable = false)))
}

object Dirs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
