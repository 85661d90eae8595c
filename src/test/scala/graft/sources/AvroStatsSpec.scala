package graft.sources

import java.io.File

import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** ANALYZE-free planner statistics: every staged commit records exact
  * per-file row counts (`_graft_rows`, free at write time) and the
  * opt-in `ndvFor` option folds per-(file, column) HLL sketches
  * (`_graft_ndv`) that merge by register max at plan time. Serving rules
  * pinned here: EXACT numRows only under full coverage of the live file
  * set, everything withheld while a delete sidecar exists (deleted rows
  * still count in the manifests) or under time travel, uncovered files
  * (streamed epochs, legacy writes, foreign files) withhold rather than
  * undercount, and the NDV estimate stays within sketch tolerance of
  * the truth across a multi-file merge. Any stats sidecar that cannot
  * be read serves nothing and says so once on stderr; a missing one is
  * silent.
  */
class AvroStatsSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_stats")

  private def stats(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = df.queryExecution.executedPlan
    val under = root.collectFirst {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }.getOrElse(root)
    under.collect { case b: BatchScanExec => b }.head
      .scan.asInstanceOf[SupportsReportStatistics].estimateStatistics()
  }

  test("numRows is exact, survives appends, and needs zero file opens") {
    val dir = tmp()
    spark.range(0, 5000).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartition(8)
      .write.format("graft-avro").mode("overwrite").save(dir)
    val t = spark.read.format("graft-avro").load(dir)
    stats(t).numRows().getAsLong shouldBe 5000L
    // append widens the count; the manifest merge covers the new files
    spark.range(5000, 5250).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .write.format("graft-avro").mode("append").save(dir)
    stats(spark.read.format("graft-avro").load(dir))
      .numRows().getAsLong shouldBe 5250L
  }

  test("ndvFor serves a merged HLL distinct estimate within tolerance") {
    val dir = tmp()
    // 5000 rows, 1000 distinct grp values spread over 8 files: the
    // per-file sketches each see a subset; only the merged registers
    // can estimate the global cardinality
    spark.range(0, 5000).toDF("k")
      .withColumn("grp", (F.col("k") % 1000))
      .repartition(8)
      .write.format("graft-avro").mode("overwrite")
      .option("ndvFor", "grp,k").save(dir)
    val cs = stats(spark.read.format("graft-avro").load(dir)).columnStats()
    cs.isEmpty shouldBe false
    val byName = cs.entrySet().iterator()
    var got = Map.empty[String, Long]
    while (byName.hasNext) {
      val e = byName.next()
      got += e.getKey.fieldNames().mkString(".") ->
        e.getValue.distinctCount().getAsLong
    }
    got.keySet shouldBe Set("grp", "k")
    // m=256 HLL standard error ~6.5%; assert a loose 15% envelope
    got("grp").toDouble shouldBe 1000.0 +- 150.0
    got("k").toDouble shouldBe 5000.0 +- 750.0
  }

  test("zone-manifest min/max serve as CBO column stats, exact") {
    val dir = tmp()
    spark.range(0, 5000).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .withColumn("d", F.expr("date_add(date'2024-01-01', " +
        "cast(k % 400 as int))"))
      .repartition(8)
      .write.format("graft-avro").mode("overwrite").save(dir)
    val cs = stats(spark.read.format("graft-avro").load(dir)).columnStats()
    var got = Map.empty[String, (Any, Any)]
    val it = cs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.min().isPresent)
        got += e.getKey.fieldNames().mkString(".") ->
          ((e.getValue.min().get(), e.getValue.max().get()))
    }
    // r18: strings below the 64-char truncation cap serve exactly too
    got.keySet shouldBe Set("k", "d", "payload")
    got("k") shouldBe ((0L, 4999L))
    // dates serve as catalyst epoch days
    val d0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay.toInt
    got("d") shouldBe ((d0, d0 + 399))
    // strings serve as catalyst UTF8String, exact extremes
    val Array(mnP, mxP) = spark.read.format("graft-avro").load(dir)
      .agg(F.min("payload"), F.max("payload")).head()
      .toSeq.map(_.toString).toArray
    got("payload") shouldBe ((
      org.apache.spark.unsafe.types.UTF8String.fromString(mnP),
      org.apache.spark.unsafe.types.UTF8String.fromString(mxP)))
  }

  test("string bounds at the truncation cap withhold; null counts serve") {
    val dir = tmp()
    // `long_s` values are 70 chars — the manifest bounds sit at the
    // 64-char cap (maybe-truncated ⇒ inexact ⇒ withheld); `short_s` is
    // exact; `v` is null for every 10th row (cnt: cells make the null
    // count exact per column, any type)
    spark.range(0, 1000).toDF("k")
      .withColumn("long_s", F.concat(F.lit("x" * 66),
        F.format_string("%04d", F.col("k"))))
      .withColumn("short_s", F.format_string("s%04d", F.col("k")))
      .withColumn("v", F.expr("if(k % 10 = 0, null, k * 2)"))
      .repartition(4)
      .write.format("graft-avro").mode("overwrite").save(dir)
    val cs = stats(spark.read.format("graft-avro").load(dir)).columnStats()
    var mm = Map.empty[String, (Any, Any)]
    var nulls = Map.empty[String, Long]
    val it = cs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val n = e.getKey.fieldNames().mkString(".")
      if (e.getValue.min().isPresent)
        mm += n -> ((e.getValue.min().get(), e.getValue.max().get()))
      if (e.getValue.nullCount().isPresent)
        nulls += n -> e.getValue.nullCount().getAsLong
    }
    mm.contains("long_s") shouldBe false // at-cap bounds are inexact
    mm("short_s") shouldBe ((
      org.apache.spark.unsafe.types.UTF8String.fromString("s0000"),
      org.apache.spark.unsafe.types.UTF8String.fromString("s0999")))
    nulls("v") shouldBe 100L
    nulls("k") shouldBe 0L
    nulls("long_s") shouldBe 0L
  }

  test("column stats flow into catalyst estimation (join-order inputs)") {
    val dir = tmp()
    spark.range(0, 2000).toDF("k")
      .withColumn("name",
        F.concat(F.lit("n"), (F.col("k") % 50).cast("string")))
      .withColumn("v", F.expr("if(k % 4 = 0, null, k)"))
      .write.format("graft-avro").option("ndvFor", "name")
      .mode("overwrite").save(dir)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val df = spark.read.format("graft-avro").load(dir)
        .filter(F.col("name").isNotNull)
      val st = df.queryExecution.optimizedPlan.stats
      // the string join key carries NDV + exact min/max + null count —
      // exactly the inputs join reordering weighs
      val byName = st.attributeStats.map { case (a, s) => a.name -> s }
      val nameStat = byName("name")
      nameStat.distinctCount.get.toLong should be(50L +- 8L)
      nameStat.nullCount.map(_.toLong) shouldBe Some(0L)
      nameStat.min.map(_.toString) shouldBe Some("n0")
      nameStat.max.map(_.toString) shouldBe Some("n9")
      byName("v").nullCount.map(_.toLong) shouldBe Some(500L)
      st.rowCount.map(_.toLong) shouldBe Some(2000L)
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("timestamp + decimal columns serve CBO min/max (r19)") {
    val dir = tmp()
    spark.range(0, 1000).toDF("k")
      .withColumn("ts", F.expr(
        "timestamp_micros(1704067200000000 + k * 60000000)")) // 2024-01-01 + k min
      .withColumn("price", F.expr(
        "cast(cast(k as decimal(12,2)) / 4 as decimal(12,2))"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val df = spark.read.format("graft-avro").load(dir)
        .filter(F.col("k").isNotNull)
      val byName = df.queryExecution.optimizedPlan.stats.attributeStats
        .map { case (a, s) => a.name -> s }
      // catalyst internal: timestamps are epoch MICROS (the DateType
      // epoch-days precedent); the events-table join key gets a range
      // estimate instead of a blind guess
      byName("ts").min.map(_.asInstanceOf[Long]) shouldBe
        Some(1704067200000000L)
      byName("ts").max.map(_.asInstanceOf[Long]) shouldBe
        Some(1704067200000000L + 999L * 60000000L)
      byName("ts").nullCount.map(_.toLong) shouldBe Some(0L)
      val pMin = byName("price").min.get
        .asInstanceOf[org.apache.spark.sql.types.Decimal]
      val pMax = byName("price").max.get
        .asInstanceOf[org.apache.spark.sql.types.Decimal]
      pMin.toBigDecimal shouldBe BigDecimal("0.00")
      pMax.toBigDecimal shouldBe BigDecimal("249.75")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("posdel hybrid: dirty extremes withhold bounds, exact rows serve") {
    val dir = tmp()
    spark.range(0, 100).toDF("k").coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    stats(spark.read.format("graft-avro").load(dir))
      .columnStats().isEmpty shouldBe false
    val rel = AvroFileSource.listAvro(new java.io.File(dir)).head.getName
    AvroMaintenance.deleteAtPositions(dir, rel, Seq(99L)) // kills max
    val s2 = stats(spark.read.format("graft-avro").load(dir))
    // r20 hybrid: numRows stays exact (physical − dead); the single
    // file is dirty so its bounds may be dead rows — min/max withheld —
    // but the file holds ZERO nulls, so the null count still serves
    s2.numRows().getAsLong shouldBe 99L
    val cs = s2.columnStats()
    cs.isEmpty shouldBe false
    val st = cs.values().iterator().next()
    st.min().isPresent shouldBe false
    st.nullCount().getAsLong shouldBe 0L
  }

  test("posdel hybrid: clean-file bounds serve when dirty sits inside") {
    val dir = tmp()
    // file A holds the global extremes [0, 999]; file B [200, 799] is
    // strictly inside. Delete a row of B: B is dirty but cannot extend
    // the clean range — bounds serve exactly. Then delete a row of A:
    // the extreme-holding file is dirty — bounds withhold.
    spark.range(0, 1000).toDF("k").coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    spark.range(200, 800).toDF("k").coalesce(1)
      .write.format("graft-avro").mode("append").save(dir)
    val rels = AvroFileSource.listAvro(new java.io.File(dir))
      .map(_.getName).sorted
    // identify which rel holds the wide range via the zones manifest
    val zf = AvroFileSource.colZoneFile(new java.io.File(dir))
    val raw = AvroFileSource.readColZonesRaw(zf)
    val wide = rels.find(r => raw.getOrElse(r, Nil)
      .exists(c => c._1 == "k" && c._3 == "0")).get
    val narrow = rels.find(_ != wide).get
    AvroMaintenance.deleteAtPositions(dir, narrow, Seq(0L))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val byName = spark.read.format("graft-avro").load(dir)
        .filter(F.col("k").isNotNull)
        .queryExecution.optimizedPlan.stats.attributeStats
        .map { case (a, s) => a.name -> s }
      byName("k").min.map(_.asInstanceOf[Long]) shouldBe Some(0L)
      byName("k").max.map(_.asInstanceOf[Long]) shouldBe Some(999L)
      byName("k").nullCount.map(_.toLong) shouldBe Some(0L)
      // now dirty the extreme-holding file: bounds withhold
      AvroMaintenance.deleteAtPositions(dir, wide, Seq(5L))
      val by2 = spark.read.format("graft-avro").load(dir)
        .filter(F.col("k").isNotNull)
        .queryExecution.optimizedPlan.stats.attributeStats
        .map { case (a, s) => a.name -> s }
      by2.get("k").flatMap(_.min) shouldBe None
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("a posdel-dirty small dimension still broadcasts under CBO") {
    val dimDir = tmp(); val factDir = tmp()
    spark.range(0, 200).toDF("id")
      .withColumn("name", F.concat(F.lit("d"), F.col("id")))
      .coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dimDir)
    spark.range(0, 20000).toDF("fk")
      .withColumn("v", F.col("fk") * 2)
      .write.format("graft-avro").mode("overwrite").save(factDir)
    val rel = AvroFileSource.listAvro(new java.io.File(dimDir))
      .head.getName
    AvroMaintenance.deleteAtPositions(dimDir, rel, Seq(7L))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val dim = spark.read.format("graft-avro").load(dimDir)
      val fact = spark.read.format("graft-avro").load(factDir)
      val j = fact.join(dim, F.col("fk") === F.col("id"))
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val root = j.queryExecution.executedPlan
      val under = root.collectFirst {
        case a: AdaptiveSparkPlanExec => a.executedPlan
      }.getOrElse(root)
      under.collect {
        case b: org.apache.spark.sql.execution.joins
            .BroadcastHashJoinExec => b
      } should not be empty
      j.count() shouldBe 199L // dim row 7 is dead
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("a delete sidecar withholds numRows and column stats") {
    val dir = tmp()
    spark.range(0, 100).toDF("k")
      .withColumn("grp", F.col("k") % 10)
      .write.format("graft-avro").mode("overwrite")
      .option("ndvFor", "grp").save(dir)
    stats(spark.read.format("graft-avro").load(dir))
      .numRows().isPresent shouldBe true
    AvroMaintenance.deleteWhere(spark, dir, "k", Seq(5L))
    val s2 = stats(spark.read.format("graft-avro").load(dir))
    s2.numRows().isPresent shouldBe false // 100 would overcount by 1
    s2.columnStats().isEmpty shouldBe true
  }

  test("an uncovered file withholds the total instead of undercounting") {
    val dir = tmp()
    spark.range(0, 100).toDF("k").repartition(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    // a foreign data file on a LEGACY (unjournaled) table: the walk
    // fallback lists it, the rows manifest doesn't cover it. (On a
    // journaled table the file would simply be invisible until a
    // commit journals it — JournalPlanSpec pins that.)
    val src = AvroFileSource.listAvro(new File(dir)).head
    java.nio.file.Files.copy(src.toPath,
      new File(dir, "part-foreign.avro").toPath)
    AvroFileSource.snapshotsFile(new File(dir)).delete() shouldBe true
    val s = stats(spark.read.format("graft-avro").load(dir))
    s.numRows().isPresent shouldBe false
    // the data itself still reads fine (200 rows now)
    spark.read.format("graft-avro").load(dir).count() shouldBe 200
  }

  test("time travel plans without served statistics") {
    val dir = tmp()
    spark.range(0, 50).toDF("k")
      .write.format("graft-avro").mode("overwrite").save(dir) // v1
    spark.range(50, 80).toDF("k")
      .write.format("graft-avro").mode("append").save(dir)    // v2
    stats(spark.read.format("graft-avro").load(dir))
      .numRows().getAsLong shouldBe 80L
    stats(spark.read.format("graft-avro").option("versionAsOf", 1).load(dir))
      .numRows().isPresent shouldBe false
  }

  /** Run `body` with System.err captured; the captured text. */
  private def stderrOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(saved)
    buf.toString("UTF-8")
  }

  test("an unreadable sidecar reads as empty with one stderr line " +
      "naming it; a missing one prints nothing") {
    val dir = tmp()
    val d = new File(dir)
    spark.range(0, 400).toDF("k").repartition(4)
      .write.format("graft-avro").option("bloomFor", "k")
      .mode("overwrite").save(dir)
    def answer() = spark.read.format("graft-avro").load(dir)
      .filter(F.col("k").isin(17L, 250L))
      .collect().map(_.getLong(0)).sorted.toSeq
    answer() shouldBe Seq(17L, 250L)
    val bf = AvroFileSource.bloomFile(d)
    val zf = AvroFileSource.colZoneFile(d)
    // a tab-separated line whose bytes are not UTF-8
    val bad = Array[Byte]('a', '\t', 0xC3.toByte, 0x28, '\n')
    Seq(bf, zf).foreach(f => java.nio.file.Files.write(f.toPath, bad))
    val err = stderrOf {
      AvroFileSource.readBloomsRaw(bf) shouldBe empty
      AvroFileSource.readColZonesRaw(zf) shouldBe empty
    }.split("\n").toSeq
    err.count(_.contains(bf.getPath)) shouldBe 1
    err.count(_.contains(zf.getPath)) shouldBe 1
    answer() shouldBe Seq(17L, 250L)

    val none = new File(tmp())
    stderrOf {
      AvroFileSource.readColZonesRaw(
        AvroFileSource.colZoneFile(none)) shouldBe empty
      AvroFileSource.readBloomsRaw(AvroFileSource.bloomFile(none)) shouldBe
        empty
      AvroFileSource.readRowsRaw(AvroFileSource.rowsFile(none)) shouldBe empty
      AvroFileSource.readNdvRaw(AvroFileSource.ndvFile(none)) shouldBe empty
      AvroFileSource.readBlockIdxRaw(
        AvroFileSource.blockIdxFile(none)) shouldBe empty
    } shouldBe ""
  }
}
