package graft.sources

import java.io.File

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Block-range zone index (`_graft_blockidx`): a verified sorted write
  * records per-CHUNK [min, max] of the sort column with the chunk's
  * byte range (forced sync every BlockIdxRows rows), and a selective
  * predicate then opens only the OVERLAPPING CHUNKS of a file — the
  * parquet row-group analogue inside an Avro container. These specs pin
  * (a) strictly-fewer input partitions than chunks with unchanged
  * answers, (b) soundness composition with positional deletes (absolute
  * ordinals survive range-pruned reads), (c) the group-exact row-level
  * contract (no chunk pruning under row-level ops), and (d) fallback on
  * a stale tiling.
  */
class BlockIdxSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_bix")

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = df.queryExecution.executedPlan
    val under = root.collectFirst {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }.getOrElse(root)
    under.collect { case b: BatchScanExec => b }.head.inputPartitions.size
  }

  /** 40k sorted rows in ONE file → ~10 chunks of 4096 rows. */
  private def writeSorted(dir: String, n: Long = 40000L): Unit = {
    spark.range(0, n).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1).sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(dir)
  }

  test("a point lookup opens one chunk of a one-file sorted table; " +
      "answers unchanged") {
    val dir = tmp()
    writeSorted(dir)
    AvroFileSource.listAvro(new File(dir)).size shouldBe 1
    val idx = AvroFileSource.readBlockIdxRaw(
      AvroFileSource.blockIdxFile(new File(dir)))
    idx.size shouldBe 1
    val nChunks = idx.head._2.size
    nChunks should be >= 5

    val t = spark.read.format("graft-avro").load(dir)
    scanPartitions(t) shouldBe 1 // unfiltered: one file, one task
    val point = t.filter(F.col("k") === 31007L)
    scanPartitions(point) shouldBe 1
    point.collect().map(_.getLong(0)) shouldBe Array(31007L)
    // a mid-range slice opens only its overlapping chunks
    val slice = t.filter(F.col("k").between(12000L, 20000L))
    val sliceParts = scanPartitions(slice)
    sliceParts should be >= 1
    sliceParts should be < nChunks
    slice.count() shouldBe 8001L
    // cross-check answers against the in-memory truth
    val top = t.filter(F.col("k") >= 39000L)
    top.count() shouldBe 1000L
    top.agg(F.sum("k")).head().getLong(0) shouldBe
      (39000L until 40000L).sum
  }

  test("adjacent surviving chunks merge into one range") {
    val dir = tmp()
    writeSorted(dir)
    val t = spark.read.format("graft-avro").load(dir)
    // a wide range spanning many adjacent chunks still plans as ONE
    // merged partition (plus possibly a boundary chunk)
    val wide = t.filter(F.col("k") >= 4000L && F.col("k") < 36000L)
    scanPartitions(wide) should be <= 2
    wide.count() shouldBe 32000L
  }

  test("positional deletes stay exact through chunk-pruned reads") {
    val dir = tmp()
    writeSorted(dir)
    // kill two rows deep in the file: ordinals == k (one sorted file)
    AvroMaintenance.deleteAtPositions(dir,
      AvroFileSource.listAvro(new File(dir)).head.getName,
      Seq(31007L, 31008L))
    val t = spark.read.format("graft-avro").load(dir)
    t.filter(F.col("k") === 31007L).count() shouldBe 0L
    t.filter(F.col("k").between(31000L, 31019L)).count() shouldBe 18L
    t.count() shouldBe 39998L
  }

  test("row-level ops never chunk-prune (group-exact contract): an " +
      "UPDATE rewrites whole groups losslessly") {
    val root = graft.operators.Catalog.tempDir("graft_bix_cat")
    spark.conf.set("spark.sql.catalog.graft_bix",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_bix.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bix.ns")
    spark.sql("DROP TABLE IF EXISTS graft_bix.ns.t")
    spark.range(0, 40000).toDF("k")
      .withColumn("v", F.col("k") * 2)
      .coalesce(1).sortWithinPartitions("k")
      .createOrReplaceTempView("bix_src")
    spark.sql("CREATE TABLE graft_bix.ns.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft_bix.ns.t " +
      "SELECT /*+ COALESCE(1) */ k, v FROM bix_src ORDER BY k")
    // write the sorted layout via the path API so the index exists
    val tdir = new File(new File(root, "ns"), "t").getPath
    spark.read.format("graft-avro").load(tdir)
      .orderBy("k").coalesce(1).sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(tdir)
    AvroFileSource.blockIdxFile(new File(tdir)).isFile shouldBe true
    spark.sql("UPDATE graft_bix.ns.t SET v = v + 1 WHERE k = 31007")
    // every untouched row of the rewritten group survived
    spark.sql("SELECT count(*) FROM graft_bix.ns.t")
      .head().getLong(0) shouldBe 40000L
    spark.sql("SELECT v FROM graft_bix.ns.t WHERE k = 31007")
      .head().getLong(0) shouldBe 62015L
    spark.sql("SELECT sum(v) FROM graft_bix.ns.t").head().getLong(0) shouldBe
      (0L until 40000L).map(_ * 2).sum + 1
  }

  test("a stale tiling (file changed) falls back to the normal split") {
    val dir = tmp()
    writeSorted(dir)
    val bf = AvroFileSource.blockIdxFile(new File(dir))
    // forge a broken tiling: drop the first line (coverage hole at 0)
    val lines = new String(
      java.nio.file.Files.readAllBytes(bf.toPath), "UTF-8")
      .split('\n').filter(_.nonEmpty)
    java.nio.file.Files.write(bf.toPath,
      lines.drop(1).mkString("\n").getBytes("UTF-8"))
    val t = spark.read.format("graft-avro").load(dir)
    val point = t.filter(F.col("k") === 31007L)
    point.collect().map(_.getLong(0)) shouldBe Array(31007L)
    t.count() shouldBe 40000L
  }

  test("compound sortedBy: the SECONDARY column's chunk bounds prune " +
      "inside primary runs") {
    val dir = tmp()
    // two long primary runs; the secondary restarts per run, so its
    // per-chunk bounds are tight sub-ranges except at run straddles
    spark.range(0, 40000).toDF("k")
      .select((F.col("k") / 20000).cast("long").as("g"),
        (F.col("k") % 20000).cast("long").as("r"),
        F.md5(F.col("k").cast("string")).as("payload"))
      .coalesce(1).sortWithinPartitions("g", "r")
      .write.format("graft-avro").option("sortedBy", "g,r")
      .mode("overwrite").save(dir)
    val idx = AvroFileSource.readBlockIdxRaw(
      AvroFileSource.blockIdxFile(new File(dir)))
    idx.size shouldBe 1
    idx.head._2.map(_._1).distinct.size shouldBe 2 // both columns indexed
    val nChunks = idx.head._2.size / 2
    nChunks should be >= 5
    val t = spark.read.format("graft-avro").load(dir)
    // secondary-only predicate: one chunk per run (plus a straddler)
    val q = t.filter(F.col("r").between(100L, 200L))
    scanPartitions(q) should be < nChunks
    q.count() shouldBe 202L
    // primary + secondary point: a single chunk
    val q2 = t.filter(F.col("g") === 1L && F.col("r") === 13L)
    scanPartitions(q2) shouldBe 1
    q2.count() shouldBe 1L
  }

  test("runtime join-key IN-sets chunk-prune via per-chunk bloom cells " +
      "(r18): a broadcast key set drops chunks of a kept file") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    val dir = tmp()
    // sorted by g; id = scrambled bijection of the row — per-chunk id
    // zone bounds span ~the whole domain, only the bloom cells prune
    spark.range(0, 40000).toDF("k")
      .select((F.col("k") / 40).cast("long").as("g"),
        F.expr("pmod(k * 48271, 1000003)").cast("long").as("id"),
        F.md5(F.col("k").cast("string")).as("payload"))
      .coalesce(1).sortWithinPartitions("g")
      .write.format("graft-avro").option("sortedBy", "g")
      .option("chunkBloomFor", "id")
      .mode("overwrite").save(dir)
    val nChunks = AvroFileSource.readBlockIdxRaw(
      AvroFileSource.blockIdxFile(new File(dir)))
      .head._2.count(_._2.startsWith("bloom:"))
    nChunks should be >= 5
    val schema = spark.read.format("graft-avro").load(dir).schema
    def parts(runtimeIds: Seq[Long]): Int = {
      val sb = new AvroScanBuilder(dir, schema)
      val scan = sb.build()
      if (runtimeIds.nonEmpty)
        scan.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
          new Predicate("IN", (Expressions.column("id") +:
            runtimeIds.map(v => Expressions.literal(v))).toArray[
              org.apache.spark.sql.connector.expressions.Expression])))
      scan.toBatch.planInputPartitions().length
    }
    parts(Nil) shouldBe 1 // one file, no probes: whole-file split
    // three keys (rows 100, 20000, 39999) live in at most 3 chunks:
    // the runtime IN-set must open fewer partitions than chunks
    def idOf(k: Long): Long = Math.floorMod(k * 48271L, 1000003L)
    val kept = parts(Seq(idOf(100L), idOf(20000L), idOf(39999L)))
    kept should be >= 1
    kept should be < nChunks
    // absent keys: every chunk's bloom rejects (seeded data — a false
    // positive would be deterministic and visible here)
    parts(Seq(-5L, -6L)) shouldBe 0
    // and the answers through a real broadcast join stay exact
    val t = spark.read.format("graft-avro").load(dir)
    val keys = Seq(idOf(100L), idOf(20000L), idOf(39999L))
    import spark.implicits._
    t.join(F.broadcast(keys.toDF("id")), "id")
      .select("id").collect().map(_.getLong(0)).sorted shouldBe
      keys.sorted.toArray
  }

  test("one bad chunk-bloom line drops only itself: another file's " +
      "chunk pruning survives") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    val dir = tmp()
    // two sorted files of ~5 chunks each; id is a scrambled bijection,
    // so only the per-chunk bloom cells can rule chunks out
    spark.range(0, 40000).toDF("k")
      .select((F.col("k") / 40).cast("long").as("g"),
        F.expr("pmod(k * 48271, 1000003)").cast("long").as("id"))
      .repartitionByRange(2, F.col("g")).sortWithinPartitions("g")
      .write.format("graft-avro").option("sortedBy", "g")
      .option("chunkBloomFor", "id")
      .mode("overwrite").save(dir)
    val schema = spark.read.format("graft-avro").load(dir).schema
    def parts(ids: Seq[Long]): Int = {
      val scan = new AvroScanBuilder(dir, schema).build()
      scan.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
        new Predicate("IN", (Expressions.column("id") +:
          ids.map(v => Expressions.literal(v))).toArray[
            org.apache.spark.sql.connector.expressions.Expression])))
      scan.toBatch.planInputPartitions().length
    }
    // keys inside every file's id range but in no row (and no bloom
    // false positive): only the chunk blooms drop, every chunk of both
    val present = (0L until 40000L)
      .map(k => Math.floorMod(k * 48271L, 1000003L)).toSet
    val absent = (500000L until 1000000L).iterator
      .filter(v => !present(v) && parts(Seq(v)) == 0).take(2).toSeq
    parts(absent) shouldBe 0
    // corrupt ONE chunk-bloom line of the first file: an empty range start
    val bf = AvroFileSource.blockIdxFile(new File(dir))
    val lines = new String(java.nio.file.Files.readAllBytes(bf.toPath),
      "UTF-8").split("\n").toSeq
    val victim = lines.indexWhere(_.split('\t')(2).startsWith("bloom:"))
    val f = lines(victim).split('\t')
    val bad = (f.take(3) ++ Seq("") ++ f.drop(4)).mkString("\t")
    java.nio.file.Files.write(bf.toPath,
      lines.updated(victim, bad).mkString("\n").getBytes("UTF-8"))
    // only the victim's chunk is kept; the other file still drops whole
    parts(absent) shouldBe 1
  }

  test("analyze backfills a chunk index for a clustered file that " +
      "carries no sort claim (the Z-order shape)") {
    val dir = tmp()
    // ordered data WITHOUT a sortedBy claim: the write path indexes
    // nothing, exactly like a clusterBy/Z-order output
    spark.range(0, 40000).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1).sortWithinPartitions("k")
      .write.format("graft-avro").mode("overwrite").save(dir)
    AvroFileSource.blockIdxFile(new File(dir)).isFile shouldBe false
    AvroMaintenance.analyze(spark, dir, blockIdxFor = Some("k"))
    val idx = AvroFileSource.readBlockIdxRaw(
      AvroFileSource.blockIdxFile(new File(dir)))
    idx.size shouldBe 1
    idx.head._2.size should be >= 5
    val t = spark.read.format("graft-avro").load(dir)
    val point = t.filter(F.col("k") === 31007L)
    scanPartitions(point) shouldBe 1
    point.count() shouldBe 1L
    t.count() shouldBe 40000L
  }

  test("analyze backfills per-chunk bloom cells alongside the zone " +
      "frame (r18): membership skipping for a clustered file") {
    val dir = tmp()
    // ordered by k WITHOUT a sort claim (the Z-order shape); id is a
    // scattered bijection only a bloom can prune on
    spark.range(0, 40000).toDF("k")
      .withColumn("id", F.expr("pmod(k * 48271, 1000003)").cast("long"))
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1).sortWithinPartitions("k")
      .write.format("graft-avro").mode("overwrite").save(dir)
    AvroMaintenance.analyze(spark, dir, blockIdxFor = Some("k"),
      chunkBloomFor = Seq("id"))
    val idx = AvroFileSource.readBlockIdxRaw(
      AvroFileSource.blockIdxFile(new File(dir))).head._2
    val nChunks = idx.count(_._2 == "bigint")
    idx.count(_._2.startsWith("bloom:")) shouldBe nChunks
    nChunks should be >= 5
    val t = spark.read.format("graft-avro").load(dir)
    def idOf(k: Long): Long = Math.floorMod(k * 48271L, 1000003L)
    val point = t.filter(F.col("id") === idOf(31007L))
    scanPartitions(point) should be < nChunks
    point.select("k").collect().map(_.getLong(0)) shouldBe Array(31007L)
    // chunk blooms without a frame refuse loudly
    intercept[IllegalArgumentException] {
      AvroMaintenance.analyze(spark, dir, chunkBloomFor = Seq("id"))
    }
  }

  test("backfill of a SCRAMBLED file stays exact: true per-chunk bounds " +
      "are wide, nothing is wrongly pruned") {
    val dir = tmp()
    spark.range(0, 40000).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .orderBy(F.xxhash64(F.col("k"))) // deterministic scramble
      .coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    AvroMaintenance.analyze(spark, dir, blockIdxFor = Some("k"))
    val t = spark.read.format("graft-avro").load(dir)
    t.filter(F.col("k").between(12000L, 20000L)).count() shouldBe 8001L
    t.filter(F.col("k") === 31007L).collect()
      .map(_.getLong(0)) shouldBe Array(31007L)
  }

  test("analyze backfills a MULTI-column chunk index (r19): both " +
      "dimensions of a space-curve layout prune") {
    val dir = tmp()
    // the Z-order shape on two dims: interleave-ish layout where both
    // k and g are locally clustered per chunk but neither is sorted
    spark.range(0, 40000).toDF("i")
      .withColumn("k", F.expr("(i div 200) * 200 + pmod(i, 200)"))
      .withColumn("g", F.expr("i div 400"))
      .withColumn("payload", F.md5(F.col("i").cast("string")))
      .coalesce(1).sortWithinPartitions("i")
      .drop("i")
      .write.format("graft-avro").mode("overwrite").save(dir)
    AvroMaintenance.analyze(spark, dir, blockIdxFor = Some("k,g"))
    val idx = AvroFileSource.readBlockIdxRaw(
      AvroFileSource.blockIdxFile(new File(dir))).head._2
    val kLines = idx.count(e => e._1 == "k" && e._2 == "bigint")
    val gLines = idx.count(e => e._1 == "g" && e._2 == "bigint")
    kLines shouldBe gLines // one line per (col, chunk), shared frame
    kLines should be >= 5
    val t = spark.read.format("graft-avro").load(dir)
    // predicates on EITHER column prune to a strict chunk subset
    scanPartitions(t.filter(F.col("k") === 31007L)) should be < kLines
    scanPartitions(t.filter(F.col("g") === 17L)) should be < kLines
    t.filter(F.col("k") === 31007L).count() shouldBe 1L
    t.filter(F.col("g") === 17L).count() shouldBe 400L
    t.filter(F.col("g") === 17L && F.col("k") < 7000L).count() shouldBe 200L
  }

  test("backfill skips a double column (no total order under NaN)") {
    val dir = tmp()
    spark.range(0, 20000).toDF("k")
      .withColumn("x", F.col("k").cast("double"))
      .coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    AvroMaintenance.analyze(spark, dir, blockIdxFor = Some("x"))
    AvroFileSource.readBlockIdxRaw(
      AvroFileSource.blockIdxFile(new File(dir))) shouldBe empty
  }

  test("an agreeing sorted append indexes the new file; zone pruning " +
      "composes with chunk pruning") {
    val dir = tmp()
    writeSorted(dir)
    spark.range(40000, 80000).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1).sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("append").save(dir)
    val idx = AvroFileSource.readBlockIdxRaw(
      AvroFileSource.blockIdxFile(new File(dir)))
    idx.size shouldBe 2
    val t = spark.read.format("graft-avro").load(dir)
    // file-level zones prune file 1 entirely; chunks prune inside file 2
    val point = t.filter(F.col("k") === 71007L)
    scanPartitions(point) shouldBe 1
    point.count() shouldBe 1L
  }
}
