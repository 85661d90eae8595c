package graft.sources

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.sources.EqualTo

import graft.SparkTestSession

/** Layer probe of a point lookup's metadata steps on a warm JVM:
  *
  * {{{
  *   sbt "Test/runMain graft.sources.ZoneIndexProbe 1000,10000"
  * }}}
  *
  * For each size it writes a table shaped like the `table_ingest`
  * benchmark's (10 rows a file, `k` sorted and bloom-indexed, a stamped
  * delete, one appended file) and prints one line per step: the median
  * and quartiles in microseconds over repeated calls. The steps are the
  * zone index hit (`ZoneIndex.of`) and miss (a fresh parse of
  * `_graft_zones_cols`), `decisionBounds` with every file's bounds
  * forced, the bloom verdict, `listLive`, `fileBirths` and the journal
  * parses a cache miss costs, one commit's carry-forward of the index (a
  * one-file commit), and the whole lookup through Spark. It then prints
  * the heap the index retains: for the views a lookup on `k` builds, and
  * for every view of every column.
  */
object ZoneIndexProbe {

  private val Reps = 101

  private def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    def at(q: Double) = s(((s.size - 1) * q).round.toInt)
    (at(0.25), at(0.5), at(0.75))
  }

  /** Median and quartiles of `body` in microseconds, after a warm-up. */
  private def time(reps: Int)(body: => Any): (Double, Double, Double) = {
    (1 to 10).foreach(_ => body)
    quartiles((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e3
    })
  }

  private def usedHeap(): Long = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach(_ => System.gc())
    mx.getHeapMemoryUsage.getUsed
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.map(_.split(',').map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1000, 10000))
    val spark = SparkTestSession.spark
    sizes.foreach { n =>
      val dir = graft.operators.Catalog.tempDir("graft_zprobe")
      val d = new File(dir)
      def rows(lo: Long, hi: Long, files: Int) =
        spark.range(lo, hi, 1, files).select(F.col("id").as("k"),
          (F.col("id") % 16).cast("int").as("grp"),
          (F.col("id") * 7 + 3).as("v"),
          F.concat(F.lit("s"), (F.col("id") % 1000).cast("string")).as("s"))
      val w0 = System.nanoTime()
      rows(0L, n * 10L, n).write.format("graft-avro").option("sortedBy", "k")
        .option("bloomFor", "k").mode("overwrite").save(dir)
      AvroMaintenance.deleteWhere(spark, dir, "k", Seq(3L))
      rows(n * 10L, n * 10L + 20, 1).write.format("graft-avro")
        .option("sortedBy", "k").option("bloomFor", "k").mode("append")
        .save(dir)
      println(f"size $n%d files: table written in " +
        f"${(System.nanoTime() - w0) / 1e9}%.1f s")
      val schema = spark.read.format("graft-avro").load(dir).schema
      val key = n * 5L + 7

      // heap first, while the index holds nothing for this table
      val h0 = usedHeap()
      ZoneIndex.of(d, schema).boundsOf("k")
      val h1 = usedHeap()
      val all = ZoneIndex.of(d, schema)
      all.columns.foreach { c => all.boundsOf(c); all.nullCellsOf(c) }
      val h2 = usedHeap()
      val reps = if (n > 5000) Reps / 4 else Reps

      val zf = AvroFileSource.colZoneFile(d).getAbsoluteFile
      val lines = StatsManifests.read(StatsManifests.ColZones, zf)(_.toVector)
      val one = lines.filter(_.rel == lines.last.rel)
      val id = FileIdentity.of(zf).get
      val probes = Map("k" -> Seq(AvroFileSource.bloomProbeEq(
        Seq(AvroFileSource.canonicalValue(key)))))
      val steps = Seq(
        "zone index hit" -> (() => ZoneIndex.of(d, schema).boundsOf("k")),
        "zone index miss" -> (() => ZoneIndex.parsed(d, schema).boundsOf("k")),
        "decisionBounds" -> (() => AvroFileSource.decisionBounds(d, schema,
          ZoneIndex.of(d, schema)).get.foreach { case (_, b, _) => b("k") }),
        "bloom verdict" -> (() => AvroFileSource.bloomDroppedFiles(
          AvroFileSource.bloomFile(d), d, schema, probes)),
        "listLive" -> (() => AvroFileSource.listLive(d)),
        "fileBirths" -> (() => AvroFileSource.fileBirths(d)),
        // what a cache miss costs: both journal parses
        "journal parse (miss)" -> (() => {
          val jf = AvroFileSource.snapshotsFile(d)
          (AvroFileSource.parseSnapshots(jf), AvroFileSource.parseBirths(jf))
        }),
        // a one-file commit's carry: drop the file's cells, type them
        // again (the identity stays, so the entry stays in place)
        "commit carry (1 file)" -> (() => ZoneIndex.carry(zf, id, id,
          Seq(one.head.rel), one, one)),
        "lookup (Spark, end to end)" -> (() => spark.read
          .format("graft-avro").load(dir).filter(F.col("k") === key)
          .collect()))
      steps.foreach { case (name, body) =>
        val r = if (name.startsWith("lookup")) math.min(reps, 31) else reps
        val (q1, med, q3) = time(r)(body())
        println(f"size $n%d  $name%-28s median $med%10.1f us" +
          f"  (q1 $q1%.1f, q3 $q3%.1f, $r%d calls)")
      }
      // the lookup's pushdown really decides on k
      val sb = new AvroScanBuilder(dir, schema)
      sb.pushFilters(Array(EqualTo("k", key)))
      val planned = sb.build().toBatch.planInputPartitions().length
      println(f"size $n%d  lookup plans $planned%d of ${n + 1}%d files")
      println(f"size $n%d  index heap, lookup views (k bounds): " +
        f"${(h1 - h0) / 1024.0}%.0f KB (${(h1 - h0).toDouble / n}%.0f B/file)")
      println(f"size $n%d  index heap, every view of " +
        f"${all.columns.size}%d columns: ${(h2 - h0) / 1024.0}%.0f KB " +
        f"(${(h2 - h0).toDouble / n}%.0f B/file)")
    }
    spark.stop()
  }
}
