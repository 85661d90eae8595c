package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One workload's life: a cold set-up, warm-up, the timed set-ups (the
  * last copy is used), the timed closed loop, end checks.
  */
trait Workload {
  /** Build the inputs from scratch; called once before the warm-up and
    * `setupReps` times after it.
    */
  def setup(): Unit
  /** The set-up before the warm-up, in a cold JVM. */
  def coldSetup(): Unit = setup()
  def setupReps: Int = 3
  def warmup(): Unit
  /** Untimed steps between the timed set-ups and the timed phase. */
  def settle(): Unit = ()
  /** The timed phase. Each step picks whether it is traced. */
  def timed(seconds: Double): Unit
  /** Checks on the state the timed phase left behind. */
  def finish(): Unit
}

/** Benchmark process: `graftbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE --cores N`. Runs one workload in one thread
  * against `local[N]` Spark and writes the raw measurements to FILE; the
  * statistics are computed by `run.py`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvm0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val work = new File(a("work"))
    val cores = a("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val rec = new Recorder(spark.sparkContext, traceRun)
    rec.info("spark_start_s") = since(jvm0)
    graft.Bench.calibrate() // untimed: JIT-compile the probe loop
    rec.info("calib_pre_s") = graft.Bench.calibrate()
    rec.info("cores") = cores

    val w: Workload = name match {
      case "record_morph" => new RecordMorph(spark, rec, seed, traceRun)
      case "table_ingest" => new TableIngest(spark, rec, seed, traceRun, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val c0 = System.nanoTime()
    w.coldSetup()
    rec.info("setup_cold_s") = since(c0)
    val w0 = System.nanoTime()
    w.warmup()
    rec.info("warmup_s") = since(w0)
    // set-up is timed in the warm JVM: a cold first set-up is mostly class
    // loading and JIT, which would hide a change to the set-up itself. Each
    // rep starts from a collected heap, so no rep pays for another's garbage
    rec.info("setup_s") = (1 to w.setupReps).map { _ =>
      System.gc()
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }
    System.gc()
    w.settle()
    rec.resetOps()
    val (gcMs0, gcN0) = rec.gcTotals()
    val t0 = System.nanoTime()
    w.timed(seconds)
    rec.info("phase_s") = (System.nanoTime() - t0) / 1e9
    val (gcMs1, gcN1) = rec.gcTotals()
    rec.info("gc_ms") = gcMs1 - gcMs0
    rec.info("gc_count") = gcN1 - gcN0
    rec.info("heap_retained_mb") = rec.retainedHeapMb()
    val f0 = System.nanoTime()
    w.finish()
    rec.info("finish_s") = since(f0)
    rec.finish()
    rec.info("calib_post_s") = graft.Bench.calibrate()
    Files.write(new File(a("out")).toPath, rec.toJson.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
