package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** `graft-avro` table access and the directory diff behind the write
  * metrics.
  */
object Tables {
  def read(spark: SparkSession, dir: File): DataFrame =
    spark.read.format("graft-avro").load(dir.getPath)

  /** Append (or create) with the key sorted and bloom-indexed. */
  def write(df: DataFrame, dir: File, key: String, mode: String): Unit =
    df.write.format("graft-avro").option("sortedBy", key).option("bloomFor", key)
      .mode(mode).save(dir.getPath)

  def isData(f: File): Boolean = f.getName.endsWith(".avro") && !isHidden(f)
  private def isHidden(f: File): Boolean = f.getName.startsWith(".") || f.getName.startsWith("_")

  /** Every regular file under `dir`: relative path → (bytes, mtime). */
  def listing(dir: File): Map[String, (Long, Long)] = {
    val base = dir.toPath
    val b = Map.newBuilder[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else b += base.relativize(f.toPath).toString -> ((f.length(), f.lastModified()))
    walk(dir)
    b.result()
  }

  def dataFiles(l: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    l.filter { case (p, _) => isData(new File(p)) }

  /** Non-data files created or changed between two listings:
    * (files, bytes now in them).
    */
  def metaTouched(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Int, Long) = {
    val touched = after.filter { case (p, v) => !isData(new File(p)) && !before.get(p).contains(v) }
    (touched.size, touched.values.map(_._1).sum)
  }

  /** Input partitions of every `graft-avro` scan in a planned query. */
  def partitionsPlanned(plan: SparkPlan): Int =
    Helper.collect(plan) { case b: BatchScanExec => b.inputPartitions.size }.sum

  private object Helper extends AdaptiveSparkPlanHelper
}
