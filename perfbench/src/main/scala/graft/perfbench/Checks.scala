package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks. A table's content hash is the sum of `xxhash64` over
  * its columns in name order, one term per row, so it ignores row order
  * and file layout. A `doc_id` column enters as the content index it was
  * generated from, which makes the hash the same for every seed. */
object Checks {

  def contentHash(df: DataFrame): String = {
    val cols = df.columns.filterNot(_ == "_bucket").sorted.map {
      case "doc_id" => pmod(col("doc_id").cast("long"), lit(Inputs.IdSpace)).as("doc_id")
      case c => col(c)
    }
    val h = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")), count(lit(1)))
      .head()
    s"${h.getDecimal(0).toPlainString}/${h.getLong(1)}"
  }

  def stageHash(spark: SparkSession, root: String, stage: String): String =
    contentHash(spark.read.parquet(s"$root/$stage"))

  def readText(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  /** files and bytes under `dir`. */
  def storeSize(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      var files = 0L
      var bytes = 0L
      s.filter(Files.isRegularFile(_)).forEach { p => files += 1; bytes += Files.size(p) }
      (files, bytes)
    } finally s.close()
  }

  /** names whose observed value differs from the recorded one; a name
    * with no recorded value counts as a mismatch. */
  def mismatches(observed: Map[String, String], expected: Map[String, String]): Seq[String] =
    observed.toSeq.sortBy(_._1).collect {
      case (k, v) if !expected.get(k).contains(v) =>
        s"$k: observed $v, recorded ${expected.getOrElse(k, "nothing")}"
    }
}
