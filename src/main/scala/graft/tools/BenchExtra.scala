package graft.tools

import org.apache.spark.sql.SparkSession

/** Round-9 measurement harness (guide §1): per-query isolation OUTSIDE
  * the frozen Bench main. Times selected SparkEntry queries with the
  * SAME session config and action (`.count()`) as graft.Bench, plus an
  * optional noop-sink pass (guide §1.4) and `.explain("formatted")`
  * capture for the plan audit (plans/r09/). Never touches Bench.scala
  * or Verify.scala.
  *
  * Usage: runMain graft.tools.BenchExtra [--runs N] [--explain DIR]
  *        [--suffix S] [--noop] [query ...]
  * With no query names, runs every declared query. `--runs 0` only
  * writes the plans (`--explain DIR`), timing nothing. Env contract
  * matches Bench: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    var runs = 3
    var explainDir: Option[String] = None
    var suffix = ""
    var noop = false
    val names = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--runs" => runs = args(i + 1).toInt; i += 2
        case "--explain" => explainDir = Some(args(i + 1)); i += 2
        case "--suffix" => suffix = args(i + 1); i += 2
        case "--noop" => noop = true; i += 1
        case q => names += q; i += 1
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.buildSession(cpus)
    val all = graft.SparkEntry.queries
    val selected =
      if (names.isEmpty) all.toSeq.sortBy(_._1)
      else names.toSeq.map(n => n -> all.getOrElse(n,
        sys.error(s"unknown query: $n (have: ${all.keys.toSeq.sorted.mkString(", ")})")))
    explainDir.foreach(d => new java.io.File(d).mkdirs())
    val out = new StringBuilder
    for ((name, fn) <- selected) {
      spark.sparkContext.setJobDescription(s"bench-extra: $name")
      explainDir.foreach { d =>
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"$name$suffix.txt"), plan)
      }
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        if (noop)
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        else
          fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      if (times.nonEmpty) {
        val line = f"$name%-28s min=${times.min}%7.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}"
        println(line)
        out.append(line).append('\n')
      }
      spark.sparkContext.setJobDescription(null)
    }
    sys.env.get("BENCH_EXTRA_OUT").foreach(p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), out.toString))
    spark.stop()
  }
}
