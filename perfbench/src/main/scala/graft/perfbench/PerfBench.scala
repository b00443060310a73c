package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side; `perfbench/run.py` builds it and launches it.
  *
  *   --workload extract_1k|derive_1k|prepare|record  --seed N  --trace 0|1
  *   --work <run dir>  --cache <cache dir>  --expected <file>  --tables <dir>
  *   [--seconds-left S]
  *
  * Writes `<work>/result.json`: `{correct, attempted, failed, metrics}`.
  * `prepare` builds the derive workload's cached root; `record`
  * recomputes every checked value and rewrites `--expected`. */
object PerfBench {

  /** articles per corpus (8 template sentences each; every 100th empty). */
  val Docs = 1000L
  /** the fold probe in the traced derive run: a slice of `SliceDocs`
    * articles, the first `Overlap` of which are already in the root. */
  val SliceDocs = 300L
  val Overlap = 100L

  /** `tables`: the parquet tables the `SparkEntry.queries` pass reads;
    * `deadline`: `System.nanoTime` by which the run must be done;
    * `bootS`: seconds from JVM start to `main`. */
  final case class Args(workload: String, seed: Long, trace: Boolean,
                        work: Path, cache: Path, expected: Path, tables: Path,
                        deadline: Option[Long], bootS: Double)

  private def parse(args: Array[String], bootS: Double): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), m.getOrElse("seed", "0").toLong, m.getOrElse("trace", "0") == "1", Paths.get(need("work")), Paths.get(need("cache")),
      Paths.get(need("expected")), Paths.get(need("tables")),
      m.get("seconds-left").map(s => System.nanoTime() + (s.toDouble * 1e9).toLong), bootS)
  }

  /** an ordered metric map: name → (value, unit). */
  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, vu: (Double, String)): Unit = values(name) = vu
  }

  final class Outcome {
    var attempted = 0
    var failed = 0
    /** counts one checked operation; a non-empty `problems` fails it. */
    def check(what: String, problems: Seq[String]): Unit = {
      attempted += 1
      if (problems.nonEmpty) {
        failed += 1
        problems.foreach(p => System.err.println(s"[perfbench] $what: $p"))
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv, java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    Files.createDirectories(a.work)
    val metrics = new Metrics
    val outcome = new Outcome
    a.workload match {
      case "extract_1k" => Workloads.extract(a, metrics, outcome)
      case "derive_1k" => Workloads.derive(a, metrics, outcome)
      case "prepare" => Workloads.prepare(a); outcome.check("prepare", Nil)
      case "record" => Workloads.record(a); outcome.check("record", Nil)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ms = metrics.values.map { case (k, (v, u)) =>
      s""""$k": {"value": ${jsonNumber(v)}, "unit": "$u"}""" }.mkString(", ")
    val json = s"""{"correct": ${outcome.failed == 0 && outcome.attempted > 0}, """ +
      s""""attempted": ${outcome.attempted}, "failed": ${outcome.failed}, "metrics": {$ms}}"""
    Files.write(a.work.resolve("result.json"), json.getBytes(UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  private def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def readExpected(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
      node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }

  def writeExpected(p: Path, values: Map[String, String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    values.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    Files.write(p, (mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node) + "\n").getBytes(UTF_8))
  }
}
