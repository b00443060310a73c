package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import PerfBench._

/** The two workloads, the derive cache they share with `record`, and the
  * per-layer table of a traced run.
  *
  *  - `extract_1k`: the extraction half of `graft.Main --reader webhose`
  *    (reader and excluded sink, docs, sentences, triples) on a fresh
  *    root, over a seeded 1,000-article corpus, in a cold JVM.
  *  - `derive_1k`: `graft.Main` itself, resuming a root whose extraction
  *    half is complete (canonical, edges, both weight tables, stats.json),
  *    in a cold JVM. Its input is the same fixed corpus for every seed.
  *
  * A traced run replays its workload's half with spans and then measures
  * the layers the workloads do not run end to end: the pure-JVM core and
  * the `SparkEntry.queries` pass (extract_1k), the incremental fold
  * (derive_1k). A layer a traced run does not measure reads 0. */
object Workloads {

  val Stages = Seq("docs", "sentences", "triples", "canonical", "edges",
    "edge_weights", "typed_edge_weights", "stats")
  val DerivedTables = Seq("canonical", "edges", "edge_weights", "typed_edge_weights")
  val FoldPhases = Seq("validate", "slice_extract", "history_scan", "pairpred_merge", "derive")

  /** every per-layer metric a traced run prints, with its unit. */
  val PerLayer: Seq[(String, String)] =
    Stages.flatMap(s => Seq(s"pipeline.$s.wall_s" -> "s", s"pipeline.$s.compute_s" -> "s",
      s"pipeline.$s.jobs" -> "count", s"pipeline.$s.task_s" -> "s",
      s"pipeline.$s.shuffle_bytes" -> "bytes", s"pipeline.$s.rows_out" -> "count")) ++
    Stages.init.flatMap(s => Seq(s"pipeline.CheckpointStore.$s.write_s" -> "s",
      s"pipeline.CheckpointStore.$s.files" -> "count")) ++
    Seq("segment.Segmenter.ns_per_sent" -> "ns", "synth.FixtureParser.ns_per_sent" -> "ns",
      "extract.DepTree.ns_per_sent" -> "ns", "extract.Extractor.ns_per_sent" -> "ns",
      "amend.PostProcess.ns_per_sent" -> "ns", "amend.triples_per_sent" -> "count",
      "sources.CorpusReaders.ns_per_doc" -> "ns") ++
    FoldPhases.map(p => s"pipeline.fold.${p}_s" -> "s") ++
    Seq("pipeline.fold.jobs" -> "count", "pipeline.fold.task_s" -> "s",
      "pipeline.fold.shuffle_bytes" -> "bytes", "pipeline.fold.files_added" -> "count") ++
    Extras.Families.flatMap(f => Seq(s"$f.s" -> "s", s"$f.jobs" -> "count")) ++
    Extras.Slowest.flatMap(q => Seq(s"query.$q.s" -> "s", s"query.$q.jobs" -> "count")) ++
    Seq("functions.ZhFunctions.register_s" -> "s",
      "trace.wall_s" -> "s", "trace.overhead_s" -> "s", "trace.unattributed_s" -> "s",
      "pipeline.spill_bytes" -> "bytes", "pipeline.task_skew_max" -> "ratio")

  /** what the benchmark measures as set-up: a cold JVM's start up to
    * `main`, then its first Spark session and `ZhFunctions.register` —
    * the cost a spark-submit of `graft.Main` pays before its first job. */
  final case class Setup(spark: SparkSession, seconds: Double, registerS: Double)

  def setup(a: Args): Setup = {
    val t0 = System.nanoTime()
    val spark = Session.build(a.work)
    val t1 = System.nanoTime()
    graft.functions.ZhFunctions.register(spark)
    val t2 = System.nanoTime()
    Setup(spark, a.bootS + (t2 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** the query pass and the fold each take 60-80 s after a traced unit;
    * on a slow machine the traced run skips them rather than overrun its
    * time limit, and their metrics read 0. */
  private def enoughTime(a: Args, what: String): Boolean = {
    val left = a.deadline.map(d => (d - System.nanoTime()) / 1e9)
    val ok = left.forall(_ >= 100)
    if (!ok) System.err.println(f"[perfbench] $what skipped: ${left.get}%.0f s left")
    ok
  }

  /** runs `f`, returning its wall seconds; a throw fails the outcome. */
  private def timed(o: Outcome, what: String)(f: => Unit): Double = {
    val t = System.nanoTime()
    try f catch { case e: Exception =>
      e.printStackTrace()
      o.check(what, Seq(s"threw $e"))
    }
    (System.nanoTime() - t) / 1e9
  }

  private def endToEnd(m: Metrics, wall: Double, out: Path, setupS: Double): Unit = {
    val (files, bytes) = Checks.storeSize(out)
    m("wall_s") = (wall, "s")
    m("docs_per_s") = (Docs / wall, "1/s")
    m("store_files") = (files.toDouble, "count")
    m("store_mb") = (bytes / 1e6, "MB")
    m("setup_s") = (setupS, "s")
  }

  // ---------------------------------------------------------- checks
  def extractObserved(spark: SparkSession, out: String): Map[String, String] =
    Seq("docs", "sentences", "triples").map(s => s"extract.$s" -> Checks.stageHash(spark, out, s)).toMap +
      ("extract.excluded_rows" -> spark.read.parquet(s"$out/excluded").count().toString)

  def derivedObserved(spark: SparkSession, out: String, prefix: String): Map[String, String] =
    DerivedTables.map(s => s"$prefix.$s" -> Checks.stageHash(spark, out, s)).toMap +
      (s"$prefix.stats_json" -> Checks.readText(java.nio.file.Paths.get(out, "stats.json")))

  private def expect(o: Outcome, what: String, observed: => Map[String, String],
                     expected: Map[String, String], extra: Seq[String] = Nil): Unit = {
    val problems = try Checks.mismatches(observed, expected) catch {
      case e: Exception => Seq(s"check threw $e")
    }
    o.check(what, problems ++ extra)
  }

  private def texts: IndexedSeq[String] =
    (0L until Docs).filterNot(Inputs.isEmptyArticle).map(Inputs.articleText)

  // ------------------------------------------------------- workloads
  def extract(a: Args, m: Metrics, o: Outcome): Unit = {
    val corpus = a.work.resolve("corpus").toString
    val empties = Inputs.writeCorpus(a.work.resolve("corpus"), a.seed, 0, Docs)
    val expected = readExpected(a.expected)
    val su = setup(a)
    val spark = su.spark
    val out = a.work.resolve("root")
    def checkOut(): Unit = {
      val obs = extractObserved(spark, out.toString)
      expect(o, "extract_1k outputs", obs, expected,
        if (obs("extract.excluded_rows") == empties.toString) Nil
        else Seq(s"excluded rows ${obs("extract.excluded_rows")}, generated $empties empty articles"))
    }
    if (!a.trace) {
      val wall = timed(o, "extract_1k")(new RunBook(spark, corpus, out.toString, None).extractionHalf())
      checkOut()
      endToEnd(m, wall, out, su.seconds)
    } else {
      val counters = SparkCounters.install(spark.sparkContext)
      val t = new Tracer(Some(counters))
      val run = traceRun(t, counters, out)(new RunBook(spark, corpus, out.toString, Some(t)).extractionHalf())
      checkOut()
      val core = Core.measure(texts)
      if (enoughTime(a, "query pass")) {
        val counts = Extras.queries(spark, t, a.tables.toString)
        counts.toSeq.sortBy(_._1).foreach { case (q, n) =>
          expect(o, s"query $q", Map(s"queries.$q" -> n.toString), expected) }
      }
      layers(m, t, run, out, su, filesBefore = 0L, core = core)
    }
  }

  def derive(a: Args, m: Metrics, o: Outcome): Unit = {
    val (corpus, pristine) = deriveCache(a.cache)
    require(Files.exists(pristine.resolve("triples/_graft_meta.json")),
      s"no prepared derive root under ${a.cache}")
    val expected = readExpected(a.expected)
    val su = setup(a)
    val spark = su.spark
    val out = a.work.resolve("root")
    copyTree(pristine, out)
    if (!a.trace) {
      val wall = timed(o, "derive_1k")(RunBook.main(corpus.toString, out.toString))
      expect(o, "derive_1k outputs", derivedObserved(spark, out.toString, "derive"), expected)
      endToEnd(m, wall, out, su.seconds)
    } else {
      val counters = SparkCounters.install(spark.sparkContext)
      val t = new Tracer(Some(counters))
      val run = traceRun(t, counters, out)(
        new RunBook(spark, corpus.toString, out.toString, Some(t)).derivationHalf())
      expect(o, "derive_1k replay outputs", derivedObserved(spark, out.toString, "derive"), expected)
      val slice = a.work.resolve("slice")
      Inputs.writeCorpus(slice, 0, Docs - Overlap, Docs - Overlap + SliceDocs)
      val filesBefore = Checks.storeSize(out)._1
      if (enoughTime(a, "fold")) {
        timed(o, "fold")(Extras.fold(spark, t, slice.toString, out.toString))
        expect(o, "fold outputs", derivedObserved(spark, out.toString, "fold"), expected)
      }
      layers(m, t, run, out, su, filesBefore)
    }
  }

  /** the derive workload's fixed input: corpus and extraction-half root. */
  def deriveCache(cache: Path): (Path, Path) =
    (cache.resolve("derive/corpus"), cache.resolve("derive/root"))

  /** builds the derive cache (run once per build, in its own JVM, so no
    * measured run inherits the warm-up). */
  def prepare(a: Args): Unit = {
    val (corpus, root) = deriveCache(a.cache)
    if (!Files.exists(root.resolve("triples/_graft_meta.json"))) {
      deleteTree(corpus.getParent)
      Inputs.writeCorpus(corpus, 0, 0, Docs)
      val spark = setup(a).spark
      val tmp = a.work.resolve("derive-root")
      new RunBook(spark, corpus.toString, tmp.toString, None).extractionHalf()
      Files.move(tmp, root)
    }
  }

  /** recomputes every checked value at this commit into `--expected`. */
  def record(a: Args): Unit = {
    prepare(a)
    val spark = setup(a).spark
    val exp = mutable.Map.empty[String, String]
    val ex = a.work.resolve("extract-root").toString
    Inputs.writeCorpus(a.work.resolve("extract-corpus"), 0, 0, Docs)
    new RunBook(spark, a.work.resolve("extract-corpus").toString, ex, None).extractionHalf()
    exp ++= extractObserved(spark, ex)
    val (corpus, pristine) = deriveCache(a.cache)
    val dv = a.work.resolve("derive-root")
    copyTree(pristine, dv)
    RunBook.main(corpus.toString, dv.toString)
    exp ++= derivedObserved(spark, dv.toString, "derive")
    // the fold must equal a one-shot build over history ∪ slice
    val union = a.work.resolve("union-corpus")
    Inputs.writeCorpus(union, 0, 0, Docs - Overlap + SliceDocs)
    RunBook.main(union.toString, a.work.resolve("union-root").toString)
    exp ++= derivedObserved(spark, a.work.resolve("union-root").toString, "fold")
    Extras.queries(spark, new Tracer(None), a.tables.toString).foreach { case (q, n) =>
      require(n >= 0, s"query $q failed while recording"); exp += s"queries.$q" -> n.toString }
    writeExpected(a.expected, exp.toMap)
  }

  // ------------------------------------------------------- the trace
  /** what the traced unit left behind: its root span, the tracer's own
    * time, the task skew, and per stage the recorded rows and the files
    * (taken before anything else touches the root). */
  final case class RunTrace(root: Int, overheadNs: Long, skew: Double,
                            rows: Map[String, Long], files: Map[String, Long])

  /** the workload's unit under the span `run`. */
  private def traceRun(t: Tracer, c: SparkCounters, out: Path)(f: => Unit): RunTrace = {
    c.resetSkew()
    val root = t.result.size
    t.span("run")(f)
    val stats = out.resolve("stats.json")
    val rows = Stages.init.map(s => s -> RunBook.metaRows(out.toString, s)).toMap +
      ("stats" -> (if (!Files.exists(stats)) 0L
                   else Checks.readText(stats).linesIterator.count(_.startsWith("    \"")).toLong))
    val files = Stages.init.filter(s => Files.exists(out.resolve(s)))
      .map(s => s -> Checks.storeSize(out.resolve(s))._1).toMap
    RunTrace(root, t.overheadNs, c.taskSkewMax(), rows, files)
  }

  private def layers(m: Metrics, t: Tracer, run: RunTrace, out: Path, su: Setup, filesBefore: Long,
                     core: Map[String, Double] = Map.empty): Unit = {
    PerLayer.foreach { case (k, u) => m(k) = (0.0, u) }
    val spans = t.result
    def below(i: Int, name: String) = spans.indices.find(j => spans(j).parent == i && spans(j).name == name)
    def named(name: String) = spans.indices.find(spans(_).name == name)
    def put(k: String, v: Double): Unit = m(k) = (v, m.values(k)._2)

    for (s <- Stages; i <- below(run.root, s"pipeline.$s")) {
      val compute = below(i, "compute").map(spans(_).seconds).getOrElse(0.0)
      val cp = below(i, "checkpoint").getOrElse(i)
      put(s"pipeline.$s.wall_s", spans(cp).seconds)
      put(s"pipeline.$s.compute_s", compute)
      put(s"pipeline.$s.jobs", spans(cp).counts.jobs.toDouble)
      put(s"pipeline.$s.task_s", spans(cp).counts.taskMs / 1e3)
      put(s"pipeline.$s.shuffle_bytes", spans(cp).counts.shuffleBytes.toDouble)
      put(s"pipeline.$s.rows_out", run.rows(s).toDouble)
      if (s != "stats" && compute > 0)
        put(s"pipeline.CheckpointStore.$s.write_s", math.max(0.0, spans(cp).seconds - compute))
    }
    for ((s, n) <- run.files) put(s"pipeline.CheckpointStore.$s.files", n.toDouble)

    core.foreach { case (k, v) => put(k, v) }

    for (p <- FoldPhases; i <- named(s"fold.$p")) put(s"pipeline.fold.${p}_s", spans(i).seconds)
    for (i <- named("fold.main")) {
      put("pipeline.fold.jobs", spans(i).counts.jobs.toDouble)
      put("pipeline.fold.task_s", spans(i).counts.taskMs / 1e3)
      put("pipeline.fold.shuffle_bytes", spans(i).counts.shuffleBytes.toDouble)
      put("pipeline.fold.files_added", (Checks.storeSize(out)._1 - filesBefore).toDouble)
    }

    val queries = spans.filter(_.name.startsWith("query."))
    for ((f, qs) <- queries.groupBy(s => Extras.family(s.name.stripPrefix("query."))) if Extras.Families.contains(f)) {
      put(s"$f.s", qs.map(_.seconds).sum)
      put(s"$f.jobs", qs.map(_.counts.jobs.toDouble).sum)
    }
    for (q <- Extras.Slowest; s <- queries.find(_.name == s"query.$q")) {
      put(s"query.$q.s", s.seconds)
      put(s"query.$q.jobs", s.counts.jobs.toDouble)
    }
    put("functions.ZhFunctions.register_s", su.registerS)

    val computeNs = spans.indices.filter(j => spans(j).name == "compute").map(j => spans(j).endNs - spans(j).startNs).sum
    put("trace.wall_s", spans(run.root).seconds)
    put("trace.overhead_s", (computeNs + run.overheadNs) / 1e9)
    put("trace.unattributed_s", Spans.unattributedNs(spans, run.root) / 1e9)
    put("pipeline.spill_bytes", spans(run.root).counts.spillBytes.toDouble)
    put("pipeline.task_skew_max", run.skew)
  }
}
