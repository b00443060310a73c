package graft

import java.nio.file.Files
import graft.amend.PostProcess
import graft.model.TripleRow
import graft.pipeline.{Pipeline, RunBook}
import graft.synth.{FixtureParser, SynthDocs}

/** End-to-end pipeline spec: docs → sentences → triples → canonical →
  * edges, plus the span-sequence invariant and checkpoint resume. The
  * triple-level oracle is the (differentially verified) per-sentence
  * engine applied outside Spark. */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private val nDocs = 200L

  /** the number of jobs `body` starts, counted per job group by a
    * `SparkListener`. The listener bus is asynchronous but FIFO, so once
    * a flush job in its own group shows up, every job the body started
    * has been seen. */
  private def jobs(group: String)(body: => Any): Int = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def inGroup(g: String)(f: => Any): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup(group)(body)
      inGroup(s"$group-flush")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains(s"$group-flush") && System.nanoTime() < deadline) Thread.sleep(5)
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("pipeline triples match the per-sentence oracle exactly") {
    val docs = Pipeline.synthDocs(spark, nDocs)
    val sentences = Pipeline.segmentDocs(docs)
    val triples = Pipeline.extractTriples(sentences).collect()

    // oracle: same docs, same segmentation, engine invoked directly
    val expected = (0L until nDocs).flatMap { d =>
      SynthDocs.expectedSentences(d).zipWithIndex.flatMap { case (sent, sid) =>
        val (parse, tags) = FixtureParser.analyze(sent).get
        val rels = PostProcess.processSentence(parse, Some(tags))
        def rows(listName: String, rs: Vector[graft.model.Rel]) = rs.map { r =>
          TripleRow(SynthDocs.docId(d), sid, listName, r.subj, r.pred, r.obj,
                    r.subjIdx, r.predIdx.get, r.objIdx)
        }
        rows("fine", rels.fine) ++ rows("coarse", rels.coarse) ++
          rows("amend_fine", rels.amendFine) ++ rows("amend_coarse", rels.amendCoarse) ++
          rows("possible", rels.possible)
      }
    }
    assert(triples.length == expected.length,
           s"row count ${triples.length} vs oracle ${expected.length}")
    assert(triples.toSet == expected.toSet)
    assert(triples.nonEmpty)
  }

  test("distributed extraction with addHalfCoarse emits the crossed families exactly") {
    val docs = Pipeline.synthDocs(spark, 100)
    val got = Pipeline.extractTriples(Pipeline.segmentDocs(docs), addHalfCoarse = true)
      .filter(t => t.rel_list == "crossed" || t.rel_list == "amend_crossed").collect().toSet
    val expected = (0L until 100L).flatMap { d =>
      SynthDocs.expectedSentences(d).zipWithIndex.flatMap { case (sent, sid) =>
        val (parse, tags) = FixtureParser.analyze(sent).get
        val rels = PostProcess.processSentence(parse, Some(tags), addHalfCoarse = true)
        Seq("crossed" -> rels.crossed, "amend_crossed" -> rels.amendCrossed).flatMap {
          case (ln, rs) => rs.map(r => TripleRow(SynthDocs.docId(d), sid, ln, r.subj, r.pred,
                                                 r.obj, r.subjIdx, r.predIdx.get, r.objIdx))
        }
      }
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty, "flag-on corpus must produce crossed rows")
  }

  test("unparsable sentences are counted in the accumulator, not silently dropped") {
    val acc = spark.sparkContext.longAccumulator("unparsed")
    val sents = Seq(
      graft.model.SentenceRow("d0", 0, 0, "不在任何夹具词表里的句子呀"),
      graft.model.SentenceRow("d0", 0, 1, SynthDocs.expectedSentences(0L).head)).toDS()
    val out = Pipeline.extractTriples(sents, Some(acc)).collect()
    assert(acc.value == 1, s"expected 1 unparsed, got ${acc.value}")
    assert(out.nonEmpty, "the parsable sentence must still yield triples")
  }

  test("span-sequence invariant holds through the pipeline") {
    val docs = Pipeline.synthDocs(spark, 100)
    // output docs table: the pipeline carries the docs table through
    // unmodified (sentences/triples are separate lineage-tracked tables)
    val violations = Pipeline.spanInvariantViolations(docs, docs)
    assert(violations.count() == 0)
    // negative control: a mutated doc must be flagged
    val mutated = docs.map { d =>
      if (d.doc_id == SynthDocs.docId(3)) d.copy(spans = d.spans.reverse) else d
    }
    assert(Pipeline.spanInvariantViolations(docs, mutated).count() == 1)
  }

  test("explode→reassemble round trip preserves span sequences (and is not vacuous)") {
    val docs = Pipeline.synthDocs(spark, 100)
    val report = Pipeline.spanInvariantReport(docs, Pipeline.reassembleDocs(docs))
    assert(report.count() == 100)
    assert(report.filter(!$"preserved").count() == 0)
    // negative control: a doc stored with spans OUT of offset order is
    // restored to offset order by reassembly → flagged as not preserved
    val scrambled = docs.map { d =>
      if (d.doc_id == SynthDocs.docId(7)) d.copy(spans = d.spans.reverse) else d
    }
    val neg = Pipeline.spanInvariantReport(scrambled, Pipeline.reassembleDocs(scrambled))
    assert(neg.filter(!$"preserved").count() == 1)
    // edge: a doc with an EMPTY span array survives the round trip intact
    // (explode_outer keeps it; a plain explode would drop it and falsely
    // flag the invariant)
    val withEmpty = docs.map { d =>
      if (d.doc_id == SynthDocs.docId(3)) d.copy(spans = Seq.empty) else d
    }
    val edge = Pipeline.spanInvariantReport(withEmpty, Pipeline.reassembleDocs(withEmpty))
    assert(edge.count() == 100 && edge.filter(!$"preserved").count() == 0)
    // edge: DUPLICATE offsets (re-split corpus-reader chunks share the
    // original-chunk lineage id) — the positional tiebreak must keep
    // equal-offset spans in input order, not flip them nondeterministically
    val withDups = docs.map { d =>
      if (d.doc_id == SynthDocs.docId(5))
        d.copy(spans = d.spans.map(_.copy(offset = 0)))
      else d
    }
    val dup = Pipeline.spanInvariantReport(withDups, Pipeline.reassembleDocs(withDups))
    assert(dup.count() == 100 && dup.filter(!$"preserved").count() == 0)
  }

  test("canonicalization links aliases and keeps unmatched surfaces") {
    val docs = Pipeline.synthDocs(spark, 100)
    val triples = Pipeline.extractTriples(Pipeline.segmentDocs(docs))
    val canon = Pipeline.canonicalize(triples, Pipeline.synthAliases(spark))
    val linked = canon.filter($"subj_entity_id".isNotNull).count()
    assert(linked > 0, "no subject linked to an entity")
    // canonical columns never null when the surface exists
    assert(canon.filter($"subj".isNotNull && $"subj_canonical".isNull).count() == 0)
  }

  test("entailment edges aggregate predicate co-occurrence") {
    val docs = Pipeline.synthDocs(spark, 300)
    val triples = Pipeline.extractTriples(Pipeline.segmentDocs(docs))
    val canon = Pipeline.canonicalize(triples, Pipeline.synthAliases(spark))
    val edges = Pipeline.entailmentEdges(canon).collect()
    assert(edges.nonEmpty, "no entailment edges found")
    // edges are canonical: src < dst lexicographically after our sort
    assert(edges.forall(r => r.getAs[Long]("weight") >= 1))
  }

  test("triple P/R vs the reference-verified oracle is >= 0.95 (driver gate)") {
    // the per-sentence engine is differential-verified against the
    // reference (DifferentialSpec); here we compute the explicit P/R of
    // the distributed pipeline against that engine, over final SVO keys
    val docs = Pipeline.synthDocs(spark, 500)
    val got = Pipeline.extractTriples(Pipeline.segmentDocs(docs)).collect()
      .map(t => (t.doc_id, t.sent_id, t.rel_list, t.subj, t.pred, t.obj)).toSet
    val expected = (0L until 500L).flatMap { d =>
      SynthDocs.expectedSentences(d).zipWithIndex.flatMap { case (sent, sid) =>
        val (parse, tags) = FixtureParser.analyze(sent).get
        val rels = PostProcess.processSentence(parse, Some(tags))
        Seq("fine" -> rels.fine, "coarse" -> rels.coarse, "amend_fine" -> rels.amendFine,
            "amend_coarse" -> rels.amendCoarse, "possible" -> rels.possible).flatMap {
          case (ln, rs) => rs.map(r => (SynthDocs.docId(d), sid, ln, r.subj, r.pred, r.obj))
        }
      }
    }.toSet
    val tp = (got & expected).size.toDouble
    val precision = tp / got.size
    val recall = tp / expected.size
    info(f"precision=$precision%.4f recall=$recall%.4f (${got.size} emitted, ${expected.size} expected)")
    assert(precision >= 0.95 && recall >= 0.95)
    assert(precision == 1.0 && recall == 1.0) // and in fact exact
  }

  test("salted edge aggregation equals the unsalted plan") {
    val docs = Pipeline.synthDocs(spark, 300)
    val canon = Pipeline.canonicalize(
      Pipeline.extractTriples(Pipeline.segmentDocs(docs)), Pipeline.synthAliases(spark))
    val plain = Pipeline.entailmentEdges(canon, maxPredsPerPair = 8).collect()
      .map(_.toSeq).toSet
    val salted = Pipeline.entailmentEdges(canon, maxPredsPerPair = 8, saltBuckets = 4).collect()
      .map(_.toSeq).toSet
    assert(plain == salted)
    assert(plain.nonEmpty)
  }

  test("salted edges survive a pathologically hot argument pair (skew stress)") {
    import org.apache.spark.sql.functions._
    // one argument pair carries 2000 distinct predicates with zipf-ish
    // support + background pairs — the shape that melts an unsalted
    // window at scale (every row of the hot pair lands on one reducer)
    val hot = (0 until 2000).map(i => ("热点主", "热点宾", f"谓词$i%04d", (i % 50) + 1))
    val bg = (0 until 500).map(i => (s"主$i", s"宾$i", s"谓$i", 1))
    val canon = (hot ++ bg).toDF("subj_canonical", "obj_canonical", "pred", "n")
      .withColumn("dup", explode(sequence(lit(1), col("n")))).drop("n", "dup")
    val salted = Pipeline.entailmentEdges(canon, maxPredsPerPair = 16, saltBuckets = 8)
      .collect().map(_.toSeq).toSet
    val plain = Pipeline.entailmentEdges(canon, maxPredsPerPair = 16, saltBuckets = 1)
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
    // the hot pair contributes exactly C(16,2) = 120 edges (top-k cap held)
    val hotEdges = salted.count(r => r.head.toString.startsWith("谓词"))
    assert(hotEdges == 120, s"hot-pair edges: $hotEdges")
  }

  test("JSONL docs source round-trips the docs table (schema-first)") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    val docs = Pipeline.synthDocs(spark, 50)
    docs.toDF().write.mode("overwrite").json(dir)
    val back = Pipeline.readDocsJson(spark, dir)
    assert(Pipeline.spanInvariantViolations(docs, back).count() == 0)
    assert(back.count() == 50)
  }

  test("withCoref run merges *_corefed lists into the canonicalized output and resumes") {
    val root = Files.createTempDirectory("graft-coref-run").toString
    val r1 = RunBook.run(spark, root, nDocs = 60, withCoref = true)
    val lists = r1.triples.select($"rel_list").distinct().collect().map(_.getString(0)).toSet
    assert(lists.exists(_.endsWith("_corefed")), s"no corefed lists in $lists")
    // merged total = base pass + coref second pass (set-diff lists are disjoint)
    val docs = Pipeline.synthDocs(spark, 60)
    val base = Pipeline.extractTriples(Pipeline.segmentDocs(docs)).count()
    val coref = Pipeline.corefTriples(docs).count()
    assert(coref > 0, "synth corpus must exercise the coref second pass")
    assert(r1.triples.count() == base + coref)
    // resume returns identical data without recompute
    val r2 = RunBook.run(spark, root, nDocs = 60, withCoref = true)
    assert(r2.triples.count() == r1.triples.count())
    // toggling the flag INVALIDATES downstream stages instead of reusing them
    val r3 = RunBook.run(spark, root, nDocs = 60, withCoref = false)
    assert(r3.triples.count() == base)
  }

  test("checkpointed run resumes without recomputation") {
    val root = Files.createTempDirectory("graft-ckpt").toString
    val r1 = RunBook.run(spark, root, nDocs = 50)
    val t1 = r1.triples.count()
    assert(t1 > 0)
    // resume: stage outputs already exist; run must return identical data
    val r2 = RunBook.run(spark, root, nDocs = 50)
    assert(r2.triples.count() == t1)
    assert(new java.io.File(s"$root/triples/_graft_meta.json").exists())
    // explicit bucketed layout on the keyed stages — including the
    // DataFrame stages (canonical by doc_id, edges by pred_src)
    for (stage <- Seq("triples", "canonical", "edges")) {
      val bucketDirs = new java.io.File(s"$root/$stage").listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("_bucket="))
      assert(bucketDirs > 1, s"$stage: expected hash-bucket directories, found $bucketDirs")
    }
    // the bucket column is an implementation detail — not in the read-back
    assert(!r2.triples.columns.contains("_bucket") &&
           !r2.edges.columns.contains("_bucket"))
    // lineage metadata: the meta json carries bounded scalars only
    // (rows + upstream); the per-file lineage lives as a parquet SIDE
    // TABLE under _lineage/<stage> — never an inline list that the
    // driver would have to collect at scale
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/triples/_graft_meta.json")), "UTF-8")
    assert(meta.contains("\"rows\":") && meta.contains("\"upstream\":[\"sentences\"]"), meta)
    assert(!meta.contains("\"files\":"),
      s"per-file lineage must live in the side table, not the meta json: $meta")
    assert(new java.io.File(s"$root/_lineage/triples/_SUCCESS").exists(),
      "missing _lineage/triples side table")
    val lineage = spark.read.parquet(s"$root/_lineage/triples")
    assert(lineage.columns.toSet == Set("file", "rows"))
    import org.apache.spark.sql.functions.{element_at, input_file_name, split, sum}
    assert(lineage.agg(sum($"rows")).collect()(0).getLong(0) == t1,
      "lineage side-table total must equal the stage row count")
    // every stage the run wrote: the recorded lineage equals a per-file
    // rescan of the stage's data, and the meta total equals its count()
    val written = new java.io.File(root).listFiles()
      .filter(d => new java.io.File(d, "_graft_meta.json").exists()).map(_.getName).toSet
    assert(Set("docs", "sentences", "triples", "canonical", "edges", "edge_weights",
               "typed_edge_weights").subsetOf(written), written)
    for (stage <- written) {
      val data = spark.read.parquet(s"$root/$stage")
      val rescan = data.groupBy(element_at(split(input_file_name(), "/"), -1).as("file"))
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toSet
      val recorded = spark.read.parquet(s"$root/_lineage/$stage")
        .collect().map(r => r.getAs[String]("file") -> r.getAs[Long]("rows")).toSet
      assert(recorded == rescan, s"$stage: lineage differs from a per-file rescan")
      val stageMeta = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/$stage/_graft_meta.json")), "UTF-8")
      assert(stageMeta.contains(s"\"rows\":${data.count()},"), s"$stage: $stageMeta")
    }
  }

  test("a checkpoint from different run parameters is invalidated, not reused") {
    val root = Files.createTempDirectory("graft-ckpt-fp").toString
    val r1 = RunBook.run(spark, root, nDocs = 30)
    val d1 = r1.docsOut.count()
    assert(d1 == 30)
    // same root, different parameters: stale stages must be recomputed
    val r2 = RunBook.run(spark, root, nDocs = 45)
    assert(r2.docsOut.count() == 45,
           "stale docs checkpoint (nDocs=30) silently reused for nDocs=45")
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/docs/_graft_meta.json")), "UTF-8")
    assert(meta.contains("\"fingerprint\":\"nDocs=45,"), meta)
  }

  test("incremental slice merge is idempotent under overlap and doc-granular") {
    def triples(from: Long, until: Long) =
      Pipeline.extractTriples(Pipeline.segmentDocs(
        Pipeline.synthDocsRange(spark, from, until))).toDF()
    val full = triples(0, 60).collect().toSet
    // overlapping re-submission: [0,40) merged, [25,60) fresh → full set
    val merged = Pipeline.mergeSliceIncrement(triples(0, 40), triples(25, 60))
    assert(merged.collect().toSet == full)
    // disjoint slices: plain union
    val disjoint = Pipeline.mergeSliceIncrement(triples(0, 30), triples(30, 60))
    assert(disjoint.collect().toSet == full)
    // total overlap: no duplicates, existing wins
    val dup = Pipeline.mergeSliceIncrement(triples(0, 60), triples(0, 60))
    assert(dup.collect().toSet == full && dup.count() == full.size)
  }

  test("fold sequences over arbitrary overlapping slice orders converge to one-shot") {
    import org.apache.spark.sql.functions.col
    // one-shot truth over docs [0, 20)
    val oneShot = Files.createTempDirectory("graft-seq-oneshot").toString
    RunBook.runFromDocs(spark, oneShot, Pipeline.synthDocs(spark, 20),
      fingerprint = "seq-oneshot")
    def table(root: String, stage: String) =
      spark.read.parquet(s"$root/$stage").drop("_bucket")
    // three slice sequences, each covering [0, 20): overlapping, full
    // re-submission, and out-of-order arrival
    val sequences = Seq(
      Seq((0L, 8L), (5L, 14L), (10L, 20L)),
      Seq((0L, 20L), (0L, 20L)),
      Seq((12L, 20L), (0L, 13L), (6L, 16L)))
    for ((slices, i) <- sequences.zipWithIndex) {
      val root = Files.createTempDirectory(s"graft-seq-$i").toString
      RunBook.runFromDocs(spark, root,
        Pipeline.synthDocsRange(spark, slices.head._1, slices.head._2),
        fingerprint = s"seq-$i-seed")
      for (((from, until), k) <- slices.tail.zipWithIndex)
        RunBook.incrementalFold(spark, root,
          Pipeline.synthDocsRange(spark, from, until),
          fingerprint = s"seq-$i-fold-$k")
      assert(table(root, "triples").exceptAll(table(oneShot, "triples")).isEmpty &&
             table(oneShot, "triples").exceptAll(table(root, "triples")).isEmpty,
             s"sequence $i: triples diverged")
      assert(table(root, "canonical").exceptAll(table(oneShot, "canonical")).isEmpty &&
             table(oneShot, "canonical").exceptAll(table(root, "canonical")).isEmpty,
             s"sequence $i: canonical diverged")
      assert(table(root, "edges").collect().map(_.toSeq).toSet ==
             table(oneShot, "edges").collect().map(_.toSeq).toSet,
             s"sequence $i: edges diverged")
      assert(table(root, "edge_weights").collect().map(_.toSeq).toSet ==
             table(oneShot, "edge_weights").collect().map(_.toSeq).toSet,
             s"sequence $i: edge weights diverged")
      assert(table(root, "docs").count() == 20L, s"sequence $i: docs store")
    }
  }

  test("incremental edge maintenance equals the batch edge build exactly") {
    def canon(from: Long, until: Long) = Pipeline.canonicalize(
      Pipeline.extractTriples(Pipeline.segmentDocs(
        Pipeline.synthDocsRange(spark, from, until))),
      Pipeline.synthAliases(spark))
    val batch = Pipeline.entailmentEdges(canon(0, 80)).collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    // maintain stage 1 additively across two slices, re-derive stage 2
    val incr = Pipeline.edgesFromPairPred(
      Pipeline.mergePairPred(
        Pipeline.pairPredAggregate(canon(0, 50)),
        Pipeline.pairPredAggregate(canon(50, 80))))
    assert(incr.collect().map(_.toSeq).toSet == batch)
    // three-way fold too (merge is associative)
    val incr3 = Pipeline.edgesFromPairPred(
      Pipeline.mergePairPred(
        Pipeline.mergePairPred(
          Pipeline.pairPredAggregate(canon(0, 30)),
          Pipeline.pairPredAggregate(canon(30, 50))),
        Pipeline.pairPredAggregate(canon(50, 80))))
    assert(incr3.collect().map(_.toSeq).toSet == batch)
  }

  test("edge weights: directional conditional + PMI fixed point, exact values") {
    // hand-built aggregate: pred P on 3 arg pairs, Q on 2, R on 1
    //   (a,o1): P:2 Q:1   (a,o2): P:3 Q:1 R:1   (a,o3): P:1
    val pp = Seq(
      ("a", "o1", "P", 2L), ("a", "o1", "Q", 1L),
      ("a", "o2", "P", 3L), ("a", "o2", "Q", 1L), ("a", "o2", "R", 1L),
      ("a", "o3", "P", 1L)
    ).toDF("arg_s", "arg_o", "pred", "support")
    val got = Pipeline.edgeWeightsFromPairPred(pp).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // total_pairs = 3; marginals P→3, Q→2, R→1; shared P∩Q=2, P∩R=1, Q∩R=1
    assert(got(("P", "Q")) == ((2L, 3L, 2L, 666666L, 1000000L)))  // ⌊2e6/3⌋
    assert(got(("Q", "P")) == ((2L, 2L, 3L, 1000000L, 1000000L))) // asymmetric cond
    assert(got(("P", "R")) == ((1L, 3L, 1L, 333333L, 1000000L)))
    assert(got(("R", "P")) == ((1L, 1L, 3L, 1000000L, 1000000L)))
    assert(got(("Q", "R")) == ((1L, 2L, 1L, 500000L, 1500000L)))  // PMI > 1: R⊂Q
    assert(got(("R", "Q")) == ((1L, 1L, 2L, 1000000L, 1500000L)))
    assert(got.size == 6) // both directions of each co-occurring pair, no self
    // salted plan is value-identical to the unsalted one
    val salted = Pipeline.edgeWeightsFromPairPred(pp, saltBuckets = 4)
      .collect().map(_.toSeq).toSet
    val plain = Pipeline.edgeWeightsFromPairPred(pp, saltBuckets = 1)
      .collect().map(_.toSeq).toSet
    assert(salted == plain && salted.size == 6)
  }

  test("support-weighted edge scores: Weeds/Lin/BInc exact values") {
    // same hand-built aggregate as the count-based test:
    //   (a,o1): P:2 Q:1   (a,o2): P:3 Q:1 R:1   (a,o3): P:1
    // weighted marginals: P→6, Q→2, R→1
    val pp = Seq(
      ("a", "o1", "P", 2L), ("a", "o1", "Q", 1L),
      ("a", "o2", "P", 3L), ("a", "o2", "Q", 1L), ("a", "o2", "R", 1L),
      ("a", "o3", "P", 1L)
    ).toDF("arg_s", "arg_o", "pred", "support")
    val got = Pipeline.edgeWeightsSupport(pp).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
         r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    // (shared_pairs, w_shared_src, w_src_total, w_dst_total,
    //  weeds_ppm, lin_ppm, binc_ppm) — all hand-computed
    assert(got(("P", "Q")) == ((2L, 5L, 6L, 2L, 833333L, 875000L, 853912L)))
    assert(got(("Q", "P")) == ((2L, 2L, 2L, 6L, 1000000L, 875000L, 935414L)))
    assert(got(("P", "R")) == ((1L, 3L, 6L, 1L, 500000L, 571428L, 534522L)))
    assert(got(("R", "P")) == ((1L, 1L, 1L, 6L, 1000000L, 571428L, 755928L)))
    assert(got(("Q", "R")) == ((1L, 1L, 2L, 1L, 500000L, 666666L, 577349L)))
    assert(got(("R", "Q")) == ((1L, 1L, 1L, 2L, 1000000L, 666666L, 816496L)))
    assert(got.size == 6)
    // salted == unsalted, and the incremental fold equals the batch
    val salted = Pipeline.edgeWeightsSupport(pp, saltBuckets = 4)
      .collect().map(_.toSeq).toSet
    assert(salted == Pipeline.edgeWeightsSupport(pp, saltBuckets = 1)
      .collect().map(_.toSeq).toSet)
    def canon(from: Long, until: Long) = Pipeline.canonicalize(
      Pipeline.extractTriples(Pipeline.segmentDocs(
        Pipeline.synthDocsRange(spark, from, until))),
      Pipeline.synthAliases(spark))
    val batch = Pipeline.edgeWeightsSupport(
      Pipeline.pairPredAggregate(canon(0, 80))).collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    val incr = Pipeline.edgeWeightsSupport(
      Pipeline.mergePairPred(
        Pipeline.pairPredAggregate(canon(0, 50)),
        Pipeline.pairPredAggregate(canon(50, 80))))
    assert(incr.collect().map(_.toSeq).toSet == batch)
  }

  test("resume of a complete non-empty stage never constructs its compute thunk") {
    // some computes (the weight derivations' capped materialization
    // under AQE) launch jobs at plan CONSTRUCTION — resume must read the
    // stored parquet under its recorded schema without ever building the
    // thunk, empty or not
    val root = java.nio.file.Files.createTempDirectory("graft-resume-thunk").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "t=1")
    val pp = Seq(("a", "o1", "P", 2L), ("a", "o1", "Q", 1L))
      .toDF("arg_s", "arg_o", "pred", "support")
    store.runStageDF("w", bucketCol = Some("pred_src"))(
      Pipeline.edgeWeightsFromPairPred(pp))
    // second invocation = resume; a forced thunk would blow up here
    val resumed = store.runStageDF("w", bucketCol = Some("pred_src"))(
      sys.error("resume constructed the compute thunk"))
    assert(resumed.count() == 2L) // P→Q and Q→P over the one shared pair
    // the EMPTY-stage corner resumes under its recorded schema
    val empty = pp.filter($"support" < 0L)
    store.runStageDF("we", bucketCol = Some("pred_src"))(
      Pipeline.edgeWeightsFromPairPred(empty))
    val emptyResumed = store.runStageDF("we", bucketCol = Some("pred_src"))(
      Pipeline.edgeWeightsFromPairPred(empty))
    assert(emptyResumed.count() == 0L)
    assert(emptyResumed.schema.fieldNames.contains("pmi_ppm"))
  }

  test("incremental edge-weight maintenance equals the batch derivation exactly") {
    def canon(from: Long, until: Long) = Pipeline.canonicalize(
      Pipeline.extractTriples(Pipeline.segmentDocs(
        Pipeline.synthDocsRange(spark, from, until))),
      Pipeline.synthAliases(spark))
    val batch = Pipeline.edgeWeightsFromPairPred(
      Pipeline.pairPredAggregate(canon(0, 80))).collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    val incr = Pipeline.edgeWeightsFromPairPred(
      Pipeline.mergePairPred(
        Pipeline.pairPredAggregate(canon(0, 50)),
        Pipeline.pairPredAggregate(canon(50, 80))))
    assert(incr.collect().map(_.toSeq).toSet == batch)
    // the weight space is consistent with the edge space: every unordered
    // edge appears as exactly two directed weight rows sharing its
    // n_arg_pairs as shared_pairs
    val edges = Pipeline.entailmentEdges(canon(0, 80))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_arg_pairs")).toMap
    val w = batch.map(s => (s(0).toString, s(1).toString) -> s(2).asInstanceOf[Long]).toMap
    assert(w.size == 2 * edges.size)
    assert(edges.forall { case ((a, b), n) => w((a, b)) == n && w((b, a)) == n })
  }

  test("a root stamped under the marker-era pin encoding still resumes") {
    // the short-lived unconditional-marker version stamped clean pins as
    // 'aliases=e:<path>'; today's code stamps them raw — the literal
    // fingerprints differ but the roots are equivalent and must resume,
    // not silently recompute
    val root = Files.createTempDirectory("graft-fp-migrate").toString
    val legacyFp = "reader=synth,aliases=e:/dict/a.tsv@x12ab,withCoref=false"
    val currentFp = "reader=synth,aliases=/dict/a.tsv@x12ab,withCoref=false"
    val legacy = new graft.pipeline.CheckpointStore(root, spark, fingerprint = legacyFp)
    legacy.runStageDF("docs")(Seq((1L, "x")).toDF("doc_id", "text"))
    val current = new graft.pipeline.CheckpointStore(root, spark, fingerprint = currentFp)
    assert(current.isComplete("docs"), "marker-era root must resume under the raw form")
    // a thunk forced here would prove recomputation
    assert(current.runStageDF("docs")(sys.error("recomputed")).count() == 1L)
    // a genuinely DIFFERENT dictionary still invalidates
    val other = new graft.pipeline.CheckpointStore(root, spark,
      fingerprint = "reader=synth,aliases=/dict/OTHER.tsv@xffff,withCoref=false")
    assert(!other.isComplete("docs"))
  }

  test("slice merge accepts a bucketed checkpoint read as the existing store") {
    val root = Files.createTempDirectory("graft-merge-ckpt").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "m=1")
    store.runStage[TripleRow]("triples", bucketCol = Some("doc_id")) {
      Pipeline.extractTriples(Pipeline.segmentDocs(Pipeline.synthDocsRange(spark, 0, 40)))
    }
    val existing = spark.read.parquet(s"$root/triples") // carries _bucket
    assert(existing.columns.contains("_bucket"))
    val fresh = Pipeline.extractTriples(Pipeline.segmentDocs(
      Pipeline.synthDocsRange(spark, 25, 60))).toDF()
    val merged = Pipeline.mergeSliceIncrement(existing, fresh)
    val full = Pipeline.extractTriples(Pipeline.segmentDocs(
      Pipeline.synthDocsRange(spark, 0, 60))).toDF()
    assert(!merged.columns.contains("_bucket"))
    assert(merged.select(full.columns.map(org.apache.spark.sql.functions.col): _*)
             .collect().map(_.toSeq).toSet == full.collect().map(_.toSeq).toSet)
  }

  test("compact rewrites a fragmented stage into fewer files, preserving data + resume") {
    val root = Files.createTempDirectory("graft-compact").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "c=1")
    var computed = 0
    def stage() = store.runStage[Long]("nums", upstream = Seq("src")) {
      computed += 1; spark.range(500).repartition(16).as[Long]
    }
    val before = stage().collect().sorted.toSeq
    assert(computed == 1)
    val rep = store.compact("nums")
    assert(rep.rowsBefore == 500 && rep.rowsAfter == 500)
    assert(rep.filesBefore == 16 && rep.filesAfter == 1,
           s"expected 16 -> 1 files, got ${rep.filesBefore} -> ${rep.filesAfter}")
    // still complete under the same fingerprint: resume, don't recompute
    val after = stage().collect().sorted.toSeq
    assert(computed == 1, "compaction must not invalidate the checkpoint")
    assert(after == before)
    // lineage meta rewritten: one file, upstream carried through
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/nums/_graft_meta.json")), "UTF-8")
    assert(meta.contains("\"rows\":500") && meta.contains("\"upstream\":[\"src\"]"), meta)
  }

  test("runStageDF writes and resumes an EMPTY bucketed stage (zero part files)") {
    val root = Files.createTempDirectory("graft-df-empty").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "e=1")
    def empty = Seq.empty[(String, Long)].toDF("k", "v")
    val r1 = store.runStageDF("e", bucketCol = Some("k"))(empty)
    assert(r1.count() == 0 && r1.columns.toSeq == Seq("k", "v"))
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/e/_graft_meta.json")), "UTF-8")
    assert(meta.contains("\"rows\":0,"), meta)
    // resume path: zero files to infer from — the read takes the
    // schema recorded in the meta
    val r2 = store.runStageDF("e", bucketCol = Some("k"))(empty)
    assert(r2.count() == 0 && r2.columns.toSeq == Seq("k", "v"))
  }

  test("an EMPTY stage resumes from its recorded schema without building its compute") {
    val root = Files.createTempDirectory("graft-empty-resume").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "e=2")
    store.runStageDF("e", bucketCol = Some("k"))(Seq.empty[(String, Long)].toDF("k", "v"))
    val resumed = store.runStageDF("e", bucketCol = Some("k"))(
      sys.error("resume built the compute of an empty stage"))
    assert(resumed.count() == 0 && resumed.columns.toSeq == Seq("k", "v"))
  }

  test("a meta without a recorded schema: a non-empty stage resumes, an empty one recomputes") {
    import com.fasterxml.jackson.databind.node.ObjectNode
    val root = Files.createTempDirectory("graft-meta-noschema").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "s=1")
    def full = (0L until 20L).map(i => (s"k$i", i)).toDF("k", "v")
    def empty = Seq.empty[(String, Long)].toDF("k", "v")
    store.runStageDF("full", bucketCol = Some("k"))(full)
    store.runStageDF("empty", bucketCol = Some("k"))(empty)
    // forge an older root: the meta as it was before schemas were recorded
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (st <- Seq("full", "empty")) {
      val meta = java.nio.file.Paths.get(s"$root/$st/_graft_meta.json")
      val node = mapper.readTree(Files.readAllBytes(meta)).asInstanceOf[ObjectNode]
      assert(node.remove("schema") != null, s"$st: no recorded schema")
      Files.write(meta, mapper.writeValueAsBytes(node))
      Files.deleteIfExists(java.nio.file.Paths.get(s"$root/$st/._graft_meta.json.crc"))
    }
    assert(store.isComplete("full") && !store.isComplete("empty"))
    val resumed = store.runStageDF("full", bucketCol = Some("k"))(
      sys.error("recomputed a non-empty stage"))
    assert(resumed.count() == 20L && resumed.columns.toSeq == Seq("k", "v"))
    var computed = false
    val recomputed = store.runStageDF("empty", bucketCol = Some("k")) { computed = true; empty }
    assert(computed && recomputed.count() == 0L && store.isComplete("empty"))
  }

  test("an append whose columns drift from the recorded schema fails before writing") {
    val root = Files.createTempDirectory("graft-append-drift").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "d=1")
    store.runStageDF("t", bucketCol = Some("k"))((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v"))
    def files() = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f.getPath -> f.lastModified())
      walk(new java.io.File(root)).toSet
    }
    val before = files()
    val extra = (10L until 12L).map(i => (i, s"v$i", 1)).toDF("k", "v", "extra")
    val retyped = (10L until 12L).map(i => (i, i)).toDF("k", "v")
    for (df <- Seq(extra, retyped)) {
      val e = intercept[IllegalArgumentException](
        store.appendStage(df, "t", Nil, bucketCol = Some("k")))
      assert(e.getMessage.contains("appendStage(t)") &&
        e.getMessage.contains("struct<k:bigint,v:string,_bucket:bigint>"), e.getMessage)
      assert(files() == before, "a refused append must write nothing")
    }
    // column order is not part of the match
    store.appendStage((10L until 12L).map(i => (s"v$i", i)).toDF("v", "k"),
      "t", Nil, bucketCol = Some("k"))
    assert(store.readData("t").count() == 12L)
  }

  test("a stage commit reads its output back once; a resume reads it once") {
    val root = Files.createTempDirectory("graft-job-budget").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "j=1")
    // 1000 distinct keys fill all 64 bucket dirs, past Spark's
    // 32-path threshold for a parallel-listing job
    def keyed = spark.range(1000).map(i => (s"k$i", i.toLong))
    def bucketed() = store.runStage[(String, Long)]("bucketed", bucketCol = Some("_1"))(keyed)
    def plain() = store.runStage[(String, Long)]("plain")(keyed)
    // fresh: the write, one listing (bucketed only), the lineage write
    val freshBucketed = jobs("fresh-bucketed")(bucketed())
    assert(freshBucketed <= 4, s"fresh bucketed commit ran $freshBucketed jobs")
    val freshPlain = jobs("fresh-plain")(plain())
    assert(freshPlain <= 3, s"fresh unbucketed commit ran $freshPlain jobs")
    assert(new java.io.File(root, "bucketed").listFiles()
      .count(_.getName.startsWith("_bucket=")) == 64)
    // resume: a read under the recorded schema, no inference job; one
    // listing (bucketed only)
    val resumedBucketed = jobs("resume-bucketed")(bucketed())
    assert(resumedBucketed <= 1, s"bucketed resume ran $resumedBucketed jobs")
    val resumedPlain = jobs("resume-plain")(plain())
    assert(resumedPlain <= 0, s"unbucketed resume ran $resumedPlain jobs")
    assert(bucketed().collect().toSet == keyed.collect().toSet)
    assert(plain().count() == 1000L)
  }

  private val graphStageNames = Seq("edges", "edge_weights", "typed_edge_weights")

  test("the three graph stages share one pinned cap: job budget of their recompute") {
    val root = Files.createTempDirectory("graft-graph-budget").toString
    RunBook.run(spark, root, nDocs = nDocs)
    for (s <- graphStageNames)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root, s))
    // the upstream stages resume, the stored pairpred and type_evidence
    // aggregates included; only the graph stages recompute. One pinned
    // cap shared by the three stages runs 35 jobs here (40 while both
    // aggregates were rebuilt inline, 44 while a resume inferred each
    // stage's schema); capping once per stage (edges unpinned, both
    // batteries pinned) ran 48
    val n = jobs("graph-stages")(RunBook.run(spark, root, nDocs = nDocs))
    assert(n <= 41, s"recomputing the three graph stages ran $n jobs")
    for (s <- graphStageNames)
      assert(new java.io.File(s"$root/$s/_graft_meta.json").exists(), s)
  }

  test("a fold builds one delta: job budgets of a mutating fold and a no-op re-submission") {
    val root = Files.createTempDirectory("graft-fold-budget").toString
    RunBook.run(spark, root, nDocs = nDocs)
    // half of the slice [150, 250) is already stored
    def fold() = RunBook.incrementalFold(spark, root,
      Pipeline.synthDocsRange(spark, 150, 250), fingerprint = "fold-budget")
    def files() = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f.getPath -> f.lastModified())
      walk(new java.io.File(root)).toSet
    }
    val mutating = jobs("fold")(fold())
    val before = files()
    val noop = jobs("fold-noop")(fold())
    assert(files() == before, "a no-op fold must write nothing")
    assert(new graft.pipeline.CheckpointStore(root, spark).rows("docs") == 250L)
    // one history anti-join, one segmentation of the new docs, one
    // observed lineage write per append and the one-shot's stored
    // aggregates read, not derived from history: 90 and 6 jobs here (91
    // while the first fold derived both aggregates, 94 and 7 while the
    // history reads inferred their schema). Extracting the whole slice,
    // anti-joining all three stores and building the merged aggregates
    // before the no-op test ran 118 and 31
    assert(mutating <= 99, s"a mutating fold ran $mutating jobs")
    assert(noop <= 10, s"a no-op fold ran $noop jobs")
  }

  test("run-book graph stages == the public builders over the root's own canonical") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-graph-builders").toString
    RunBook.run(spark, root, nDocs = nDocs)
    def stored(s: String) = spark.read.parquet(s"$root/$s").drop("_bucket")
    val pp = Pipeline.pairPredAggregate(stored("canonical"))
    val sentences = stored("sentences").as[graft.model.SentenceRow]
    val dict = Pipeline.synthAliases(spark)
    val types = Pipeline.entityTypesFromEvidence(Pipeline.entityTypeEvidence(
      graft.pipeline.Mentions.detect(sentences, dict), Pipeline.mentionLabelTable(sentences)))
    for ((s, built) <- graphStageNames.zip(Seq(Pipeline.edgesFromPairPred(pp),
           Pipeline.edgeWeightsFromPairPred(pp), Pipeline.typedEdgeWeights(pp, types)))) {
      val got = stored(s).select(built.columns.map(col).toSeq: _*).collect()
      val want = built.collect()
      assert(got.nonEmpty && got.length == want.length, s"$s: ${got.length} vs ${want.length} rows")
      assert(got.map(_.toSeq).toSet == want.map(_.toSeq).toSet, s)
    }
  }

  test("compact preserves the bucketed layout of a keyed stage") {
    val root = Files.createTempDirectory("graft-compact-b").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "c=2")
    val ds = store.runStage[(String, Long)]("keyed", bucketCol = Some("_1"), nBuckets = 8) {
      spark.range(400).map(i => (s"k${i % 50}", i.toLong)).repartition(16)
    }
    val before = ds.collect().sortBy(_._2).toSeq
    val rep = store.compact("keyed")
    assert(rep.rowsBefore == 400 && rep.rowsAfter == 400)
    assert(rep.filesAfter < rep.filesBefore)
    val bucketDirs = new java.io.File(s"$root/keyed").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("_bucket="))
    assert(bucketDirs > 1, s"bucket layout lost: $bucketDirs dirs")
    // at most one data file per bucket after compaction
    assert(rep.filesAfter <= 8, s"expected <= 8 files, got ${rep.filesAfter}")
    val after = store.runStage[(String, Long)]("keyed", bucketCol = Some("_1"), nBuckets = 8) {
      fail("must resume, not recompute")
    }.collect().sortBy(_._2).toSeq
    assert(after == before)
  }

  test("a corrupted (incomplete) checkpoint stage is recomputed, not trusted") {
    val root = Files.createTempDirectory("graft-ckpt-corrupt").toString
    val r1 = RunBook.run(spark, root, nDocs = 30)
    val t1 = r1.triples.count()
    // simulate a killed writer: completeness marker gone mid-stage
    new java.io.File(s"$root/triples/_graft_meta.json").delete()
    val r2 = RunBook.run(spark, root, nDocs = 30)
    assert(r2.triples.count() == t1)
    assert(new java.io.File(s"$root/triples/_graft_meta.json").exists(),
           "recomputed stage must re-write its lineage meta")
  }

  test("annotator boundary: HTTP client path == fixture path exactly") {
    import graft.pipeline.{FixtureAnnotator, HttpSentenceAnnotator}
    // in-JVM mock server speaking the documented wire contract, backed by
    // the SAME fixture annotations — proves the connection-per-partition
    // batched client assembles identical rows to the in-process path
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val requests = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/annotate", { exchange =>
      requests.incrementAndGet()
      val body = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
      val sents = {
        val arr = mapper.readTree(body).get("sentences")
        (0 until arr.size()).map(arr.get(_).asText())
      }
      val root = mapper.createObjectNode()
      val out = root.putArray("sentences")
      FixtureAnnotator.annotate(sents).foreach { toks =>
        val sArr = out.addArray()
        toks.foreach { t =>
          val o = sArr.addObject()
          o.put("word", t.word); o.put("pos", t.pos); o.put("ner", t.ner)
          o.put("begin", t.beginChar); o.put("end", t.endChar)
        }
      }
      val bytes = mapper.writeValueAsBytes(root)
      exchange.getResponseHeaders.add("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/annotate"
      val sentences = Pipeline.segmentDocs(Pipeline.synthDocs(spark, 30))
      // batchSize 7 (non-divisor) exercises the trailing partial batch
      val viaHttp = Pipeline.nerPosTable(sentences,
        new HttpSentenceAnnotator(endpoint), batchSize = 7)
        .collect().map(r => (r.doc_id, r.sent_id, r.sent, r.mention_words,
                             r.n_mentions, r.misplaced)).toSet
      val fixture = Pipeline.nerPosTable(sentences)
        .collect().map(r => (r.doc_id, r.sent_id, r.sent, r.mention_words,
                             r.n_mentions, r.misplaced)).toSet
      assert(viaHttp == fixture, "HTTP annotator path diverged from fixture path")
      assert(fixture.nonEmpty)
      assert(requests.get() > 1, "expected multiple bounded batches")
    } finally server.stop(0)
  }

  test("annotator boundary: a misaligned reply fails loudly") {
    import graft.pipeline.SentenceAnnotator
    val bad = new SentenceAnnotator {
      def annotate(ss: Seq[String]) = Seq.empty // wrong count
    }
    val e = intercept[org.apache.spark.SparkException] {
      Pipeline.nerPosTable(Pipeline.segmentDocs(Pipeline.synthDocs(spark, 3)), bad)
        .collect()
    }
    val chain = causeChain(e)
    assert(chain.contains("results for"), chain)
  }

  test("parser boundary: HTTP client path == fixture path exactly") {
    import graft.pipeline.{FixtureDepParser, HttpDepParser}
    // in-JVM mock DDParser server speaking the documented wire contract,
    // backed by the SAME fixture parses — proves the connection-per-
    // partition batched client feeds extraction identically to the
    // in-process path (including unparseable sentences riding as null)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val requests = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/parse", { exchange =>
      requests.incrementAndGet()
      val body = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
      val sents = {
        val arr = mapper.readTree(body).get("sentences")
        (0 until arr.size()).map(arr.get(_).asText())
      }
      val root = mapper.createObjectNode()
      val out = root.putArray("parses")
      FixtureDepParser.parse(sents).foreach {
        case None => out.addNull()
        case Some((parse, pos)) =>
          val o = out.addObject()
          val w = o.putArray("word"); parse.words.foreach(w.add)
          val h = o.putArray("head"); parse.heads.foreach(h.add)
          val d = o.putArray("deprel"); parse.deprels.foreach(d.add)
          val p = o.putObject("pos")
          pos.foreach { case (word, tags) =>
            val t = p.putArray(word); tags.foreach(t.add)
          }
      }
      val bytes = mapper.writeValueAsBytes(root)
      exchange.getResponseHeaders.add("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/parse"
      val sentences = Pipeline.segmentDocs(Pipeline.synthDocs(spark, 30))
      def rows(t: org.apache.spark.sql.Dataset[graft.model.TripleRow]) =
        t.collect().map(r => (r.doc_id, r.sent_id, r.rel_list, r.subj, r.pred,
                              r.obj, r.subj_idx, r.pred_idx, r.obj_idx)).toSet
      // batchSize 7 (non-divisor) exercises the trailing partial batch
      val viaHttp = rows(Pipeline.extractTriples(sentences,
        parser = new HttpDepParser(endpoint), batchSize = 7))
      val fixture = rows(Pipeline.extractTriples(sentences))
      assert(viaHttp == fixture, "HTTP parser path diverged from fixture path")
      assert(fixture.nonEmpty)
      assert(requests.get() > 1, "expected multiple bounded batches")
    } finally server.stop(0)
  }

  test("parser boundary: a misaligned reply fails loudly") {
    import graft.pipeline.DepParser
    val bad = new DepParser {
      def parse(ss: Seq[String]) = Seq.empty // wrong count
    }
    val e = intercept[org.apache.spark.SparkException] {
      Pipeline.extractTriples(Pipeline.segmentDocs(Pipeline.synthDocs(spark, 3)),
        parser = bad).collect()
    }
    val chain = causeChain(e)
    assert(chain.contains("results for"), chain)
  }

  test("parser boundary: a malformed head in the reply fails loudly, not as ROOT") {
    import graft.pipeline.HttpDepParser
    // a buggy server emitting heads as strings/nulls must not be
    // silently coerced to 0 (= every word attached to ROOT)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/parse", { exchange =>
      exchange.getRequestBody.readAllBytes()
      val root = mapper.createObjectNode()
      val o = root.putArray("parses").addObject()
      o.putArray("word").add("很").add("好")
      o.putArray("head").add("2").add("0") // strings, not ints
      o.putArray("deprel").add("ADV").add("HED")
      val bytes = mapper.writeValueAsBytes(root)
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/parse"
      val e = intercept[IllegalArgumentException](
        new HttpDepParser(endpoint).parse(Seq("很好")))
      assert(e.getMessage.contains("not an integer"), e.getMessage)
    } finally server.stop(0)
  }

  test("parser boundary: a malformed POS map in the reply fails loudly") {
    import graft.pipeline.HttpDepParser
    // a POS tag that is not a string must not be coerced to its text, and
    // a `pos` that is not an object must not be read as "no tags"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val pos = new java.util.concurrent.atomic.AtomicReference[String]
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/parse", { exchange =>
      exchange.getRequestBody.readAllBytes()
      val root = mapper.createObjectNode()
      val o = root.putArray("parses").addObject()
      o.putArray("word").add("很").add("好")
      o.putArray("head").add(2).add(0)
      o.putArray("deprel").add("ADV").add("HED")
      o.set[com.fasterxml.jackson.databind.JsonNode]("pos", mapper.readTree(pos.get))
      val bytes = mapper.writeValueAsBytes(root)
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val parser = new HttpDepParser(s"http://127.0.0.1:${server.getAddress.getPort}/parse")
      for ((reply, expected) <- Seq(
             """{"很": ["AD"], "好": [7]}""" -> "'pos' of '好'[0] is not a string",
             """{"很": "AD"}""" -> "'pos' of '很' is not an array",
             """["AD", "VA"]""" -> "'pos' is not an object")) {
        pos.set(reply)
        val e = intercept[IllegalArgumentException](parser.parse(Seq("很好")))
        assert(e.getMessage.contains(expected), e.getMessage)
      }
      // a well-formed map still decodes
      pos.set("""{"很": ["AD"], "好": ["VA"]}""")
      assert(parser.parse(Seq("很好")).head.get._2 ==
        Map("很" -> Seq("AD"), "好" -> Seq("VA")))
    } finally server.stop(0)
  }

  test("each _incr query twin equals its batch query row for row") {
    // the twins fold two slices' additive aggregates (SparkEntry's cuts
    // helpers) and must reproduce the one-slice batch surface exactly
    def rows(name: String) = {
      val df = SparkEntry.queries(name)(spark, "")
      (df.schema, df.collect().map(_.toString).sorted.toSeq)
    }
    for (q <- Seq("kg_edges", "kg_edge_weights", "kg_edge_weights_sup",
                  "kg_typed_edge_weights")) {
      val batch = rows(q)
      assert(batch._2.nonEmpty, q)
      assert(rows(s"${q}_incr") == batch, q)
    }
  }

  test("annotator boundary: a malformed token in the reply fails loudly") {
    import graft.pipeline.HttpSentenceAnnotator
    // a buggy server emitting a null or non-numeric char offset must not
    // be silently coerced to 0 (= a span anchored at the sentence start)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/annotate", { exchange =>
      exchange.getRequestBody.readAllBytes()
      val root = mapper.createObjectNode()
      val t = root.putArray("sentences").addArray().addObject()
      t.put("word", "很好"); t.put("pos", "VA"); t.put("ner", "O")
      t.putNull("begin"); t.put("end", "two") // null and a word, not ints
      val bytes = mapper.writeValueAsBytes(root)
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/annotate"
      val e = intercept[IllegalArgumentException](
        new HttpSentenceAnnotator(endpoint).annotate(Seq("很好")))
      assert(e.getMessage.contains("'begin' is not an integer"), e.getMessage)
    } finally server.stop(0)
  }

  test("alias pin comparison survives '@' and ',' inside dictionary paths") {
    import Pipeline.aliasPinMatches
    // hashed vs hashed: whole-string equality, even when the PATH itself
    // contains '@' (s3a key@bucket, user@host) or the '@x' substring
    val p = "s3a://AKIA@bucket/dicts/v2,final.tsv"
    assert(aliasPinMatches(s"$p@xdeadbeef", s"$p@xdeadbeef"))
    assert(!aliasPinMatches(s"$p@xdeadbeef", s"$p@xcafe1234"))
    // legacy (no end-anchored hash suffix) vs hashed: compare by path —
    // the '@' inside the path must NOT truncate the legacy side
    assert(aliasPinMatches(p, s"$p@xdeadbeef"))
    assert(!aliasPinMatches("s3a://other@bucket/d.tsv", s"$p@xdeadbeef"))
    // a path merely CONTAINING '@x' mid-string is not a hashed pin
    val tricky = "/data/v@xfer/dict.tsv"
    assert(aliasPinMatches(tricky, tricky))
    assert(!aliasPinMatches(tricky, "/data/v"))
    assert(aliasPinMatches(tricky, s"$tricky@x12ab"))
    // synth default
    assert(aliasPinMatches("synth", "synth"))
    assert(!aliasPinMatches("synth", s"$p@xdeadbeef"))
    // fingerprint embedding: the encoded pin survives commas in the path
    // AND segments appended after it (withCoref=, incremental)
    val fp = s"reader=x,aliases=${Pipeline.encodePin(s"$p@xdeadbeef")},withCoref=false"
    val parsed = "aliases=([^,]*)".r.findFirstMatchIn(fp)
      .map(m => Pipeline.decodePin(m.group(1)))
    assert(parsed.contains(s"$p@xdeadbeef"), parsed.toString)
    assert(Pipeline.decodePin(Pipeline.encodePin("a%2C,b%")) == "a%2C,b%")
    // encoding is VERSIONED (`e:` marker): a legacy pin written before
    // encoding existed is never percent-decoded — a path literally
    // containing '%2C'/'%25' must decode to itself, not to ','/'%'
    assert(Pipeline.decodePin("/data/d%2Cict%25.tsv") == "/data/d%2Cict%25.tsv")
    // CLEAN pins pass through RAW (no marker): the stored fingerprint of
    // the overwhelmingly common path is byte-identical across code
    // versions, so isComplete's literal comparison keeps resuming roots
    // built before the encoding existed
    assert(Pipeline.encodePin("/plain/dict.tsv") == "/plain/dict.tsv")
    assert(Pipeline.encodePin("synth") == "synth")
    assert(Pipeline.decodePin(Pipeline.encodePin("/plain/dict.tsv")) == "/plain/dict.tsv")
    // dirty pins get the marker; a pin that itself starts with the
    // marker is force-encoded so the round trip stays exact
    assert(Pipeline.encodePin("a,b").startsWith("e:"))
    assert(Pipeline.decodePin(Pipeline.encodePin("e:weird")) == "e:weird")
    // stored-pin interpretations: a marked pin and a clean pin have ONE
    // reading; an unmarked pin carrying escapes has two (literal, and
    // the round-6 unmarked-encoded reading) — the content hash makes
    // accepting either safe
    assert(Pipeline.pinInterpretations(Pipeline.encodePin("a,b")) == Seq("a,b"))
    assert(Pipeline.pinInterpretations("/plain/dict.tsv") == Seq("/plain/dict.tsv"))
    assert(Pipeline.pinInterpretations("a%2Cb@x12") == Seq("a%2Cb@x12", "a,b@x12"))
  }
}
