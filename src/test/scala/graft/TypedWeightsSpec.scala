package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.Doc
import graft.pipeline.{Mentions, Pipeline}
import graft.streaming.StreamingOps

/** Typed entailment subgraphs (the per-argument-type-pair graphs the
  * downstream EntGraph build constructs): type evidence → modal
  * assignment → per-slice weight battery, maintained batch, fold, and
  * stream — plus the sparsified top-K consumption surface and the
  * lineage side-table migration that retired the driver-side per-file
  * collect. */
class TypedWeightsSpec extends SparkSpecBase {
  import spark.implicits._

  test("typedEdgeWeights: the battery is computed WITHIN each typed slice, exact values") {
    // same hand-built aggregate as the untyped exact-value test:
    //   (a,o1): P:2 Q:1   (a,o2): P:3 Q:1 R:1   (a,o3): P:1
    val pp = Seq(
      ("a", "o1", "P", 2L), ("a", "o1", "Q", 1L),
      ("a", "o2", "P", 3L), ("a", "o2", "Q", 1L), ("a", "o2", "R", 1L),
      ("a", "o3", "P", 1L)
    ).toDF("arg_s", "arg_o", "pred", "support")
    // o3 lands in a DIFFERENT object type: the (PER,ORG) slice holds only
    // the single-pred pair (a,o3), so it contributes NO weight rows —
    // and the (PER,LOC) marginals must NOT see it (total_pairs = 2, not
    // the untyped 3; P's marginal = 2, not 3)
    val types = Seq(("a", "PER"), ("o1", "LOC"), ("o2", "LOC"), ("o3", "ORG"))
      .toDF("canonical", "ent_type")
    val got = Pipeline.typedEdgeWeights(pp, types).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    assert(got.size == 6, got.toString) // all rows in (PER,LOC); nothing from (PER,ORG)
    assert(got.keys.forall(k => k._1 == "PER" && k._2 == "LOC"), got.keys.toString)
    // within (PER,LOC): total_pairs=2, marginals P→2 Q→2 R→1,
    // shared P∩Q=2 P∩R=1 Q∩R=1 — hand-computed cond/PMI ppm
    def row(src: String, dst: String) = got(("PER", "LOC", src, dst))
    assert(row("P", "Q") == ((2L, 2L, 2L, 1000000L, 1000000L)))
    assert(row("Q", "P") == ((2L, 2L, 2L, 1000000L, 1000000L)))
    assert(row("P", "R") == ((1L, 2L, 1L, 500000L, 1000000L)))
    assert(row("R", "P") == ((1L, 1L, 2L, 1000000L, 1000000L)))
    assert(row("Q", "R") == ((1L, 2L, 1L, 500000L, 1000000L)))
    assert(row("R", "Q") == ((1L, 1L, 2L, 1000000L, 1000000L)))
    // an entity with NO label evidence types as the default
    val partial = Seq(("a", "PER"), ("o1", "LOC"), ("o2", "LOC"))
      .toDF("canonical", "ent_type")
    val slices = Pipeline.typedPairPred(pp, partial)
      .select("arg_o", "type_o").distinct().as[(String, String)].collect().toMap
    assert(slices("o3") == "OTHER" && slices("o1") == "LOC")
    // salted plan is value-identical
    val salted = Pipeline.typedEdgeWeights(pp, types, saltBuckets = 4)
      .collect().map(_.toSeq).toSet
    assert(salted == Pipeline.typedEdgeWeights(pp, types, saltBuckets = 1)
      .collect().map(_.toSeq).toSet)
  }

  test("typed slices PARTITION the untyped capped space: per-edge shared_pairs sum up exactly") {
    // real corpus, real evidence-derived types: each canonical entity has
    // exactly ONE assigned type, so every (arg_s,arg_o) pair lands in
    // exactly one slice — summing shared_pairs over slices must rebuild
    // the untyped surface row for row (same cap parameters)
    val docs = Pipeline.synthDocs(spark, 120)
    val sents = Pipeline.segmentDocs(docs)
    val aliases = Pipeline.synthAliases(spark)
    val pp = Pipeline.pairPredAggregate(Pipeline.canonicalize(
      Pipeline.extractTriples(sents), aliases))
    val types = Pipeline.entityTypesFromEvidence(Pipeline.entityTypeEvidence(
      Mentions.detect(sents, aliases), Pipeline.mentionLabelTable(sents)))
    val typed = Pipeline.typedEdgeWeights(pp, types).collect()
    assert(typed.nonEmpty)
    assert(typed.map(r => (r.getString(0), r.getString(1))).distinct.length > 1,
      "synth corpus must exercise more than one type slice")
    val summed = typed.groupBy(r => (r.getString(2), r.getString(3)))
      .view.mapValues(_.map(_.getLong(4)).sum).toMap
    val untyped = Pipeline.edgeWeightsFromPairPred(pp).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(summed == untyped,
      s"typed slices must partition the untyped pair space: " +
        s"${summed.size} summed edges vs ${untyped.size} untyped")
  }

  test("typed surfaces are total on empty inputs (first fold batch can be empty)") {
    val emptyPP = Seq.empty[(String, String, String, Long)]
      .toDF("arg_s", "arg_o", "pred", "support")
    val emptyTypes = Seq.empty[(String, String)].toDF("canonical", "ent_type")
    val someTypes = Seq(("a", "PER")).toDF("canonical", "ent_type")
    val somePP = Seq(("a", "o1", "P", 2L), ("a", "o1", "Q", 1L))
      .toDF("arg_s", "arg_o", "pred", "support")
    // empty pair space → empty battery, schema intact
    val w1 = Pipeline.typedEdgeWeights(emptyPP, someTypes)
    assert(w1.count() == 0 && w1.columns.contains("pmi_ppm"))
    // empty evidence → every entity types as the default, battery whole
    val w2 = Pipeline.typedEdgeWeights(somePP,
      Pipeline.entityTypesFromEvidence(
        Seq.empty[(String, String, Long)].toDF("canonical", "ent_type", "n_mentions")))
    assert(w2.select("type_s", "type_o").distinct()
      .as[(String, String)].collect().toSeq == Seq(("OTHER", "OTHER")))
    assert(w2.count() == 2) // P→Q and Q→P over the one shared pair
    // both empty → empty, and the consumption slice follows
    assert(Pipeline.typedEdgeWeights(emptyPP, emptyTypes).count() == 0)
    assert(Pipeline.typedEdgesTopK(w1).count() == 0)
    assert(Pipeline.edgesTopK(Pipeline.edgeWeightsSupport(emptyPP)).count() == 0)
    // the additive evidence merge tolerates an empty side (no-op fold)
    val ev = Seq(("e1", "PER", 2L)).toDF("canonical", "ent_type", "n_mentions")
    assert(Pipeline.mergeTypeEvidence(ev,
      Seq.empty[(String, String, Long)].toDF("canonical", "ent_type", "n_mentions"))
      .as[(String, String, Long)].collect().toSeq == Seq(("e1", "PER", 2L)))
  }

  test("every edge and weight surface equals a brute-force self-join reference on random pair spaces") {
    // the reference follows the oracle SQL: cap each argument pair at 32
    // predicates (support desc, pred asc), then self-join the capped
    // rows on the shared argument pair — x.pred < y.pred for the edge
    // table, x.pred <> y.pred for the directed surfaces
    final case class PP(s: String, o: String, p: String, n: Long)
    val (cap, k) = (32, 3)
    def isqrt(n: Long) = java.math.BigInteger.valueOf(n).sqrt().longValue
    def reference(pp: Seq[PP], types: Map[String, String]) = {
      def ty(e: String) = types.getOrElse(e, "OTHER")
      val capped = pp.groupBy(r => (r.s, r.o)).values
        .flatMap(_.sortBy(r => (-r.n, r.p)).take(cap)).toSeq
      val byPair = capped.groupBy(r => (r.s, r.o)).values.toSeq
      val directed = for (g <- byPair; x <- g; y <- g if x.p != y.p) yield (x, y)
      val edges: Set[Seq[Any]] = directed.filter { case (x, y) => x.p < y.p }
        .groupBy { case (x, y) => (x.p, y.p) }.map { case ((a, b), xs) =>
          Seq(a, b, xs.map { case (x, y) => math.min(x.n, y.n) }.sum, xs.size.toLong)
        }.toSet
      def countBattery(slice: PP => Seq[String]): Set[Seq[Any]] = {
        val nPairs = capped.groupBy(r => slice(r) :+ r.p).view.mapValues(_.size.toLong).toMap
        val total = capped.groupBy(slice).view
          .mapValues(_.map(r => (r.s, r.o)).distinct.size.toLong).toMap
        directed.groupBy { case (x, y) => (slice(x), x.p, y.p) }.map { case ((sl, a, b), xs) =>
          val (shared, ns, nd) = (xs.size.toLong, nPairs(sl :+ a), nPairs(sl :+ b))
          sl ++ Seq(a, b, shared, ns, nd, shared * 1000000 / ns,
            (BigInt(shared) * total(sl) * 1000000 / (BigInt(ns) * nd)).toLong)
        }.toSet
      }
      val wTotal = capped.groupBy(_.p).view.mapValues(_.map(_.n).sum).toMap
      val support: Set[Seq[Any]] = directed.groupBy { case (x, y) => (x.p, y.p) }
        .map { case ((a, b), xs) =>
          val wShared = xs.map(_._1.n).sum
          val weeds = wShared * 1000000 / wTotal(a)
          val lin = xs.map { case (x, y) => x.n + y.n }.sum * 1000000 / (wTotal(a) + wTotal(b))
          Seq(a, b, xs.size.toLong, wShared, wTotal(a), wTotal(b), weeds, lin,
            isqrt(weeds * lin))
        }.toSet
      // rank by (score desc, pred_dst asc) within the first `group` columns;
      // pred_dst sits right after them
      def topK(rows: Set[Seq[Any]], group: Int, score: Int): Set[Seq[Any]] =
        rows.groupBy(_.take(group)).values.flatMap(_.toSeq
          .sortBy(r => (-r(score).asInstanceOf[Long], r(group).asInstanceOf[String]))
          .take(k).zipWithIndex.map { case (r, i) => r.take(group + 1) ++ Seq(r(score), i + 1) })
          .toSet
      val typed = countBattery(r => Seq(ty(r.s), ty(r.o)))
      Seq(edges, countBattery(_ => Nil), support, typed,
        topK(support, 1, 8), topK(typed, 3, 7))
    }
    def surfaces(pp: Seq[PP], types: Map[String, String]) = {
      val ppDf = pp.map(r => (r.s, r.o, r.p, r.n)).toDF("arg_s", "arg_o", "pred", "support")
      val tyDf = types.toSeq.toDF("canonical", "ent_type")
      val sup = Pipeline.edgeWeightsSupport(ppDf)
      val typed = Pipeline.typedEdgeWeights(ppDf, tyDf)
      Seq(Pipeline.edgesFromPairPred(ppDf), Pipeline.edgeWeightsFromPairPred(ppDf), sup,
        typed, Pipeline.edgesTopK(sup, k), Pipeline.typedEdgesTopK(typed, k))
        .map(_.collect().map(_.toSeq).toSet)
    }
    val names = Seq("edges", "count battery", "support battery", "typed battery",
      "edgesTopK", "typedEdgesTopK")
    // entities e00-e04 PER, e05-e09 LOC, e10-e14 ORG, e15-e19 unlabeled
    // (OTHER); three hot argument pairs hold 33-47 predicates (over the
    // cap) and supports 1-3 tie often, at the cap boundary too
    val types = (0 until 15).map(i => f"e$i%02d" -> Seq("PER", "LOC", "ORG")(i / 5)).toMap
    for (seed <- Seq(7L, 8L)) {
      val rnd = new scala.util.Random(seed)
      val pairs = Seq.fill(60)((f"e${rnd.nextInt(20)}%02d", f"e${rnd.nextInt(20)}%02d"))
        .distinct.take(30)
      val pp = pairs.zipWithIndex.flatMap { case ((s, o), i) =>
        val n = if (i < 3) 33 + rnd.nextInt(15) else 1 + rnd.nextInt(8)
        rnd.shuffle((0 until 50).map(j => f"P$j%02d")).take(n)
          .map(p => PP(s, o, p, 1L + rnd.nextInt(3)))
      }
      val want = reference(pp, types)
      assert(want(3).map(r => (r(0), r(1))).size >= 3 &&
        want(3).exists(r => r(0) == "OTHER" || r(1) == "OTHER"),
        s"seed $seed must exercise three or more type slices including OTHER")
      for (((got, exp), name) <- surfaces(pp, types).zip(want).zip(names)) {
        assert(exp.nonEmpty, s"seed $seed: empty reference $name")
        if (got != exp) fail(s"seed $seed: $name diverged: extra " +
          s"${(got -- exp).take(3)}, missing ${(exp -- got).take(3)}")
      }
    }
    // the empty pair space: every surface empty
    assert(surfaces(Nil, types).forall(_.isEmpty))
  }

  test("entityTypesFromEvidence: modal label with deterministic (count desc, label asc) tie-break") {
    val ev = Seq(
      ("e1", "PER", 3L), ("e1", "LOC", 3L), ("e1", "ORG", 2L), // tie → LOC (label asc)
      ("e2", "ORG", 1L),
      ("e3", "PER", 5L), ("e3", "LOC", 9L)                     // LOC by count
    ).toDF("canonical", "ent_type", "n_mentions")
    val got = Pipeline.entityTypesFromEvidence(ev).as[(String, String)].collect().toMap
    assert(got == Map("e1" -> "LOC", "e2" -> "ORG", "e3" -> "LOC"), got.toString)
  }

  test("type-evidence fold equals batch, and the folded typed weights equal the batch surface") {
    val aliases = Pipeline.synthAliases(spark)
    def slice(from: Long, until: Long) = {
      val sents = Pipeline.segmentDocs(Pipeline.synthDocsRange(spark, from, until))
      (Pipeline.pairPredAggregate(Pipeline.canonicalize(
         Pipeline.extractTriples(sents), aliases)),
       Pipeline.entityTypeEvidence(Mentions.detect(sents, aliases),
         Pipeline.mentionLabelTable(sents)))
    }
    val (ppAll, evAll) = slice(0, 100)
    val (ppA, evA) = slice(0, 60)
    val (ppB, evB) = slice(60, 100)
    // the additive aggregate folds exactly
    val evFolded = Pipeline.mergeTypeEvidence(evA, evB).collect().map(_.toSeq).toSet
    assert(evFolded == evAll.collect().map(_.toSeq).toSet && evFolded.nonEmpty)
    // the non-additive derivation (assignment + per-slice battery)
    // recomputed from the folded aggregates equals the batch surface
    val batch = Pipeline.typedEdgeWeights(ppAll,
      Pipeline.entityTypesFromEvidence(evAll)).collect().map(_.toSeq).toSet
    val incr = Pipeline.typedEdgeWeights(
      Pipeline.mergePairPred(ppA, ppB),
      Pipeline.entityTypesFromEvidence(Pipeline.mergeTypeEvidence(evA, evB)))
      .collect().map(_.toSeq).toSet
    assert(incr == batch && batch.nonEmpty)
  }

  test("incremental fold run maintains typed_edge_weights identical to the one-shot stage") {
    // one-shot root over 80 docs
    val oneShot = Files.createTempDirectory("graft-typed-oneshot").toString
    Main.main(Array("--reader", "synth", "--docs", "80", "--out", oneShot))
    val batch = spark.read.parquet(s"$oneShot/typed_edge_weights")
      .drop("_bucket").collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    // folded root: 50 docs one-shot, then an overlapping fold to 80
    val folded = Files.createTempDirectory("graft-typed-fold").toString
    Main.main(Array("--reader", "synth", "--docs", "50", "--out", folded))
    Main.main(Array("--reader", "synth", "--docs", "80", "--docs-from", "30",
                    "--out", folded, "--incremental"))
    val incr = spark.read.parquet(s"$folded/typed_edge_weights")
      .drop("_bucket").collect().map(_.toSeq).toSet
    assert(incr == batch,
      s"folded typed weights diverged from one-shot (${incr.size} vs ${batch.size})")
    // the evidence aggregate is maintained next to pairpred
    assert(new java.io.File(s"$folded/type_evidence/_SUCCESS").exists())
  }

  test("maintainTypedEdges: stream-fed typed weights == batch on the same docs") {
    implicit val sqlCtx = spark.sqlContext
    val aliases = Pipeline.synthAliases(spark)
    val input = MemoryStream[Doc]
    val dir = Files.createTempDirectory("graft-typed-stream").toString
    val q = StreamingOps.maintainTypedEdges(input.toDS(), aliases,
      aggPath = s"$dir/pairpred", evidencePath = s"$dir/type_evidence",
      edgesPath = s"$dir/edges", weightsPath = s"$dir/weights",
      typedWeightsPath = s"$dir/typed_weights")
    val allDocs = Pipeline.synthDocs(spark, 60).collect().toSeq
    input.addData(allDocs.take(35): _*)
    q.processAllAvailable()
    // the typed surface exists after the FIRST batch (continuous maintenance)
    assert(spark.read.parquet(s"$dir/typed_weights").count() > 0)
    input.addData(allDocs.drop(35): _*)
    q.processAllAvailable()
    q.stop()
    val sents = Pipeline.segmentDocs(Pipeline.synthDocs(spark, 60))
    val batchTyped = Pipeline.typedEdgeWeights(
      Pipeline.pairPredAggregate(Pipeline.canonicalize(
        Pipeline.extractTriples(sents), aliases)),
      Pipeline.entityTypesFromEvidence(Pipeline.entityTypeEvidence(
        Mentions.detect(sents, aliases), Pipeline.mentionLabelTable(sents))))
      .collect().map(_.toSeq).toSet
    val streamed = spark.read.parquet(s"$dir/typed_weights")
      .collect().map(_.toSeq).toSet
    assert(streamed == batchTyped && streamed.nonEmpty,
      s"stream-fed typed weights diverged (${streamed.size} vs ${batchTyped.size})")
    // the untyped surfaces ride the same batches, also equal to batch
    val batchW = Pipeline.edgeWeightsFromPairPred(
      Pipeline.pairPredAggregate(Pipeline.canonicalize(
        Pipeline.extractTriples(sents), aliases))).collect().map(_.toSeq).toSet
    assert(spark.read.parquet(s"$dir/weights").collect().map(_.toSeq).toSet == batchW)
    // both generation stores committed the same last batch id
    for (agg <- Seq("pairpred", "type_evidence")) {
      val marker = java.nio.file.Paths.get(s"$dir/$agg", "_last_batch")
      assert(java.nio.file.Files.readString(marker).trim.toLong == 1L, agg)
    }
    // resume guard holds for BOTH aggregates
    val input2 = MemoryStream[Doc]
    val e = intercept[IllegalArgumentException] {
      StreamingOps.maintainTypedEdges(input2.toDS(), aliases,
        aggPath = s"$dir/pairpred", evidencePath = s"$dir/type_evidence",
        edgesPath = s"$dir/edges", weightsPath = s"$dir/weights",
        typedWeightsPath = s"$dir/typed_weights")
    }
    assert(e.getMessage.contains("checkpointLocation"), e.getMessage)
  }

  test("edgesTopK: per-source rank by (binc desc, dst asc), capped at K, no cross-src leakage") {
    val w = Seq(
      ("P", "A", 900L), ("P", "B", 900L), ("P", "C", 700L), ("P", "D", 500L),
      ("Q", "A", 100L)
    ).toDF("pred_src", "pred_dst", "binc_ppm")
      // extra columns must not disturb the projection
      .withColumn("noise", org.apache.spark.sql.functions.lit(1))
    val got = Pipeline.edgesTopK(w, k = 3)
      .as[(String, String, Long, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(got == Seq(
      ("P", "A", 900L, 1), ("P", "B", 900L, 2), ("P", "C", 700L, 3), // D cut
      ("Q", "A", 100L, 1)), got.toString)
    // over a real corpus: every source keeps ≤ K rows and ranks are dense
    val sents = Pipeline.segmentDocs(Pipeline.synthDocs(spark, 80))
    val sup = Pipeline.edgeWeightsSupport(Pipeline.pairPredAggregate(
      Pipeline.canonicalize(Pipeline.extractTriples(sents),
        Pipeline.synthAliases(spark))))
    val topk = Pipeline.edgesTopK(sup, k = 4).collect()
    assert(topk.nonEmpty)
    val bySrc = topk.groupBy(_.getString(0))
    assert(bySrc.values.forall(_.length <= 4))
    assert(bySrc.values.forall(rs =>
      rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length)))
  }

  test("typedEdgesTopK ranks within each per-type-pair graph independently") {
    val w = Seq(
      ("PER", "LOC", "P", "A", 900L), ("PER", "LOC", "P", "B", 700L),
      ("PER", "LOC", "P", "C", 700L), // tie → dst asc
      ("PER", "ORG", "P", "Z", 100L), // same pred_src, DIFFERENT slice: own rank 1
      ("PER", "LOC", "Q", "A", 500L)
    ).toDF("type_s", "type_o", "pred_src", "pred_dst", "cond_ppm")
    val got = Pipeline.typedEdgesTopK(w, k = 2)
      .as[(String, String, String, String, Long, Int)].collect()
      .sortBy(r => (r._1, r._2, r._3, r._6)).toSeq
    assert(got == Seq(
      ("PER", "LOC", "P", "A", 900L, 1), ("PER", "LOC", "P", "B", 700L, 2), // C cut
      ("PER", "LOC", "Q", "A", 500L, 1),
      ("PER", "ORG", "P", "Z", 100L, 1)), got.toString)
    // over the real typed surface: ≤ K per (slice, src), dense ranks
    val sents = Pipeline.segmentDocs(Pipeline.synthDocs(spark, 80))
    val aliases = Pipeline.synthAliases(spark)
    val typed = Pipeline.typedEdgeWeights(
      Pipeline.pairPredAggregate(Pipeline.canonicalize(
        Pipeline.extractTriples(sents), aliases)),
      Pipeline.entityTypesFromEvidence(Pipeline.entityTypeEvidence(
        Mentions.detect(sents, aliases), Pipeline.mentionLabelTable(sents))))
    val topk = Pipeline.typedEdgesTopK(typed, k = 3).collect()
    assert(topk.nonEmpty)
    val byGroup = topk.groupBy(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(byGroup.values.forall(_.length <= 3))
    assert(byGroup.values.forall(rs =>
      rs.map(_.getInt(5)).sorted.toSeq == (1 to rs.length)))
  }

  test("legacy inline-lineage roots migrate to the side table on first append") {
    val root = Files.createTempDirectory("graft-lineage-legacy").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "t=1")
    val df1 = (0L until 40L).map(i => (i, s"v$i")).toDF("k", "v")
    store.runStageDF("t", bucketCol = Some("k"))(df1)
    // the new layout wrote the side table; capture its rows, then FORGE
    // the pre-r8 layout: inline "files" list in the meta json, no side table
    val lineageDir = s"$root/_lineage/t"
    val recorded = spark.read.parquet(lineageDir)
      .as[(String, Long)].collect().toSeq
    assert(recorded.nonEmpty && recorded.map(_._2).sum == 40L)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(lineageDir))
    val metaPath = java.nio.file.Paths.get(s"$root/t/_graft_meta.json")
    val meta = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
    val filesJson = recorded.map { case (f, n) => s"""{"file":"$f","rows":$n}""" }
      .mkString(",")
    java.nio.file.Files.write(metaPath, meta.replace(""""upstream":""",
      s""""files":[$filesJson],"upstream":""").getBytes("UTF-8"))
    // the raw rewrite bypassed Hadoop's local FS — drop its checksum
    // sidecar or every store read of the forged meta fails verification
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/t/._graft_meta.json.crc"))
    // legacy root still reads and append migrates: lineage side table
    // reappears carrying old + new files, totals exact
    val df2 = (40L until 55L).map(i => (i, s"v$i")).toDF("k", "v")
    store.appendStage(df2, "t", Nil, bucketCol = Some("k"))
    assert(new java.io.File(s"$lineageDir/_SUCCESS").exists(),
      "append must migrate the legacy inline list to the side table")
    val migrated = spark.read.parquet(lineageDir).as[(String, Long)].collect()
    assert(migrated.map(_._2).sum == 55L, migrated.mkString(","))
    assert(recorded.toSet.subsetOf(migrated.toSet),
      "migration must preserve the legacy per-file rows")
    // the meta json total followed, no files list is ever written back
    val meta2 = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
    assert(meta2.contains("\"rows\":55") && !meta2.contains("\"files\":"), meta2)
    // nothing to prune — every data file is recorded
    assert(store.pruneUnrecorded("t").isEmpty)
    assert(store.readData("t").drop("_bucket").count() == 55L)
  }

  test("a stale meta-json total (lineage-append/meta-write crash window) self-heals on append") {
    // crash window: an append commits its lineage rows but dies before
    // the meta rewrite — the json total is stale-low while the lineage
    // table is complete. The NEXT append must take its previous total
    // from the lineage table (source of truth), not bake the
    // under-count in forever.
    val root = Files.createTempDirectory("graft-lineage-stale").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "t=1")
    store.runStageDF("t", bucketCol = Some("k"))(
      (0L until 30L).map(i => (i, s"v$i")).toDF("k", "v"))
    store.appendStage((30L until 50L).map(i => (i, s"v$i")).toDF("k", "v"),
      "t", Nil, bucketCol = Some("k"))
    // forge the crash: knock the json total back to the pre-append value
    val metaPath = java.nio.file.Paths.get(s"$root/t/_graft_meta.json")
    val meta = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
    java.nio.file.Files.write(metaPath,
      meta.replace("\"rows\":50", "\"rows\":30").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/t/._graft_meta.json.crc"))
    store.appendStage((50L until 60L).map(i => (i, s"v$i")).toDF("k", "v"),
      "t", Nil, bucketCol = Some("k"))
    val healed = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
    assert(healed.contains("\"rows\":60"),
      s"stale json total must heal from the lineage table, got: $healed")
    import org.apache.spark.sql.functions.sum
    assert(spark.read.parquet(s"$root/_lineage/t")
      .agg(sum($"rows")).collect()(0).getLong(0) == 60L)
  }

  test("compact rewrites the lineage side table; a stale lineage without meta is never pruned against") {
    val root = Files.createTempDirectory("graft-lineage-compact").toString
    val store = new graft.pipeline.CheckpointStore(root, spark, fingerprint = "t=1")
    store.runStageDF("t", bucketCol = Some("k"))(
      (0L until 40L).map(i => (i, s"v$i")).toDF("k", "v"))
    store.appendStage((40L until 60L).map(i => (i, s"v$i")).toDF("k", "v"),
      "t", Nil, bucketCol = Some("k"))
    val preNames = spark.read.parquet(s"$root/_lineage/t")
      .select("file").as[String].collect().toSet
    store.compact("t")
    // a completed compact re-records lineage for the NEW files: names on
    // disk == names in the table, totals exact, nothing prunable
    val postNames = spark.read.parquet(s"$root/_lineage/t")
      .select("file").as[String].collect().toSet
    val diskNames = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$root/t"))
        .map(_.getName).filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .toSet
    }
    assert(postNames == diskNames, s"lineage/disk drift: $postNames vs $diskNames")
    assert(postNames.intersect(preNames).isEmpty,
      "compact must not carry pre-compact file names in the lineage table")
    import org.apache.spark.sql.functions.sum
    assert(spark.read.parquet(s"$root/_lineage/t")
      .agg(sum($"rows")).collect()(0).getLong(0) == 60L)
    assert(store.pruneUnrecorded("t").isEmpty)
    // mid-protocol shape (lineage present, meta json GONE — e.g. a crash
    // after a swap, before markComplete): pruning against a lineage with
    // no meta anchor could delete valid data files — must refuse
    val meta = new java.io.File(s"$root/t/_graft_meta.json")
    val crc = new java.io.File(s"$root/t/._graft_meta.json.crc")
    assert(meta.delete()); crc.delete()
    assert(store.pruneUnrecorded("t").isEmpty,
      "pruneUnrecorded must refuse a stage with lineage but no meta json")
    assert(store.readData("t").drop("_bucket").count() == 60L,
      "no data file may be deleted in the refusal path")
  }
}
