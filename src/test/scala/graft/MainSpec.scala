package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper

/** graft.Main — the submitted-job equivalent of the reference's run book
  * (preprocess → parse slices → ner → merge). Asserts the full output
  * layout, the excluded sink, stats.json, and checkpoint resume. */
class MainSpec extends SparkSpecBase {

  private def writeWebhose(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-main-in").toString
    Files.write(Paths.get(s"$dir/part-0.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("end-to-end webhose run produces the full output layout and resumes") {
    val mapper = new ObjectMapper()
    val text = graft.synth.SynthDocs.genDoc(2L).spans
      .filter(_.kind == "text").map(_.text).mkString
    val in = writeWebhose(Seq(
      s"""{"uuid":"m1","title":"","text":${mapper.writeValueAsString(text)}}""",
      s"""{"uuid":"m2","title":"","text":${mapper.writeValueAsString(text)}}""",
      """{"uuid":"m3","title":"","text":"english only, excluded."}"""))
    val out = Files.createTempDirectory("graft-main-out").toString
    Main.main(Array("--reader", "webhose", "--input", in, "--out", out,
                    "--coref", "--mentions", "--toy-sample", "--nerpos",
                    "--export-jsonl"))
    for (stage <- Seq("docs", "sentences", "triples", "coref_triples",
                      "canonical", "edges", "mentions", "toy_sample", "nerpos"))
      assert(new java.io.File(s"$out/$stage/_SUCCESS").exists(), s"missing stage $stage")
    // the nerpos table carries one row per sentence
    assert(spark.read.parquet(s"$out/nerpos").count() ==
           spark.read.parquet(s"$out/sentences").count())
    // excluded sink routed the English-only entry (checkpointed parquet
    // stage — a resumed run must not re-scan the corpus to rewrite it)
    val excluded = spark.read.parquet(s"$out/excluded")
    assert(excluded.select("doc_id").collect().map(_.getString(0)).toSet == Set("m3"))
    assert(new java.io.File(s"$out/excluded/_graft_meta.json").exists())
    // the exact fingerprint strings the metas record: the run's (reader,
    // alias pin, coref flag) on every stage, the reader's alone on the
    // excluded sink
    def fingerprint(stage: String) = mapper.readTree(
      Files.readString(Paths.get(s"$out/$stage/_graft_meta.json"))).get("fingerprint").asText
    assert(fingerprint("docs") == s"reader=webhose,input=$in,aliases=synth,withCoref=true")
    assert(fingerprint("excluded") == s"reader=webhose,input=$in")
    // stats.json parses and carries per-list totals
    val stats = mapper.readTree(Files.readString(Paths.get(s"$out/stats.json")))
    assert(stats.get("docs").asLong() == 2L)
    assert(stats.get("rel_totals").size() > 0)
    val triples1 = spark.read.parquet(s"$out/canonical").count()
    assert(triples1 > 0)
    // the JSONL export carries the same rows as the canonical table
    assert(spark.read.json(s"$out/triples_jsonl").count() == triples1)
    // second invocation resumes from checkpoints and reproduces the data
    Main.main(Array("--reader", "webhose", "--input", in, "--out", out,
                    "--coref", "--mentions"))
    assert(spark.read.parquet(s"$out/canonical").count() == triples1)
  }

  test("synth reader mode runs without an input path") {
    val out = Files.createTempDirectory("graft-main-synth").toString
    Main.main(Array("--reader", "synth", "--docs", "40", "--out", out))
    assert(spark.read.parquet(s"$out/canonical").count() > 0)
    assert(!new java.io.File(s"$out/coref_triples").exists()) // flag off
  }

  test("--skew-report materializes the predicate skew diagnostic") {
    val out = Files.createTempDirectory("graft-main-skew").toString
    Main.main(Array("--reader", "synth", "--docs", "40", "--out", out, "--skew-report"))
    val rep = spark.read.parquet(s"$out/skew_report")
    assert(rep.count() > 0)
    assert(rep.columns.toSet ==
      Set("key", "n_rows", "rank", "share_x10000", "mult_x1000", "is_hot"))
    // ranks are 1..n heaviest-first
    val ranked = rep.orderBy("rank").collect()
    assert(ranked.head.getAs[Int]("rank") == 1)
    assert(ranked.map(_.getAs[Long]("n_rows")).sliding(2).forall(
      p => p.length < 2 || p(0) >= p(1)))
  }

  test("all post-run flags compose in one submitted job") {
    val out = Files.createTempDirectory("graft-main-all").toString
    Main.main(Array("--reader", "synth", "--docs", "40", "--out", out,
      "--coref", "--toy-sample", "--export-jsonl", "--skew-report", "--compact"))
    for (dir <- Seq("canonical", "edges", "coref_triples", "toy_sample",
                    "triples_jsonl", "skew_report"))
      assert(new java.io.File(s"$out/$dir").exists(), s"missing $dir")
    // compaction ran over the checkpointed stages only — the plain sinks
    // (skew_report, toy_sample) have no lineage meta and are untouched
    assert(new java.io.File(s"$out/stats.json").exists())
    assert(spark.read.parquet(s"$out/canonical").count() > 0)
  }

  test("compact refuses a stage owned by different run parameters") {
    val out = Files.createTempDirectory("graft-main-fpguard").toString
    Main.main(Array("--reader", "synth", "--docs", "40", "--out", out))
    val wrongStore = new graft.pipeline.CheckpointStore(out, spark,
      fingerprint = "reader=synth,docs=999")
    assert(wrongStore.completeStages.isEmpty)
    intercept[IllegalArgumentException](wrongStore.compact("triples"))
  }

  test("--compact rewrites stage files post-run without breaking resume") {
    val out = Files.createTempDirectory("graft-main-compact").toString
    Main.main(Array("--reader", "synth", "--docs", "40", "--out", out))
    def parquetFiles(stage: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$out/$stage"))
    }
    val sentencesBefore = parquetFiles("sentences")
    val rows = spark.read.parquet(s"$out/triples").count()
    Main.main(Array("--reader", "synth", "--docs", "40", "--out", out, "--compact"))
    assert(parquetFiles("sentences") <= sentencesBefore)
    assert(parquetFiles("sentences") >= 1)
    assert(spark.read.parquet(s"$out/triples").count() == rows)
    // compaction must not invalidate: a third run still resumes
    Main.main(Array("--reader", "synth", "--docs", "40", "--out", out))
    assert(spark.read.parquet(s"$out/triples").count() == rows)
  }

  test("--aliases supplies a user dictionary for canonicalization + mentions") {
    val mapper = new ObjectMapper()
    val text = graft.synth.SynthDocs.genDoc(0L).spans
      .filter(_.kind == "text").map(_.text).mkString
    // use a surface that actually occurs in the doc text as the alias
    val surface = graft.synth.Templates.persons.find(text.contains)
      .getOrElse(fail(s"no person surface in $text"))
    val in = writeWebhose(Seq(
      s"""{"uuid":"a1","title":"","text":${mapper.writeValueAsString(text)}}"""))
    val dictDir = Files.createTempDirectory("graft-dict").toString
    Files.write(Paths.get(s"$dictDir/d.jsonl"),
      s"""{"alias":${mapper.writeValueAsString(surface)},"entity_id":"U001","canonical":"用户实体"}"""
        .getBytes("UTF-8"))
    val out = Files.createTempDirectory("graft-main-dict").toString
    Main.main(Array("--reader", "webhose", "--input", in, "--out", out,
                    "--aliases", dictDir, "--mentions"))
    val mentions = spark.read.parquet(s"$out/mentions")
    assert(mentions.filter(org.apache.spark.sql.functions.col("entity_id") === "U001").count() > 0,
           s"user dict not applied (surface=$surface)")
    // the chosen surface occurs in the doc text (persons head synth
    // sentences, so it lands in an argument slot) — the user dictionary
    // must actually flow into canonicalization, not just mentions
    val canon = spark.read.parquet(s"$out/canonical")
    assert(canon.filter(org.apache.spark.sql.functions.col("subj_entity_id") === "U001" ||
                        org.apache.spark.sql.functions.col("obj_entity_id") === "U001").count() > 0,
           s"user dict not applied to canonicalization (surface=$surface)")
  }

  test("duplicate alias surfaces dedup to the min (entity_id, canonical) row") {
    val mapper = new ObjectMapper()
    val text = graft.synth.SynthDocs.genDoc(0L).spans
      .filter(_.kind == "text").map(_.text).mkString
    val surface = graft.synth.Templates.persons.find(text.contains)
      .getOrElse(fail(s"no person surface in $text"))
    val in = writeWebhose(Seq(
      s"""{"uuid":"a1","title":"","text":${mapper.writeValueAsString(text)}}"""))
    val sj = mapper.writeValueAsString(surface)
    // the same surface mapped to TWO entities — the real-dictionary norm;
    // the min (entity_id, canonical) row must win, detectJoin's rule
    val dictDir = Files.createTempDirectory("graft-dup-dict").toString
    Files.write(Paths.get(s"$dictDir/d.jsonl"), Seq(
      s"""{"alias":$sj,"entity_id":"U900","canonical":"后者"}""",
      s"""{"alias":$sj,"entity_id":"U100","canonical":"前者"}""").mkString("\n")
        .getBytes("UTF-8"))
    val out = Files.createTempDirectory("graft-main-dup").toString
    Main.main(Array("--reader", "webhose", "--input", in, "--out", out,
                    "--aliases", dictDir, "--mentions"))
    import org.apache.spark.sql.functions.col
    // mentions link only to the min entity
    val ments = spark.read.parquet(s"$out/mentions")
      .filter(col("mention") === surface)
    assert(ments.count() > 0)
    assert(ments.select("entity_id").distinct().collect().map(_.getString(0)).toSet
           == Set("U100"))
    // canonicalize stayed row-preserving: one canonical row per triple —
    // a duplicated surface must not multiply matching triples
    assert(spark.read.parquet(s"$out/canonical").count() ==
           spark.read.parquet(s"$out/triples").count())
    assert(spark.read.parquet(s"$out/canonical")
      .filter(col("subj_entity_id") === "U900" || col("obj_entity_id") === "U900")
      .count() == 0)
  }

  test("--incremental: overlapping slice folds == one-shot run, identical edges") {
    import org.apache.spark.sql.functions.col
    // one-shot truth over docs [0, 40)
    val oneShot = Files.createTempDirectory("graft-inc-oneshot").toString
    Main.main(Array("--reader", "synth", "--docs", "40", "--out", oneShot))
    // slice 1: [0, 25); slice 2 OVERLAPS it: [15, 40)
    val inc = Files.createTempDirectory("graft-inc-fold").toString
    Main.main(Array("--reader", "synth", "--docs", "25", "--out", inc))
    Main.main(Array("--reader", "synth", "--docs", "40", "--docs-from", "15",
                    "--out", inc, "--incremental"))
    def table(root: String, stage: String) =
      spark.read.parquet(s"$root/$stage").drop("_bucket")
    // triple store: doc-granular idempotence — same rows as one shot
    assert(table(inc, "triples").count() == table(oneShot, "triples").count())
    assert(table(inc, "triples").exceptAll(table(oneShot, "triples")).isEmpty)
    // canonical store follows
    assert(table(inc, "canonical").exceptAll(table(oneShot, "canonical")).isEmpty)
    // edges: the incremental aggregate path lands on the IDENTICAL table
    val eInc = table(inc, "edges").collect().map(_.toSeq).toSet
    val eOne = table(oneShot, "edges").collect().map(_.toSeq).toSet
    assert(eInc == eOne, s"edges diverged: ${eInc.size} vs ${eOne.size}")
    // the maintained additive aggregate exists for the NEXT fold
    assert(new java.io.File(s"$inc/pairpred/_SUCCESS").exists())
    // stats.json was refreshed over the folded store, with the SAME docs
    // definition as the one-shot path (the maintained docs store count)
    val mapper = new ObjectMapper()
    val stats = mapper.readTree(Files.readString(Paths.get(s"$inc/stats.json")))
    assert(stats.get("docs").asLong() == 40L)
    assert(stats.get("docs").asLong() ==
      mapper.readTree(Files.readString(Paths.get(s"$oneShot/stats.json")))
        .get("docs").asLong())
    // the fold committed: no in-flight marker left behind
    assert(!new java.io.File(s"$inc/_fold_inflight").exists())
    // a SECOND fold of the same slice is a no-op (idempotent)
    Main.main(Array("--reader", "synth", "--docs", "40", "--docs-from", "15",
                    "--out", inc, "--incremental"))
    assert(table(inc, "triples").count() == table(oneShot, "triples").count())
    // composing per-slice sinks with a fold fails loudly
    intercept[IllegalArgumentException](
      Main.main(Array("--reader", "synth", "--docs", "40", "--out", inc,
                      "--incremental", "--mentions")))
    intercept[IllegalArgumentException](
      Main.main(Array("--reader", "synth", "--docs", "40", "--out", inc,
                      "--incremental", "--skew-report")))
  }

  test("--incremental --compact rewrites the folded stores without recompute") {
    val oneShot = Files.createTempDirectory("graft-foldcomp-oneshot").toString
    Main.main(Array("--reader", "synth", "--docs", "40", "--out", oneShot))
    val inc = Files.createTempDirectory("graft-foldcomp").toString
    Main.main(Array("--reader", "synth", "--docs", "25", "--out", inc))
    def parquetFiles(stage: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$inc/$stage"))
    }
    Main.main(Array("--reader", "synth", "--docs", "40", "--docs-from", "15",
                    "--out", inc, "--incremental"))
    val before = parquetFiles("triples")
    // a second fold (new slice) with --compact: the maintained stores are
    // compacted under the fold's own fingerprint — the folded root's only
    // small-file maintenance path
    Main.main(Array("--reader", "synth", "--docs", "40", "--docs-from", "38",
                    "--out", inc, "--incremental", "--compact"))
    assert(parquetFiles("triples") <= before,
           s"compaction must not grow the store ($before -> ${parquetFiles("triples")})")
    // content still equals the one-shot truth
    def table(root: String, stage: String) =
      spark.read.parquet(s"$root/$stage").drop("_bucket")
    assert(table(inc, "triples").exceptAll(table(oneShot, "triples")).isEmpty &&
           table(oneShot, "triples").exceptAll(table(inc, "triples")).isEmpty)
    assert(table(inc, "edges").collect().map(_.toSeq).toSet ==
           table(oneShot, "edges").collect().map(_.toSeq).toSet)
  }

  test("--incremental repairs a crashed fold before folding (marker protocol)") {
    import org.apache.spark.sql.functions.col
    val oneShot = Files.createTempDirectory("graft-crash-oneshot").toString
    Main.main(Array("--reader", "synth", "--docs", "40", "--out", oneShot))
    val inc = Files.createTempDirectory("graft-crash-fold").toString
    Main.main(Array("--reader", "synth", "--docs", "25", "--out", inc))
    // SIMULATE a fold of [25,40) that died after the docs + triples
    // appends: canonical/pairpred never updated, marker left in flight
    val crashStore = new graft.pipeline.CheckpointStore(inc, spark,
      fingerprint = "crashed-fold")
    val lostDocs = graft.pipeline.Pipeline.synthDocsRange(spark, 25, 40)
    crashStore.appendStage(lostDocs.toDF(), "docs", Nil, bucketCol = Some("doc_id"))
    crashStore.appendStage(
      graft.pipeline.Pipeline.extractTriples(
        graft.pipeline.Pipeline.segmentDocs(lostDocs)).toDF(),
      "triples", Nil, bucketCol = Some("doc_id"))
    Files.createFile(Paths.get(inc, "_fold_inflight"))
    // fold a DIFFERENT slice that does NOT cover the crashed docs [30,40)
    // — only the repair pass can reconcile them
    Main.main(Array("--reader", "synth", "--docs", "30", "--docs-from", "15",
                    "--out", inc, "--incremental"))
    def table(root: String, stage: String) =
      spark.read.parquet(s"$root/$stage").drop("_bucket")
    assert(table(inc, "triples").exceptAll(table(oneShot, "triples")).isEmpty)
    assert(table(oneShot, "triples").exceptAll(table(inc, "triples")).isEmpty)
    assert(table(inc, "canonical").exceptAll(table(oneShot, "canonical")).isEmpty)
    assert(table(oneShot, "canonical").exceptAll(table(inc, "canonical")).isEmpty)
    assert(table(inc, "edges").collect().map(_.toSeq).toSet ==
           table(oneShot, "edges").collect().map(_.toSeq).toSet)
    // the repaired type evidence: the typed battery equals the one-shot's
    val typed = table(oneShot, "typed_edge_weights").collect().map(_.toSeq).toSet
    assert(typed.nonEmpty &&
           table(inc, "typed_edge_weights").collect().map(_.toSeq).toSet == typed)
    assert(!new java.io.File(s"$inc/_fold_inflight").exists(), "marker must clear")
    // per-store doc counts reconciled (canonical ⊆ triples ⊆ docs restored)
    assert(table(inc, "docs").count() == 40L)
    assert(table(inc, "canonical").select(col("doc_id")).distinct().count() ==
           table(inc, "triples").select(col("doc_id")).distinct().count())
    // stats.json was REBUILT from the stores (the crashed fold's rows are
    // in no delta, so the repaired fold must not increment) — identical
    // to the one-shot stats
    val mapper = new ObjectMapper()
    assert(mapper.readTree(Files.readString(Paths.get(s"$inc/stats.json"))) ==
           mapper.readTree(Files.readString(Paths.get(s"$oneShot/stats.json"))),
           "stats.json must be rebuilt to the one-shot values after repair")
  }

  test("repair prunes data files a crashed append left unrecorded in lineage") {
    import org.apache.spark.sql.functions.col
    val oneShot = Files.createTempDirectory("graft-prune-oneshot").toString
    Main.main(Array("--reader", "synth", "--docs", "30", "--out", oneShot))
    val inc = Files.createTempDirectory("graft-prune-fold").toString
    Main.main(Array("--reader", "synth", "--docs", "30", "--out", inc))
    // simulate a crashed append whose job commit exposed PART of its
    // files: plant a rogue parquet file with foreign rows directly into
    // a bucket dir (not recorded in the stage meta), marker standing
    // (no _bucket data column — partitioned files carry it in the dir)
    val rogue = graft.pipeline.Pipeline.extractTriples(
      graft.pipeline.Pipeline.segmentDocs(
        graft.pipeline.Pipeline.synthDocsRange(spark, 30, 31))).toDF()
    val tmp = Files.createTempDirectory("graft-rogue").toString
    rogue.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = java.nio.file.Paths.get(s"$inc/triples/_bucket=3/zz-orphan.parquet")
    Files.createDirectories(dest.getParent)
    Files.copy(part.toPath, dest)
    Files.createFile(Paths.get(inc, "_fold_inflight"))
    // the partial rows ARE visible before repair
    assert(spark.read.parquet(s"$inc/triples")
      .filter(col("doc_id") === graft.synth.SynthDocs.docId(30)).count() > 0)
    // an empty-slice fold triggers repair; the orphan file must be pruned
    Main.main(Array("--reader", "synth", "--docs", "30", "--docs-from", "30",
                    "--out", inc, "--incremental"))
    def table(root: String, stage: String) =
      spark.read.parquet(s"$root/$stage").drop("_bucket")
    assert(table(inc, "triples")
      .filter(col("doc_id") === graft.synth.SynthDocs.docId(30)).count() == 0,
      "unrecorded partial-append rows must be pruned, not blessed")
    assert(table(inc, "triples").exceptAll(table(oneShot, "triples")).isEmpty &&
           table(oneShot, "triples").exceptAll(table(inc, "triples")).isEmpty)
    assert(!new java.io.File(s"$inc/_fold_inflight").exists())
  }

  test("a crashed fold's marker forces a one-shot rerun to recompute, not resume") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-marker-oneshot").toString
    Main.main(Array("--reader", "synth", "--docs", "30", "--out", out))
    val cleanRows = spark.read.parquet(s"$out/triples").count()
    // simulate a crashed fold: foreign slice rows landed in triples, the
    // in-flight marker is still standing
    val crashStore = new graft.pipeline.CheckpointStore(out, spark,
      fingerprint = "crashed-fold")
    crashStore.appendStage(
      graft.pipeline.Pipeline.extractTriples(graft.pipeline.Pipeline.segmentDocs(
        graft.pipeline.Pipeline.synthDocsRange(spark, 30, 35))).toDF(),
      "triples", Nil, bucketCol = Some("doc_id"))
    Files.createFile(Paths.get(out, "_fold_inflight"))
    Files.createDirectories(Paths.get(out, "pairpred")) // stale fold-owned agg
    // rerunning the ORIGINAL one-shot command must recompute everything —
    // resuming would silently keep the foreign docs in triples while
    // canonical/edges lack them
    Main.main(Array("--reader", "synth", "--docs", "30", "--out", out))
    val triples = spark.read.parquet(s"$out/triples")
    assert(triples.count() == cleanRows, "polluted stage was resumed, not recomputed")
    assert(triples.filter(col("doc_id") >=
      graft.synth.SynthDocs.docId(30)).count() == 0)
    assert(!new java.io.File(s"$out/_fold_inflight").exists())
    assert(!new java.io.File(s"$out/pairpred").exists(), "stale pairpred must be dropped")
  }

  test("--stream-once drains a docs stream and maintains the edge table incrementally") {
    val mapper = new ObjectMapper()
    def docJson(i: Long): String = {
      val d = graft.synth.SynthDocs.genDoc(i)
      val spans = d.spans.map(s =>
        s"""{"kind":${mapper.writeValueAsString(s.kind)},"text":${mapper.writeValueAsString(s.text)},"media_ref":${mapper.writeValueAsString(s.media_ref)},"offset":${s.offset}}""")
      s"""{"doc_id":"${d.doc_id}","spans":[${spans.mkString(",")}]}"""
    }
    val in = Files.createTempDirectory("graft-stream-in").toString
    val out = Files.createTempDirectory("graft-stream-out").toString
    Files.write(Paths.get(s"$in/batch1.jsonl"),
      (0L until 20L).map(docJson).mkString("\n").getBytes("UTF-8"))
    Main.main(Array("--reader", "docs-json", "--input", in, "--out", out,
                    "--stream-once"))
    assert(spark.read.parquet(s"$out/edges_stream").count() > 0)
    // more files arrive; a second drain RESUMES from the source offsets
    // (checkpointed) and folds only the new batch
    Files.write(Paths.get(s"$in/batch2.jsonl"),
      (20L until 40L).map(docJson).mkString("\n").getBytes("UTF-8"))
    Main.main(Array("--reader", "docs-json", "--input", in, "--out", out,
                    "--stream-once"))
    val streamed = spark.read.parquet(s"$out/edges_stream")
      .collect().map(_.toSeq).toSet
    // truth: the batch edge build over the same 40 docs
    val batch = graft.pipeline.Pipeline.entailmentEdges(
      graft.pipeline.Pipeline.canonicalize(
        graft.pipeline.Pipeline.extractTriples(graft.pipeline.Pipeline.segmentDocs(
          graft.pipeline.Pipeline.synthDocs(spark, 40))),
        graft.pipeline.Pipeline.synthAliases(spark)))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
           s"stream-maintained edges diverged from batch (${streamed.size} vs ${batch.size})")
    // the weight surface is maintained alongside, equal to the batch one
    val streamedW = spark.read.parquet(s"$out/edge_weights_stream")
      .collect().map(_.toSeq).toSet
    val batchW = graft.pipeline.Pipeline.edgeWeightsFromPairPred(
      graft.pipeline.Pipeline.pairPredAggregate(
        graft.pipeline.Pipeline.canonicalize(
          graft.pipeline.Pipeline.extractTriples(graft.pipeline.Pipeline.segmentDocs(
            graft.pipeline.Pipeline.synthDocs(spark, 40))),
          graft.pipeline.Pipeline.synthAliases(spark))))
      .collect().map(_.toSeq).toSet
    assert(streamedW == batchW,
           s"stream-maintained weights diverged (${streamedW.size} vs ${batchW.size})")
    // the TYPED surface is maintained alongside, equal to the batch
    // derivation over the same docs (evidence aggregate folded per batch)
    val batchTyped: Set[Seq[Any]] = {
      val P = graft.pipeline.Pipeline
      val sents = P.segmentDocs(P.synthDocs(spark, 40))
      P.typedEdgeWeights(
        P.pairPredAggregate(P.canonicalize(
          P.extractTriples(sents), P.synthAliases(spark))),
        P.entityTypesFromEvidence(P.entityTypeEvidence(
          graft.pipeline.Mentions.detect(sents, P.synthAliases(spark)),
          P.mentionLabelTable(sents))))
        .collect().map(_.toSeq).toSet
    }
    assert(spark.read.parquet(s"$out/edge_weights_typed_stream")
      .collect().map(_.toSeq).toSet == batchTyped,
      "stream-maintained TYPED weights diverged from batch")
    // a store that lost its derived surfaces (simulated by deleting
    // them) is backfilled on the next drain even when no new batch
    // arrives (foreachBatch never fires — the backfill reads the committed
    // aggregate generations directly); the typed backfill reads BOTH
    // generations
    locally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(s"$out/edges_stream"))
      rm(new java.io.File(s"$out/edge_weights_stream"))
      rm(new java.io.File(s"$out/edge_weights_typed_stream"))
      Main.main(Array("--reader", "docs-json", "--input", in, "--out", out,
                      "--stream-once"))
      val refilledEdges = spark.read.parquet(s"$out/edges_stream")
        .collect().map(_.toSeq).toSet
      assert(refilledEdges == batch, "post-drain edge backfill diverged")
      val refilled = spark.read.parquet(s"$out/edge_weights_stream")
        .collect().map(_.toSeq).toSet
      assert(refilled == batchW, "post-drain weight backfill diverged")
      val refilledTyped = spark.read.parquet(s"$out/edge_weights_typed_stream")
        .collect().map(_.toSeq).toSet
      assert(refilledTyped == batchTyped, "post-drain TYPED backfill diverged")
    }
    // one-shot flags are loudly rejected (they would be silently dead)
    intercept[IllegalArgumentException](
      Main.main(Array("--reader", "docs-json", "--input", in, "--out", out,
                      "--stream-once", "--incremental")))
    // resuming the maintained aggregate under a DIFFERENT dict is refused
    // (it would mix two entity spaces into one aggregate)
    val dictDir = Files.createTempDirectory("graft-stream-dict").toString
    Files.write(Paths.get(s"$dictDir/d.jsonl"),
      """{"alias":"张三","entity_id":"U001","canonical":"张先生"}""".getBytes("UTF-8"))
    intercept[IllegalArgumentException](
      Main.main(Array("--reader", "docs-json", "--input", in, "--out", out,
                      "--stream-once", "--aliases", dictDir)))
  }

  test("a changed alias dictionary cannot fold into an existing root (path or content)") {
    val dictDir = Files.createTempDirectory("graft-pin-dict").toString
    Files.write(Paths.get(s"$dictDir/d.jsonl"),
      """{"alias":"张三","entity_id":"U001","canonical":"张先生"}""".getBytes("UTF-8"))
    val out = Files.createTempDirectory("graft-pin-root").toString
    Main.main(Array("--reader", "synth", "--docs", "10", "--out", out,
                    "--aliases", dictDir))
    // same dict, same content: the fold is accepted
    Main.main(Array("--reader", "synth", "--docs", "15", "--docs-from", "10",
                    "--out", out, "--incremental", "--aliases", dictDir))
    // EDIT the dict file in place — same path, different content. The
    // content hash in the aliases pin must refuse the fold (the path
    // alone would pass and silently mix two entity spaces).
    Files.write(Paths.get(s"$dictDir/d.jsonl"),
      """{"alias":"张三","entity_id":"U999","canonical":"另一个人"}""".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](
      Main.main(Array("--reader", "synth", "--docs", "20", "--docs-from", "15",
                      "--out", out, "--incremental", "--aliases", dictDir)))
    assert(e.getMessage.contains("entity space"), e.getMessage)
    // a different dict (here: the synth default) is refused outright
    val e2 = intercept[IllegalArgumentException](
      Main.main(Array("--reader", "synth", "--docs", "20", "--docs-from", "15",
                      "--out", out, "--incremental")))
    assert(e2.getMessage.contains("entity space"), e2.getMessage)
    // nothing was folded by the refused runs
    assert(!new java.io.File(s"$out/_fold_inflight").exists())

    // MIGRATION: a root stamped before content hashing pins only the
    // path — folding the UNCHANGED dict into it must be accepted (the
    // path segments match), not refused with a misleading error
    Files.write(Paths.get(s"$dictDir/d.jsonl"),
      """{"alias":"张三","entity_id":"U001","canonical":"张先生"}""".getBytes("UTF-8"))
    for (st <- Seq("docs", "triples", "canonical", "edges")) {
      val meta = Paths.get(s"$out/$st/_graft_meta.json")
      if (Files.exists(meta)) {
        Files.writeString(meta,
          Files.readString(meta).replaceAll("@x[0-9a-f]+", ""))
        // hadoop LocalFileSystem keeps a checksum sidecar the direct
        // edit invalidates — drop it (real pre-upgrade roots were
        // written through hadoop and carry consistent sums)
        Files.deleteIfExists(meta.getParent.resolve("._graft_meta.json.crc"))
      }
    }
    Main.main(Array("--reader", "synth", "--docs", "20", "--docs-from", "15",
                    "--out", out, "--incremental", "--aliases", dictDir))
    assert(spark.read.parquet(s"$out/docs").select("doc_id").distinct().count() == 20)
  }

  test("argument errors are loud") {
    intercept[IllegalArgumentException](Main.main(Array("--out", "/tmp/x")))
    intercept[IllegalArgumentException](
      Main.main(Array("--reader", "nope", "--input", "/tmp", "--out", "/tmp/x")))
  }
}
