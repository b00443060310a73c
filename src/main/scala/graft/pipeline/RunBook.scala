package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._
import graft.model._
import graft.streaming.StreamingOps
import graft.synth.SynthDocs
import Pipeline._

/** The run books `graft.Main` submits — the one-shot build ([[oneShot]]
  * over [[runFromDocs]]), the fold into an existing root ([[fold]] over
  * [[incrementalFold]]) and the stream drain ([[streamOnce]]) — and what
  * they share: [[compactRun]] and the merge-stage `stats.json`. They
  * compose [[Pipeline]]'s stage transforms and store each stage through
  * [[CheckpointStore]]. */
object RunBook {

  // ------------------------------------------------------------ full run
  final case class RunResult(triples: DataFrame, edges: DataFrame, docsOut: Dataset[Doc])

  /** end-to-end run with per-stage checkpoints over the synthetic corpus.
    * The checkpoint store is fingerprinted with the run parameters:
    * rerunning against the same root with different nDocs/sentsPerDoc
    * recomputes instead of silently returning stale stage outputs. */
  def run(spark: SparkSession, checkpointRoot: String, nDocs: Long,
          sentsPerDoc: Int = SynthDocs.DefaultSentsPerDoc,
          withCoref: Boolean = false): RunResult =
    runFromDocs(spark, checkpointRoot, synthDocs(spark, nDocs, sentsPerDoc),
                fingerprint = s"nDocs=$nDocs,sentsPerDoc=$sentsPerDoc,buckets=64",
                aliases = None, withCoref = withCoref)

  /** the store fingerprint of a one-shot run: the input fingerprint plus
    * the coref flag, so toggling it invalidates the downstream stages. */
  private def oneShotFingerprint(fingerprint: String, withCoref: Boolean): String =
    s"$fingerprint,withCoref=$withCoref"

  /** end-to-end run over an ARBITRARY docs table (corpus-reader output,
    * Iceberg scan, …). `fingerprint` identifies the input + parameters for
    * checkpoint invalidation; `aliases` defaults to the synthetic dict.
    * `withCoref = true` adds the reference's coref second pass as its own
    * checkpointed stage and merges the `*_corefed` relation lists into the
    * canonicalized output (the reference's merged entry shape,
    * merge_parsed_results.py + dudepparse.py:2149-2167) — the flag is
    * folded into the store fingerprint so toggling it invalidates the
    * downstream stages instead of silently reusing them. */
  def runFromDocs(spark: SparkSession, checkpointRoot: String, inputDocs: Dataset[Doc],
                  fingerprint: String,
                  aliases: Option[Dataset[AliasRow]] = None,
                  withCoref: Boolean = false): RunResult = {
    import spark.implicits._
    val store = new CheckpointStore(checkpointRoot, spark,
      fingerprint = oneShotFingerprint(fingerprint, withCoref))
    // a crashed incremental fold left this root suspect: wipe completion
    // metas + the fold-owned pairpred, clear the marker, recompute all
    // (the store owns the layout — see CheckpointStore.recoverFoldCrash)
    store.recoverFoldCrash()
    val docs = store.runStage("docs", bucketCol = Some("doc_id"))(inputDocs)
    val sentences = store.runStage("sentences", Seq("docs"))(segmentDocs(docs))
    val base = store.runStage("triples", Seq("sentences"), bucketCol = Some("doc_id"))(
      extractTriples(sentences))
    val triples =
      if (!withCoref) base
      else base.unionByName(
        store.runStage("coref_triples", Seq("docs"), bucketCol = Some("doc_id"))(
          corefTriples(docs)))
    // canonical is a DataFrame stage, checkpointed with the same
    // explicit bucketed layout as the typed stages (by doc_id, co-located
    // with triples)
    val dict = aliases.getOrElse(synthAliases(spark))
    val canonBack = store.runStageDF("canonical", Seq("triples"),
      bucketCol = Some("doc_id"))(
      canonicalize(triples, dict))
    // the graph stages read the checkpointed canonical parquet, so the
    // shared capped subtree's re-scans are cheap. Type evidence comes
    // from the checkpointed sentences (entity-link mentions ⋈ annotator
    // labels), derived inline — the fold maintains the SAME surface from
    // its additive `type_evidence` aggregate ([[incrementalFold]])
    val edgesBack = graphStages(store, pairPredAggregate(canonBack),
      entityTypesFromEvidence(typeEvidence(sentences, dict)))
    RunResult(canonBack, edgesBack, docs)
  }

  /** the three entailment-graph stages — `edges`, `edge_weights` and
    * `typed_edge_weights` — derived from ONE pinned cap of the pair-pred
    * aggregate ([[Pipeline.cappedCheckpointed]]): the edges select over
    * the evidence core, the count battery, and the typed battery joining
    * the entity types onto the capped rows ([[Pipeline.typedFromCapped]]).
    * The cap is a `lazy val` and the entity types a thunk, so a stage that
    * resumes never builds them and a fully resumed run materializes no
    * pin. Shared by [[runFromDocs]] and [[incrementalFold]]; all three are
    * bucketed by pred_src — the entailment-graph consumer reads by
    * predicate, so bucket predicates prune its scans. Returns the edges
    * stage. */
  private def graphStages(store: CheckpointStore, pairPred: DataFrame,
                          entityTypes: => DataFrame): DataFrame = {
    def stage(name: String)(df: => DataFrame) =
      store.runStageDF(name, Seq("canonical"), bucketCol = Some("pred_src"))(df)
    lazy val capped = cappedCheckpointed(pairPred)
    val edges = stage("edges")(edgesFromCapped(capped))
    stage("edge_weights")(edgeWeightsFromCapped(capped))
    stage("typed_edge_weights")(typedFromCapped(capped, entityTypes))
    edges
  }

  /** Main's one-shot run book: [[runFromDocs]], then the sinks, stats and
    * maintenance passes `flags` select. `readerFingerprint` is the reader's
    * own fingerprint (the excluded sink checkpoints under it),
    * `fingerprint` the run's; `release` frees the reader's cache once the
    * stages are built. */
  def oneShot(spark: SparkSession, outDir: String, docs: Dataset[Doc],
              readerFingerprint: String, fingerprint: String,
              aliases: Dataset[AliasRow], flags: Set[String],
              release: () => Unit): Unit = {
    val withCoref = flags("coref")
    val result = runFromDocs(spark, outDir, docs, fingerprint,
      aliases = Some(aliases), withCoref = withCoref)
    release()
    val store = new CheckpointStore(outDir, spark)

    if (flags("mentions") || flags("nerpos")) {
      // reuse the sentences THIS run just checkpointed instead of
      // re-segmenting the corpus once per extra sink (same fingerprint →
      // guaranteed in sync)
      val sentences = store.readData("sentences")
        .as[SentenceRow](org.apache.spark.sql.Encoders.product[SentenceRow])
      if (flags("mentions"))
        Mentions.detect(sentences, aliases).write.mode("overwrite").parquet(s"$outDir/mentions")
      // main_ner.py's per-sentence output shape: NER/POS columns joined
      // with the corefed text of the same (doc, sentence)
      if (flags("nerpos"))
        corefNerPosJoin(nerPosTable(sentences), corefedSentenceTable(result.docsOut))
          .write.mode("overwrite").parquet(s"$outDir/nerpos")
    }
    // the reference's output wire format (one JSON object per line)
    if (flags("export-jsonl"))
      result.triples.write.mode("overwrite").json(s"$outDir/triples_jsonl")
    // the merge step's reproducible sample sink (reference used a
    // wall-clock seed; the content-hash filter is deterministic)
    if (flags("toy-sample"))
      result.triples.filter(toySampleFilter).write.mode("overwrite").parquet(s"$outDir/toy_sample")

    // the reference's merge-stage global stats (merge_parsed_results.py:60-74)
    // docs and edges are the totals their stage commits recorded
    val nDocs = store.rows("docs")
    writeStats(spark, outDir, nDocs, store.rows("edges"), relTotals(result.triples))
    // the pre-salting diagnostic over the edges shuffle key: run it here,
    // on the corpus you're about to build edges for, BEFORE tuning
    // entailmentEdges(saltBuckets=…) on a bigger one
    if (flags("skew-report"))
      graft.ops.SkewOps.keySkew(result.triples, "pred")
        .write.mode("overwrite").parquet(s"$outDir/skew_report")
    // post-run maintenance: rewrite accumulated small files in place
    // (rewrite_data_files analogue; resume fingerprints survive); the
    // excluded sink checkpoints under the reader-only fingerprint
    if (flags("compact"))
      compactRun(spark, outDir, oneShotFingerprint(fingerprint, withCoref), readerFingerprint)
    println(s"[graft] pipeline complete: $nDocs docs -> $outDir (stats.json written)")
  }

  // ------------------------------------------------------- incremental
  /** `newDocs` = the docs this fold appended; `deltaRelTotals` = their
    * triple rows' per-list counts (the ADDITIVE stats delta — rel totals
    * are pure counts, so the caller merges them into the previous stats
    * instead of rescanning the store); `repaired` = this fold found a
    * crashed predecessor's marker and reconciled the stores first — the
    * crashed fold's rows are in the stores but in NO recorded delta, so
    * any additive derived state (stats.json) must be rebuilt from the
    * stores, not incremented. Store totals (docs, edges) are the rows
    * each stage's commit recorded ([[CheckpointStore.rows]]). */
  final case class IncrementalResult(newDocs: Long,
                                     deltaRelTotals: Seq[(String, Long)],
                                     repaired: Boolean)

  /** Incremental maintenance of an EXISTING run root: fold a fresh corpus
    * slice into the maintained docs/triples/canonical stores (doc-
    * granular, idempotent — a re-submitted or overlapping slice never
    * duplicates a doc) and re-derive the entailment edges through the
    * incremental aggregate path. This is the run-book surface of the
    * operators the kg_slice_merge / kg_edges_incr oracles prove:
    *
    *   fresh docs ⋉̸ docs-store ids              (the ONE delta: new docs)
    *   → segment the new docs once → extract → canonicalize
    *   → pairPredAggregate(canonical delta) folded into the maintained
    *     `pairpred` aggregate ([[Pipeline.mergePairPred]], additive,
    *     agg-sized), the new docs' type evidence into `type_evidence` the
    *     same way
    *   → APPEND to docs + triples + canonical IN THAT ORDER (same bucket
    *     layout; history files untouched — Iceberg append, not rewrite;
    *     the order maintains canonical ⊆ triples ⊆ docs under any crash)
    *   → [[graphStages]] re-derived from the merged aggregates (the
    *     non-additive cap/expansion — never rescans the corpus).
    *
    * PRECONDITION of the one delta: when it is computed, every stored doc
    * has all its triple and canonical rows (canonical ⊆ triples ⊆ docs,
    * doc-complete). A committed fold or one-shot run leaves the root so,
    * and the repair pass below restores it after a crash — the
    * `_fold_inflight` marker brackets the only window where it fails.
    * So a doc id already stored has nothing left to append anywhere and
    * is ignored, even if its content changed (existing rows win, as in
    * [[Pipeline.mergeSliceIncrement]]). A slice with no new doc, and no
    * repair, is a NO-OP: nothing is segmented, extracted, aggregated or
    * written.
    *
    * CRASH SAFETY: parquet has no atomic multi-table commit (Iceberg
    * does — that is the production seam), so the fold brackets its
    * mutations with a `_fold_inflight` marker. A fold that finds the
    * marker runs REPAIR first: docs missing from triples are
    * re-extracted, triples missing from canonical re-canonicalized
    * (both doc-granular appends), and the fold-owned `pairpred` and
    * `type_evidence` aggregates are DROPPED, so the fold re-derives both
    * from the reconciled stores as it would for a root that never had
    * them (the repair path's only non-slice-sized cost; the normal path
    * never pays it).
    * Every mutation is individually idempotent, so repair + re-fold
    * always converges to the one-shot result.
    *
    * The existing corpus is NEVER re-extracted or re-segmented on the
    * normal path: at 100 TB the cost is the new docs' extraction + one
    * doc-id column scan of history + aggregate-sized folds. A
    * missing `pairpred` store (a root written before this path existed)
    * is derived once from the canonical store and maintained from then
    * on. The updated stages are re-stamped with THIS fingerprint, so a
    * later rerun of the original one-shot command invalidates and
    * recomputes instead of silently reusing the folded store.
    *
    * Restriction (ENFORCED): the root must have been built WITHOUT
    * --coref — the fresh slice runs base extraction only, and folding
    * base-only rows into a base+coref store would mix entry shapes per
    * doc (new docs would permanently lack corefed contributions). */
  def incrementalFold(spark: SparkSession, root: String, freshDocs: Dataset[Doc],
                      fingerprint: String,
                      aliases: Option[Dataset[AliasRow]] = None,
                      beforeCommit: IncrementalResult => Unit = _ => ()): IncrementalResult = {
    import spark.implicits._
    val fs = fsOf(spark, root)
    validateFoldRoot(spark, root,
      "aliases=([^,]*)".r.findFirstMatchIn(fingerprint)
        .map(m => decodePin(m.group(1))))
    val store = new CheckpointStore(root, spark, fingerprint = fingerprint)
    val dict = aliases.getOrElse(synthAliases(spark))
    val marker = new Path(s"$root/_fold_inflight")
    def storeIds(stage: String) =
      store.readData(stage).select(col("doc_id")).distinct()
    def asDocs(df: DataFrame) = df.select(col("doc_id"), col("spans")).as[Doc]

    val repaired = fs.exists(marker)
    if (repaired) {
      // REPAIR: a previous fold died mid-mutation. FIRST drop any data
      // files the crashed append committed but never recorded in lineage
      // (a mid-job-commit crash can expose a SUBSET of an append's files,
      // leaving a doc's rows PARTIALLY present — invisible to doc-level
      // anti-joins; pruning restores the last recorded-consistent state,
      // Iceberg's orphan-file semantics). THEN reconcile forward — append
      // order guarantees canonical ⊆ triples ⊆ docs:
      for (st <- Seq("docs", "triples", "canonical"))
        store.pruneUnrecorded(st)
      val docsMissingT = asDocs(store.readData("docs")
        .join(storeIds("triples"), Seq("doc_id"), "left_anti"))
      val repairT = extractTriples(segmentDocs(docsMissingT))
        .toDF().localCheckpoint()
      if (!repairT.isEmpty)
        store.appendStage(repairT, "triples", Seq("sentences"), bucketCol = Some("doc_id"))
      val missingC = store.readData("triples")
        .join(storeIds("canonical"), Seq("doc_id"), "left_anti").localCheckpoint()
      if (!missingC.isEmpty)
        store.appendStage(canonicalize(missingC.as[TripleRow], dict),
          "canonical", Seq("triples"), bucketCol = Some("doc_id"))
      // the fold-owned aggregates are dropped; the mutating branch below
      // re-derives each from the reconciled stores before the first append
      store.dropFoldAggregates()
      // marker stays until THIS fold completes
    } else {
      fs.create(marker, true).close()
    }

    // the ONE delta: the slice's docs the docs store lacks, pinned (eager
    // localCheckpoint) before any append below mutates the store
    val docsNew = freshDocs.toDF()
      .join(storeIds("docs"), Seq("doc_id"), "left_anti").localCheckpoint()
    val newDocs = docsNew.count()
    val deltaRelTotals =
      if (!repaired && newDocs == 0) Nil // NO-OP: build and write nothing
      else {
        // every delta and merged aggregate below is MATERIALIZED before
        // the first append: the pre-aggregate fallbacks read the canonical
        // and docs stores, which must not see the delta docs twice. The
        // new docs are segmented ONCE, for extraction and type evidence
        val sentsNew = segmentDocs(asDocs(docsNew)).localCheckpoint()
        val tNew = extractTriples(sentsNew).toDF().localCheckpoint()
        val cNew = canonicalize(tNew.as[TripleRow], dict).localCheckpoint()
        // the maintained additive aggregates; a root written before one
        // existed, or whose repair dropped it, derives it once from the
        // stores and maintains it from then on. The pins also break each
        // read/overwrite cycle
        val ppPath = s"$root/pairpred"
        val ppExisting =
          if (fs.exists(new Path(ppPath, "_SUCCESS"))) spark.read.parquet(ppPath)
          else pairPredAggregate(store.readData("canonical"))
        val ppMerged = mergePairPred(ppExisting, pairPredAggregate(cNew)).localCheckpoint()
        val evPath = s"$root/type_evidence"
        val evExisting =
          if (fs.exists(new Path(evPath, "_SUCCESS"))) spark.read.parquet(evPath)
          else typeEvidence(segmentDocs(asDocs(store.readData("docs"))), dict)
        val ev = mergeTypeEvidence(evExisting, typeEvidence(sentsNew, dict)).localCheckpoint()
        store.appendStage(docsNew, "docs", Nil, bucketCol = Some("doc_id"))
        store.appendStage(tNew, "triples", Seq("sentences"), bucketCol = Some("doc_id"))
        store.appendStage(cNew, "canonical", Seq("triples"), bucketCol = Some("doc_id"))
        ppMerged.write.mode("overwrite").parquet(ppPath)
        ev.write.mode("overwrite").parquet(evPath)
        // re-derive edges and both weight surfaces from the merged
        // aggregates and overwrite the stages (runStageDF under THIS
        // fingerprint re-stamps the meta; the standing marker keeps
        // isComplete false here, which is what a mutating fold needs). A
        // pre-weights root simply gains the weight stages on its first
        // mutating fold
        graphStages(store, ppMerged, entityTypesFromEvidence(ev))
        relTotals(tNew)
      }
    val result = IncrementalResult(newDocs, deltaRelTotals, repaired)
    // derived-state refresh (stats.json) runs INSIDE the crash bracket:
    // if it dies, the marker still stands and the next fold's repair
    // rebuilds everything — no window where the stores committed but the
    // derived state silently never catches up
    beforeCommit(result)
    fs.delete(marker, false) // fold committed
    result
  }

  /** Main's fold run book: [[incrementalFold]] of `docs` into the
    * existing root `outDir`, under the run's fingerprint marked
    * `incremental`. stats.json is refreshed ([[refreshStats]]) INSIDE the
    * fold's crash bracket via beforeCommit: a crash before the stats write
    * leaves the marker standing, so the next fold's repair rebuilds stats
    * from the stores instead of silently never catching up. `compact`
    * rewrites exactly the stages this fold stamped. */
  def fold(spark: SparkSession, outDir: String, docs: Dataset[Doc],
           fingerprint: String, aliases: Dataset[AliasRow], compact: Boolean,
           release: () => Unit): Unit = {
    val foldFingerprint = s"$fingerprint,incremental"
    val res = incrementalFold(spark, outDir, docs, foldFingerprint,
      aliases = Some(aliases), beforeCommit = refreshStats(spark, outDir, _))
    release()
    if (compact) compactRun(spark, outDir, foldFingerprint)
    println(s"[graft] incremental fold complete: ${res.newDocs} new docs -> $outDir (stats.json refreshed)")
  }

  // -------------------------------------------------------- maintenance
  /** Compact every stage of `checkpointRoot` complete under each store
    * fingerprint in `fingerprints`, printing one report line per stage —
    * the post-run maintenance pass (per-slice sinks and skewed buckets
    * leave small files behind; see [[CheckpointStore.compact]]). A stage
    * stamped by other run parameters is not complete under them and is
    * left alone (by design — compacting someone else's half-written root
    * would be data loss). */
  def compactRun(spark: SparkSession, checkpointRoot: String,
                 fingerprints: String*): Seq[CompactionReport] = {
    // the work list is DERIVED from the store (every directory complete
    // under the fingerprint) — a stage added to the pipeline can never
    // silently escape compaction
    val reports = fingerprints.flatMap { fp =>
      val store = new CheckpointStore(checkpointRoot, spark, fingerprint = fp)
      store.completeStages.map(store.compact)
    }
    reports.foreach(r => println(
      s"[graft] compacted ${r.stage}: ${r.filesBefore} -> ${r.filesAfter} files (${r.rowsAfter} rows)"))
    reports
  }

  // -------------------------------------------------------------- stats
  /** per-list triple totals of a triples table. */
  private def relTotals(triples: DataFrame): Seq[(String, Long)] =
    triples.groupBy("rel_list").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** the root's filesystem — hadoop FS, not java.nio: --out may be an
    * HDFS/object-store path. */
  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val os = fs.create(p, true)
    try os.write(text.getBytes(UTF_8)) finally os.close()
  }

  /** the reference's merge-stage global stats file
    * (merge_parsed_results.py:60-74): docs, edges, per-list triple totals. */
  private def writeStats(spark: SparkSession, outDir: String, nDocs: Long,
                         nEdges: Long, relTotals: Seq[(String, Long)]): Unit = {
    val totals = relTotals.sortBy(_._1).map { case (k, n) => s"""    "$k": $n""" }
    val stats =
      s"""{
         |  "docs": $nDocs,
         |  "edges": $nEdges,
         |  "rel_totals": {
         |${totals.mkString(",\n")}
         |  }
         |}
         |""".stripMargin
    writeText(fsOf(spark, outDir), new Path(s"$outDir/stats.json"), stats)
  }

  /** stats.json after an incremental fold. docs and edges are the totals
    * the stores' commits recorded, as on the one-shot path. Rel totals are
    * ADDITIVE: the previous stats.json (machine-written by [[writeStats]])
    * plus the fold's delta, slice-sized instead of a full-store scan per
    * fold. They are recounted from the triples store when no prior
    * stats.json exists OR when the fold REPAIRED a crashed predecessor
    * (the crashed fold's rows are in the stores but were never captured by
    * any delta — incrementing would under-count them forever). */
  private def refreshStats(spark: SparkSession, outDir: String,
                           res: IncrementalResult): Unit = {
    val statsPath = new Path(s"$outDir/stats.json")
    val fs = fsOf(spark, outDir)
    val store = new CheckpointStore(outDir, spark)
    val totals =
      if (!fs.exists(statsPath) || res.repaired)
        relTotals(store.readData("triples"))
      else {
        val old = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(readText(fs, statsPath)).get("rel_totals").properties().asScala
          .map(e => e.getKey -> e.getValue.asLong()).toMap
        res.deltaRelTotals.foldLeft(old) { case (m, (k, n)) =>
          m.updated(k, m.getOrElse(k, 0L) + n) }.toSeq
      }
    writeStats(spark, outDir, store.rows("docs"), store.rows("edges"), totals)
  }

  // ---------------------------------------------------------- streaming
  /** Main's STREAMING ingest run book: watch `input` as a Structured
    * Streaming file source of docs JSONL, run the SAME narrow extraction
    * chain as a stream (unified batch/stream semantics), canonicalize
    * against the broadcast dict (stream-static join) and maintain the
    * pair-pred and type-evidence aggregates, the edge table and both
    * weight surfaces per micro-batch through the idempotent fold bridge
    * ([[StreamingOps.maintainTypedEdges]]). Trigger.AvailableNow drains
    * what's there and terminates — rerunning after more files arrive
    * continues from the checkpointed source offsets, and the fold marker
    * makes replayed batches no-ops. A long-running deployment drops the
    * trigger and lets the query run continuously. */
  def streamOnce(spark: SparkSession, outDir: String, input: String,
                 aliases: Dataset[AliasRow], aliasSpec: String): Unit = {
    val fs = fsOf(spark, outDir)
    def at(surface: String) = s"$outDir/$surface"
    // the maintained stream aggregate is built under ONE dict: pin the
    // config next to it and refuse a resume under a different one (a
    // changed dict would silently mix two entity spaces into the
    // aggregate). The pin is path + CONTENT hash, compared by the batch
    // fold root's rule (Pipeline.aliasPinMatches): a pre-content-hash pin
    // compares by path and is MIGRATED to the hashed form on first match
    val cfgPath = new Path(at("pairpred_stream/_stream_config"))
    val cfg = s"aliases=$aliasSpec"
    val prev = if (fs.exists(cfgPath)) Some(readText(fs, cfgPath).trim) else None
    prev.foreach(p => require(aliasPinMatches(p.stripPrefix("aliases="), aliasSpec),
      s"--stream-once: $outDir was maintained under '$p' but this " +
        s"run specifies '$cfg' — a changed dictionary cannot fold into " +
        "the same aggregate; use a fresh --out"))
    if (!prev.contains(cfg)) writeText(fs, cfgPath, cfg)

    import spark.implicits._
    val docsStream = spark.readStream.schema(docsJsonSchema).json(input).as[Doc]
    StreamingOps.maintainTypedEdges(docsStream, aliases,
      aggPath = at("pairpred_stream"), evidencePath = at("type_evidence_stream"),
      edgesPath = at("edges_stream"), weightsPath = at("edge_weights_stream"),
      typedWeightsPath = at("edge_weights_typed_stream"),
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
      checkpointLocation = Some(at("_stream_checkpoint")))
      .awaitTermination()

    // a drain with NO new batches never enters foreachBatch — a store
    // maintained before a surface existed (or one that lost it) would end
    // the run without it. Backfill every surface once from the committed
    // aggregate generations, through the micro-batch's own writer, so the
    // advertised layout holds after every drain, new data or not; when a
    // backfill input is MISSING, say so explicitly — the closing message
    // must never claim a surface that is not there.
    val surfaces = Seq("edges_stream", "edge_weights_stream", "edge_weights_typed_stream")
    def present(surface: String) = fs.exists(new Path(at(surface), "_SUCCESS"))
    val missing = surfaces.filterNot(present)
    if (missing.nonEmpty) {
      val ppGen = StreamingOps.committedAggregate(spark, at("pairpred_stream"))
      val evGen = StreamingOps.committedAggregate(spark, at("type_evidence_stream"))
      ppGen match {
        case Some(pg) =>
          StreamingOps.writeEdgeSurfaces(spark.read.parquet(pg), at("edges_stream"),
            Some(at("edge_weights_stream")), evGen.map(eg =>
              entityTypesFromEvidence(spark.read.parquet(eg)) -> at("edge_weights_typed_stream")))
          println(s"[graft] stream surfaces backfilled from ${(ppGen ++ evGen).mkString(" + ")}")
          if (evGen.isEmpty && missing.contains("edge_weights_typed_stream")) println(
            "[graft] WARNING: edge_weights_typed_stream absent and no " +
              "committed type-evidence aggregate to backfill from (a store " +
              "maintained before the typed surface existed has no captured " +
              "mention evidence; it gains the surface on its first mutating " +
              "batch) — edge_weights_typed_stream stays absent this drain")
        case None => println(
          s"[graft] WARNING: ${missing.mkString(" + ")} absent and no " +
            "committed pair-pred aggregate to backfill from (empty store) — " +
            "they stay absent this drain")
      }
    }
    val maintained = surfaces.filter(present)
    println(s"[graft] stream drained -> $outDir " +
      s"(${if (maintained.isEmpty) "no derived surfaces yet (empty store)"
          else maintained.mkString(" + ") + " maintained"})")
  }
}
