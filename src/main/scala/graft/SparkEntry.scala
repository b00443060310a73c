package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{Doc, SentenceRow, TripleRow}
import graft.ops.{DedupOps, MultimodalOps, SimilarityOps, TextOps}
import graft.pipeline.{Mentions, Pipeline}
import graft.sources.{CorpusReaders, ReaderFixtures}
import scala.util.chaining._

/** Driver contract: one flagship entry + one query per implemented
  * operator (SURVEY.md §2 + the training-data ops), with ANSI-SQL DuckDB
  * oracles for every SQL-expressible query. Numeric outputs are integer /
  * fixed-point so hash comparison is exact.
  */
object SparkEntry {

  /** the deterministic PII plant for text_pii — ONE source of truth for
    * the Spark query and the DuckDB oracle SQL (hand-duplicating the
    * fragments would let the two sides silently diverge). */
  private val PiiPlantA = " call 555-123-4567 or mail u"
  private val PiiPlantB = "@example.com via https://ex.org/d"

  /** deterministic shared boilerplate planted into BOTH sides of the
    * cross-corpus ingestion split (the synthetic corpus has no natural
    * exact duplicates, so without the plant the cross-dedup anti-join
    * would be vacuously all-pass); the DuckDB oracle replants it from
    * the same constant. */
  private val CrossPlant =
    "shared boilerplate navigation footer copyright terms privacy cookie banner menu home"

  /** seen corpus = doc_id % 3 == 0; the rest is the incoming batch;
    * every 21st doc (seen side) and every (7k+1)th incoming doc carry
    * the planted boilerplate → exact cross-corpus duplicates exist. */
  private def crossPlanted(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 21 === 0 ||
           (col("doc_id") % 7 === 1 && col("doc_id") % 3 =!= 0), lit(CrossPlant))
        .otherwise(col("text")))


  private def read(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** the ONE definition of the driver-visible ngram pair set — shared by
    * dedup_ngram and dedup_clusters, whose oracle compares clusters built
    * from the MATERIALIZED dedup_ngram parquet (parameter drift between
    * two call sites would silently desynchronize them). */
  private def ngramPairs(s: SparkSession, dir: String): DataFrame =
    // shingle width / bucket cap via DedupOps' shipped constants — the
    // SQL oracle pins 3-grams explicitly, so a constant change fails the
    // oracle loudly instead of desyncing the profiler's decomposition
    DedupOps.ngramJaccardPairs(read(s, dir, "documents"),
      n = DedupOps.NgramN, thresholdX1000 = 500,
      maxBucketSize = DedupOps.NgramMaxBucket)

  /** docs synthesized for the KG queries at verify scale (Verify.scala
    * materializes the same docs as the `_aux/docs` oracle table). */
  val VerifyDocs = 400L

  // ---- the KG corpus chain every kg_* and mm_* query composes: docs
  // [from, until) of the verify corpus → sentences → triples → canonical.
  // One definition keeps a batch surface and its _incr twin on the same
  // chain (a slice's docs equal the filtered full corpus, SynthDocs is
  // per-id), so the twins share their oracle SQL.
  private def kgDocs(s: SparkSession, from: Long = 0,
                     until: Long = VerifyDocs): Dataset[Doc] =
    Pipeline.synthDocsRange(s, from, until)

  private def kgSents(s: SparkSession, from: Long = 0,
                      until: Long = VerifyDocs): Dataset[SentenceRow] =
    Pipeline.segmentDocs(kgDocs(s, from, until))

  private def kgTriples(s: SparkSession): Dataset[TripleRow] =
    Pipeline.extractTriples(kgSents(s))

  private def kgCanonical(s: SparkSession, sents: Dataset[SentenceRow]): DataFrame =
    Pipeline.canonicalize(Pipeline.extractTriples(sents), Pipeline.synthAliases(s))

  /** the pair-pred aggregate of the slices between consecutive `cuts`,
    * folded by [[Pipeline.mergePairPred]]: `pairPred(s, 0, VerifyDocs)` is
    * the batch surface's, `pairPred(s, 0, 250, VerifyDocs)` its _incr
    * twin's (additive aggregates folded, the non-additive cap re-derived
    * downstream — must equal the batch exactly). */
  private def pairPred(s: SparkSession, cuts: Long*): DataFrame =
    cuts.zip(cuts.tail).map { case (from, until) =>
      Pipeline.pairPredAggregate(kgCanonical(s, kgSents(s, from, until)))
    }.reduce(Pipeline.mergePairPred)

  /** ONE typed-battery derivation shared by every typed query surface
    * (kg_typed_edge_weights, its _incr twin and the kg_typed_edges_topk
    * consumption slice), over the slices between consecutive `cuts`:
    * per slice the pair-pred aggregate and the type evidence
    * ([[Pipeline.typeEvidence]]), both folded additively, then the modal
    * type assignment and the per-slice cond/PMI weights recomputed. A
    * single definition means no typed surface can sparsify or oracle a
    * DIFFERENT battery than the one kg_typed_edge_weights publishes. */
  private def typedBattery(s: SparkSession, cuts: Long*): DataFrame = {
    val slices = cuts.zip(cuts.tail).map { case (from, until) =>
      // each slice's sentence table feeds THREE independent consumers
      // (extraction, entity-link mentions, annotator labels) whose
      // subtrees share no exchange — pin it so segmentation runs once per
      // slice (r9; the evidence side is pinned inside typedEdgeWeights)
      val sents = kgSents(s, from, until).localCheckpoint(eager = false)
      (Pipeline.pairPredAggregate(kgCanonical(s, sents)),
       Pipeline.typeEvidence(sents, Pipeline.synthAliases(s)))
    }
    Pipeline.typedEdgeWeights(slices.map(_._1).reduce(Pipeline.mergePairPred),
      Pipeline.entityTypesFromEvidence(slices.map(_._2).reduce(Pipeline.mergeTypeEvidence)))
  }

  // the deterministic toy-sample key/filter live in Pipeline (shared with
  // graft.Main's --toy-sample sink)

  /** Flagship query on sf=0.001: the full KG pipeline — synth interleaved
    * docs → sentences → triples (fine+coarse+amendments) — emitting the
    * canonical triple table. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    graft.functions.ZhFunctions.register(spark)
    val docs = Pipeline.synthDocs(spark, 100)
    val triples = Pipeline.extractTriples(Pipeline.segmentDocs(docs))
    Pipeline.canonicalize(triples, Pipeline.synthAliases(spark))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- KG-construction pipeline (non-SQL-expressible → rows-only) ----
    "kg_sentences" -> ((s, _) => kgSents(s).toDF()),
    "kg_triples" -> ((s, _) => kgTriples(s).toDF()),
    "kg_canonical" -> ((s, _) => kgCanonical(s, kgSents(s))),
    "kg_edges" -> ((s, _) => Pipeline.edgesFromPairPred(pairPred(s, 0, VerifyDocs))),
    "kg_span_report" -> ((s, _) => {
      // the invariant checked through a REAL round trip: explode spans →
      // shuffle → reassemble by offset, compared against the input table
      val docs = kgDocs(s)
      Pipeline.spanInvariantReport(docs, Pipeline.reassembleDocs(docs))
    }),
    "kg_mentions" -> ((s, _) =>
      Mentions.detect(kgSents(s), Pipeline.synthAliases(s)).toDF()),
    "kg_mentions_join" -> ((s, _) =>
      // the distributed entity-link variant (shuffle join on candidate
      // surfaces, for dictionaries beyond broadcast) — same contract as
      // kg_mentions, same oracle
      Mentions.detectJoin(kgSents(s), Pipeline.synthAliases(s)).toDF()),
    "kg_mention_stats" -> ((s, _) =>
      Mentions.mentionStats(Mentions.detect(kgSents(s), Pipeline.synthAliases(s)))),
    "kg_coref" -> ((s, _) =>
      Pipeline.corefTriples(kgDocs(s)).toDF()),
    "kg_coref_nerpos" -> ((s, _) => {
      val docs = kgDocs(s)
      // driver-visible projection is all-scalar: the round driver's pandas
      // comparator cannot sort/hash array columns, so mention_words is
      // array_join'd here (the typed NerPosRow table keeps the array)
      Pipeline.corefNerPosJoin(
        Pipeline.nerPosTable(Pipeline.segmentDocs(docs)),
        Pipeline.corefedSentenceTable(docs))
        .withColumn("mention_words", array_join(col("mention_words"), "|"))
    }),
    "kg_sentence_report" -> ((s, _) => {
      // semi-oracle for the (non-relational) segmentation core: per-doc
      // invariants the driver's DuckDB can recompute independently over
      // the materialized outputs — every sentence is a substring of its
      // doc's concatenated text spans, plus sentence/text-span counts.
      // (Synth spans contain no whitespace/'#'/'::', so tokNorm is an
      // identity and admitted sentences stay exact substrings.)
      val docs = kgDocs(s).toDF()
      val textSpans = filter(col("spans"),
        x => x("kind") === "text" && x("text").isNotNull)
      val dtext = docs.select(col("doc_id"),
        array_join(transform(textSpans, x => x("text")), "").as("doc_text"),
        size(textSpans).as("n_text_spans"))
      val sents = kgSents(s).toDF()
      val ag = sents.join(dtext, "doc_id")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sentences"),
             min(when(instr(col("doc_text"), col("sent")) > 0, 1)
                 .otherwise(0)).as("allc"))
      dtext.join(ag, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_text_spans"),
                coalesce(col("n_sentences"), lit(0L)).as("n_sentences"),
                coalesce(col("allc") === 1, lit(true)).as("all_contained"))
    }),
    "kg_coref_totals" -> ((s, _) =>
      // the coref second pass's per-list totals, checked relationally
      // over the materialized kg_coref parquet (the extraction itself is
      // diff-tested; this puts its aggregate shape under the driver)
      Pipeline.corefTriples(kgDocs(s)).toDF()
        .groupBy(col("rel_list"))
        .agg(count(lit(1)).as("n_rels"),
             countDistinct(col("doc_id")).as("n_docs"))),
    "kg_metrics" -> ((s, _) =>
      Pipeline.extractionMetrics(kgSents(s))),
    "kg_slice_merge" -> ((s, _) => {
      // overlapping slice re-submission: docs [0,300) already merged,
      // docs [200,400) arrive as a fresh slice; the doc-granular
      // idempotent merge must equal the one-shot full extraction — the
      // oracle compares against the materialized kg_triples parquet
      val merged = Pipeline.extractTriples(kgSents(s, 0, 300)).toDF()
      val fresh = Pipeline.extractTriples(kgSents(s, 200, VerifyDocs)).toDF()
      Pipeline.mergeSliceIncrement(merged, fresh)
    }),
    "kg_skew_report" -> ((s, _) =>
      // shuffle-key skew diagnostic over the predicate column — the key
      // kg_edges shuffles on (and salts); what an operator runs before
      // picking salt factors. Oracle recomputes relationally over the
      // materialized kg_canonical parquet.
      graft.ops.SkewOps.keySkew(kgCanonical(s, kgSents(s)), "pred")),
    "kg_cooc_components" -> ((s, _) =>
      // connected components over the top-K strongest entity
      // co-occurrence edges (bounded edge set = the scale contract);
      // same EAGER caveat as dedup_clusters — iterates to convergence
      // when constructed. Oracle: recursive reachability walk over the
      // materialized kg_canonical parquet.
      graft.ops.GraphOps.coocComponents(kgCanonical(s, kgSents(s)))),
    "kg_edges_incr" -> ((s, _) =>
      // the incremental edge-maintenance path: the additive stage-1
      // aggregates of two corpus slices folded together, then the
      // (non-additive) cap/expansion re-derived — must equal the batch
      // kg_edges exactly, so it SHARES kg_edges' oracle SQL
      Pipeline.edgesFromPairPred(pairPred(s, 0, 250, VerifyDocs))),
    "kg_edge_weights" -> ((s, _) =>
      // the downstream-EntGraph local weight surface: directional
      // conditional P(dst|src) + log-free PMI ratio in exact fixed point
      // over the SAME capped pair-pred space as kg_edges
      Pipeline.edgeWeightsFromPairPred(pairPred(s, 0, VerifyDocs))),
    "kg_edge_weights_incr" -> ((s, _) =>
      // incremental twin: two slices' additive aggregates folded, the
      // non-additive weight derivation recomputed — must equal the batch
      // kg_edge_weights exactly, so it SHARES its oracle SQL
      Pipeline.edgeWeightsFromPairPred(pairPred(s, 0, 250, VerifyDocs))),
    "kg_edge_weights_sup" -> ((s, _) =>
      // the support-weighted score battery (Weeds precision / Lin /
      // balanced inclusion) over the same capped evidence space
      Pipeline.edgeWeightsSupport(pairPred(s, 0, VerifyDocs))),
    "kg_edge_weights_sup_incr" -> ((s, _) =>
      // incremental twin — folded additive aggregates, scores recomputed;
      // must equal the batch surface exactly (shares its oracle SQL)
      Pipeline.edgeWeightsSupport(pairPred(s, 0, 250, VerifyDocs))),
    "kg_typed_edge_weights" -> ((s, _) =>
      // the per-argument-type-pair subgraph surface (the Hosseini/Berant
      // formulation the downstream EntGraph build constructs): the
      // cond/PMI battery computed WITHIN each (type_s, type_o) slice,
      // types = modal NER label per canonical entity from the
      // entity-link mentions ⋈ annotator labels evidence join
      typedBattery(s, 0, VerifyDocs)),
    "kg_typed_edge_weights_incr" -> ((s, _) =>
      // incremental twin: BOTH additive aggregates (pair-pred AND type
      // evidence) folded from two slices, the non-additive assignment +
      // weight derivation recomputed — must equal the batch surface
      // exactly, so it SHARES its oracle SQL
      typedBattery(s, 0, 250, VerifyDocs)),
    "kg_edges_topk" -> ((s, _) =>
      // the sparsified consumption surface: top-K per source predicate
      // by balanced inclusion (window rank per group — no global sort)
      Pipeline.edgesTopK(Pipeline.edgeWeightsSupport(pairPred(s, 0, VerifyDocs)), k = 8)),
    "kg_typed_edges_topk" -> ((s, _) =>
      // the TYPED consumption slice: EntGraph globalization reads each
      // per-argument-type-pair graph separately, so the sparsification
      // ranks within (type_s, type_o, pred_src) over the SAME battery
      // the kg_typed_edge_weights surface publishes
      Pipeline.typedEdgesTopK(typedBattery(s, 0, VerifyDocs), k = 8)),
    "kg_entity_rank" -> ((s, _) =>
      // entity importance: fixed-point integer PageRank over the same
      // bounded co-occurrence graph as kg_cooc_components — pure BIGINT
      // arithmetic, so the oracle's unrolled 10-iteration CTE chain
      // reproduces every rank bit-exactly (EAGER like the CC ops)
      graft.ops.GraphOps.entityPageRank(kgCanonical(s, kgSents(s)))),
    "kg_entity_rank_full" -> ((s, _) =>
      // the UNCAPPED full-graph route: PageRank over EVERY co-occurrence
      // edge with support ≥ 2 (weight-threshold edge derivation — no
      // global top-K, no sort/limit in the plan; PlanQualitySpec gates it)
      graft.ops.GraphOps.entityPageRankFull(kgCanonical(s, kgSents(s)))),
    "kg_cooc_full" -> ((s, _) =>
      // connected components over the SAME uncapped threshold graph
      graft.ops.GraphOps.coocComponentsFull(kgCanonical(s, kgSents(s)))),
    "kg_triples_audit" -> ((s, _) => {
      // semi-oracle for the (non-relational) extraction core: per-list
      // arity/marker/idx invariants the driver's DuckDB recomputes
      // independently over the MATERIALIZED kg_triples + kg_sentences —
      // placeholder multiplicity (≤1 '·X·' token per pred), non-empty
      // preds, idx-in-sentence bounds, subj/obj ↔ idx null parity,
      // referential integrity to the sentence table, tag enum. Every
      // n_* column must be 0 and tag_ok true — so the row CONTENT is the
      // invariant, and the hash compare proves both engines agree on it.
      val sents = kgSents(s)
      val t = Pipeline.extractTriples(sents).toDF()
      val sn = sents.toDF()
        .select(col("doc_id"), col("sent_id"), length(col("sent")).as("sent_len"))
      def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      t.join(sn, Seq("doc_id", "sent_id"), "left")
        .groupBy(col("rel_list"))
        .agg(count(lit(1)).as("n_rows"),
          cnt(size(filter(split(coalesce(col("pred"), lit("")), "·"),
            x => x === "X")) > 1).as("n_multi_x"),
          cnt(col("pred").isNull || col("pred") === "").as("n_bad_pred"),
          cnt(col("sent_len").isNull).as("n_orphan"),
          cnt(col("pred_idx") < 0 || col("pred_idx") >= col("sent_len") ||
              (col("subj_idx").isNotNull &&
               (col("subj_idx") < 0 || col("subj_idx") >= col("sent_len"))) ||
              (col("obj_idx").isNotNull &&
               (col("obj_idx") < 0 || col("obj_idx") >= col("sent_len"))))
            .as("n_idx_oob"),
          cnt(col("subj").isNull =!= col("subj_idx").isNull).as("n_subj_mismatch"),
          cnt(col("obj").isNull =!= col("obj_idx").isNull).as("n_obj_mismatch"))
        .withColumn("tag_ok", col("rel_list").isin(
          "fine", "coarse", "amend_fine", "amend_coarse", "possible",
          "crossed", "amend_crossed"))
    }),
    "kg_coref_audit" -> ((s, _) => {
      // same invariant-audit idea over the COREF second-pass core: tag ∈
      // the 7 *_corefed lists, placeholder multiplicity, null parity,
      // referential integrity to the sentence table, non-negative idx.
      // (Full idx-in-sentence bounds are deliberately omitted — corefed
      // indices reference the SUBSTITUTED sentence, whose length differs
      // from the base sentence kg_sentences carries.)
      val sents = kgSents(s)
      val t = Pipeline.corefTriples(kgDocs(s)).toDF()
      val sn = sents.toDF().select(col("doc_id"), col("sent_id"), lit(1).as("known"))
      def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      t.join(sn, Seq("doc_id", "sent_id"), "left")
        .groupBy(col("rel_list"))
        .agg(count(lit(1)).as("n_rows"),
          cnt(size(filter(split(coalesce(col("pred"), lit("")), "·"),
            x => x === "X")) > 1).as("n_multi_x"),
          cnt(col("pred").isNull || col("pred") === "").as("n_bad_pred"),
          cnt(col("known").isNull).as("n_orphan"),
          cnt(col("pred_idx") < 0 ||
              (col("subj_idx").isNotNull && col("subj_idx") < 0) ||
              (col("obj_idx").isNotNull && col("obj_idx") < 0)).as("n_neg_idx"),
          cnt(col("subj").isNull =!= col("subj_idx").isNull).as("n_subj_mismatch"),
          cnt(col("obj").isNull =!= col("obj_idx").isNull).as("n_obj_mismatch"))
        .withColumn("tag_ok", col("rel_list").isin(
          "fine_corefed", "coarse_corefed", "amend_fine_corefed",
          "amend_coarse_corefed", "possible_corefed", "crossed_corefed",
          "amend_crossed_corefed"))
    }),
    "kg_rel_totals" -> ((s, _) =>
      // the merge-stage global stats (reference merge_parsed_results.py:60-74)
      kgTriples(s)
        .groupBy(col("rel_list"))
        .agg(count(lit(1)).as("n_rels"),
             countDistinct(col("doc_id")).as("n_docs"),
             countDistinct(col("pred")).as("n_distinct_preds"))),
    "kg_toy_sample" -> ((s, _) =>
      // deterministic Bernoulli-style sample via a portable md5 row filter
      // (~3/256 ≈ 1.2% — the reference's toy sample sink,
      // merge_parsed_results.py:76-78, used a wall-clock seed; a
      // content-hash filter is reproducible AND oracle-checkable)
      kgTriples(s).toDF().filter(Pipeline.toySampleFilter)),
    "mm_media_features" -> ((s, _) =>
      MultimodalOps.extractFeatures(MultimodalOps.mediaAssets(kgDocs(s)))
        .drop("payload").toDF()),
    "mm_media_features_real" -> ((s, _) =>
      // image payloads are REAL PNGs decoded through javax.imageio,
      // audio payloads REAL WAVs decoded through javax.sound.sampled,
      // video payloads REAL ISO BMFF containers parsed by the box walk;
      // the oracle independently re-parses the IHDR / RIFF / BMFF header
      // bytes, so all three parse paths are value-verified
      MultimodalOps.extractFeatures(MultimodalOps.mediaAssetsReal(kgDocs(s)))
        .toDF()),
    "mm_audio_features" -> ((s, _) =>
      // the audio-native schema (channels/bits/frames/rate) through the
      // real javax.sound.sampled header parse
      MultimodalOps.audioFeatures(MultimodalOps.mediaAssetsReal(kgDocs(s)))
        .toDF()),
    "mm_video_features" -> ((s, _) =>
      // the video-native pre-decode filter surface: duration/timescale/
      // track count/dimensions/sample count parsed from REAL ISO BMFF
      // boxes; the oracle re-parses the big-endian box headers in SQL
      MultimodalOps.videoFeatures(MultimodalOps.mediaAssetsReal(kgDocs(s)))
        .toDF()),
    "mm_media_dedup" -> ((s, _) =>
      MultimodalOps.dedupAssets(
        MultimodalOps.mediaAssets(kgDocs(s)))),
    "mm_media_stats" -> ((s, _) =>
      MultimodalOps.mediaStats(
        MultimodalOps.extractFeatures(MultimodalOps.mediaAssets(kgDocs(s))))),

    // ---- corpus readers (field mapping + exclusion routing; splitting
    // CONTENT is covered by the reference-differential battery) --------
    "src_webhose" -> ((s, _) =>
      CorpusReaders.routingReport(
        CorpusReaders.readWebhose(s, s"${ReaderFixtures.ensure()}/webhose.jsonl"))),
    "src_webhose_dir" -> ((s, _) =>
      CorpusReaders.routingReport(
        CorpusReaders.readWebhoseDir(s, s"${ReaderFixtures.ensure()}/webhose_dir"))),
    "src_clue" -> ((s, _) =>
      CorpusReaders.routingReport(
        CorpusReaders.readClue(s, s"${ReaderFixtures.ensure()}/clue.jsonl"))),
    "src_newsspike" -> ((s, _) =>
      CorpusReaders.routingReport(
        CorpusReaders.readNewsspike(s, s"${ReaderFixtures.ensure()}/newsspike.jsonl"))),

    // ---- dedup family over documents --------------------------------
    "dedup_exact" -> ((s, dir) => DedupOps.exact(read(s, dir, "documents"))),
    "dedup_ngram" -> ((s, dir) => ngramPairs(s, dir)),
    "dedup_minhash_bands" -> ((s, dir) =>
      DedupOps.minhashBands(read(s, dir, "documents"))),
    "dedup_minhash_cand" -> ((s, dir) =>
      DedupOps.minhashCandidates(read(s, dir, "documents"))),
    "dedup_simhash" -> ((s, dir) => DedupOps.simhashPairs(read(s, dir, "documents"))),
    "dedup_winnow" -> ((s, dir) => DedupOps.winnowing(read(s, dir, "documents"))),
    "dedup_clusters" -> ((s, dir) =>
      // pairs → connected components → keeper decisions; the oracle does
      // the transitive closure over the MATERIALIZED dedup_ngram pairs
      // (same ngramPairs definition). NOTE: this operator is EAGER — it
      // iterates to convergence when constructed; its plan-audit unit is
      // the per-round join, not the final projection.
      DedupOps.dedupClusters(ngramPairs(s, dir))),
    "dedup_embed" -> ((s, dir) =>
      DedupOps.embeddingNearDups(read(s, dir, "embeddings"), thresholdX10000 = 4000)),
    "dedup_embed_lsh" -> ((s, dir) =>
      DedupOps.embeddingNearDupsLsh(read(s, dir, "embeddings"), thresholdX10000 = 4000)),
    "dedup_embed_clusters" -> ((s, dir) =>
      // the pairs→clusters step composed over the EMBEDDING near-dup
      // path (generic CC core, long vec ids); oracle = recursive walk
      // over the materialized dedup_embed_lsh pairs. EAGER like its
      // text twin dedup_clusters.
      DedupOps.dedupClusters(
        DedupOps.embeddingNearDupsLsh(read(s, dir, "embeddings"),
          thresholdX10000 = 4000).select(col("a"), col("b")))),

    // ---- similarity search over embeddings --------------------------
    "ann_brute" -> ((s, dir) => SimilarityOps.bruteForceTopK(read(s, dir, "embeddings"))),
    "ann_lsh" -> ((s, dir) => SimilarityOps.lshTopK(read(s, dir, "embeddings"), nPlanes = 4)),
    "ann_ivf" -> ((s, dir) => SimilarityOps.ivfTopK(read(s, dir, "embeddings"))),

    // ---- text analysis over documents --------------------------------
    "text_lang_id" -> ((s, dir) => TextOps.langId(read(s, dir, "documents"))),
    "text_quality" -> ((s, dir) => TextOps.quality(read(s, dir, "documents"))),
    "text_tokens" -> ((s, dir) => TextOps.tokenCounts(read(s, dir, "documents"))),
    "text_fingerprint" -> ((s, dir) => TextOps.fingerprints(read(s, dir, "documents"))),
    "text_clean_corpus" -> ((s, dir) => TextOps.cleanCorpus(read(s, dir, "documents"))),
    "text_sample" -> ((s, dir) =>
      // deterministic per-language stratified sampling (training-mix
      // quotas): en at 25%, zh at 60%, everything else dropped
      TextOps.stratifiedSample(read(s, dir, "documents"),
        Map("en" -> 2500, "zh" -> 6000))),
    "text_pack" -> ((s, dir) =>
      // sequence packing into 512-token bins across 8 parallel streams
      TextOps.packSequences(read(s, dir, "documents"), maxTokens = 512)),
    "text_chunks" -> ((s, dir) =>
      // context-window chunking: 32-token windows, 8-token overlap —
      // the RAG/long-doc splitter upstream of embedding or packing
      TextOps.chunkDocs(read(s, dir, "documents"),
        chunkTokens = 32, overlap = 8)),
    "text_mix_rates" -> ((s, dir) =>
      // temperature-scaled source-mixing table (alpha = 0.5, budget =
      // half the corpus) — the GPT-3/Llama data-mixture primitive
      TextOps.temperatureRates(read(s, dir, "documents"))),
    "text_mix_sample" -> ((s, dir) =>
      // and its corpus-side application via content-hash tickets
      TextOps.temperatureSample(read(s, dir, "documents"))),
    "dedup_substring" -> ((s, dir) =>
      DedupOps.substringSpans(read(s, dir, "documents"), k = 8)),
    "dedup_substring_rw" -> ((s, dir) =>
      DedupOps.substringDeduped(read(s, dir, "documents"), k = 8)),
    "dedup_lines" -> ((s, dir) =>
      // C4/RefinedWeb-style global duplicate-LINE report (12-token
      // pseudo-lines over the newline-free synthetic corpus)
      DedupOps.duplicateLines(read(s, dir, "documents"))),
    "dedup_lines_rw" -> ((s, dir) =>
      // the rewrite counterpart: drop every non-first occurrence of a
      // duplicated line, keeper = globally-first (partition-invariant)
      DedupOps.lineDeduped(read(s, dir, "documents"))),
    "dedup_cross_new" -> ((s, dir) => {
      // incremental-ingestion exact dedup: which incoming docs are new
      // against the already-kept corpus (anti-join on full md5)
      val planted = crossPlanted(read(s, dir, "documents"))
      DedupOps.newAgainstSeen(planted.filter(col("doc_id") % 3 =!= 0),
                              planted.filter(col("doc_id") % 3 === 0))
    }),
    "dedup_cross_screen" -> ((s, dir) => {
      // the LSH near-dup screen of the same ingestion step: per incoming
      // doc, how many MinHash bands collide with the seen corpus
      val planted = crossPlanted(read(s, dir, "documents"))
      DedupOps.nearNewScreen(planted.filter(col("doc_id") % 3 =!= 0),
                             planted.filter(col("doc_id") % 3 === 0))
    }),
    "dedup_cross_bloom" -> ((s, dir) => {
      // the approximate-membership screen for corpus-scale seen sides:
      // probe the incoming batch against the seen corpus's Bloom index
      // (k deterministic positions; no false negatives by construction)
      val planted = crossPlanted(read(s, dir, "documents"))
      DedupOps.crossBloomScreen(
        planted.filter(col("doc_id") % 3 =!= 0),
        DedupOps.bloomPositions(planted.filter(col("doc_id") % 3 === 0)))
    }),
    "dedup_cross_apply" -> ((s, dir) => {
      // the DECISION op of the same ingestion step: route every incoming
      // doc clean/exact_dup/near_dup — route='clean' IS the cleaned batch
      val planted = crossPlanted(read(s, dir, "documents"))
      DedupOps.crossApply(planted.filter(col("doc_id") % 3 =!= 0),
                          planted.filter(col("doc_id") % 3 === 0))
    }),
    "dedup_cross_verify" -> ((s, dir) => {
      // the pairwise VERIFIER downstream of the screen: exact
      // shingle-Jaccard on suspect pairs only (suspect-bounded work),
      // best seen match per suspect, screen verdict refined by true
      // similarity
      val planted = crossPlanted(read(s, dir, "documents"))
      DedupOps.crossVerify(planted.filter(col("doc_id") % 3 =!= 0),
                           planted.filter(col("doc_id") % 3 === 0))
    }),
    "text_repetition" -> ((s, dir) =>
      TextOps.repetitionScores(read(s, dir, "documents"))),
    "text_vocab" -> ((s, dir) =>
      TextOps.vocabulary(read(s, dir, "documents"), topK = 500)),
    "text_len_hist" -> ((s, dir) =>
      TextOps.lengthHistogram(read(s, dir, "documents"), bucket = 32)),
    "text_bigram_lm" -> ((s, dir) =>
      // CCNet-style fluency ranking, self-scored MLE bigram LM; log-free
      // fixed point so the DuckDB oracle hash-matches bit-exactly
      TextOps.bigramLmScores(read(s, dir, "documents"))),
    "text_pii" -> ((s, dir) => {
      // the synthetic corpus carries no identifiers, which would make
      // this oracle trivially green — plant DETERMINISTIC PII into every
      // 25th doc (recomputed identically by the DuckDB oracle through
      // the SAME PiiPlantA/B constants), so the scan counts and the
      // redaction fingerprint are exercised for real
      val planted = read(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 25 === 0,
          concat(col("text"), lit(PiiPlantA), col("doc_id"),
                 lit(PiiPlantB), col("doc_id")))
          .otherwise(col("text")))
      TextOps.piiReport(planted)
    }),
    "text_contamination" -> ((s, dir) => {
      // benchmark decontamination: the "evaluation set" is the first 20
      // corpus docs, so planted exact duplicates surface as contaminated
      val docs = read(s, dir, "documents")
      TextOps.contamination(docs, docs.filter(col("doc_id") < 20), n = 8)
    }),

    // ---- relational coverage (scan/filter/agg/join/window) ----------
    "q1_agg" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
             sum(col("l_quantity").cast("long")).as("sum_qty"),
             sum(floor(col("l_extendedprice")).cast("long")).as("sum_price_fl"))),
    "q_join_agg" -> ((s, dir) => {
      val c = read(s, dir, "customer")
      val n = broadcast(read(s, dir, "nation"))
      val o = read(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
             countDistinct(col("c_custkey")).as("n_customers"),
             sum(floor(col("o_totalprice")).cast("long")).as("sum_price_fl"))
    }),
    "q_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      read(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"))
    }),
    "q_events_agg" -> ((s, dir) =>
      read(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("user_id")).as("n_users"),
             sum(floor(col("value") * 100).cast("long")).as("sum_value_x100"))),
    "q_filter_scan" -> ((s, dir) =>
      read(s, dir, "part")
        .filter(col("p_size") >= 25)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
    "q_semi_join" -> ((s, dir) => {
      val c = read(s, dir, "customer")
      val o = read(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),
    "q_anti_join" -> ((s, dir) => {
      val c = read(s, dir, "customer")
      val o = read(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),
    "q_rollup" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
             sum(col("l_quantity").cast("long")).as("sum_qty"))),

    "q_cube" -> ((s, dir) =>
      read(s, dir, "events")
        .withColumn("user_bucket", col("user_id") % 4)
        .cube(col("event_type"), col("user_bucket"))
        .agg(count(lit(1)).as("n_events"),
             sum(floor(col("value") * 100).cast("long")).as("sum_value_x100"))),

    // ---- streaming-family operators, driver-checked in BATCH mode
    // (Spark's unified semantics: the SAME operators run as streams in
    // StreamingSpec over real MemoryStreams) -------------------------
    "q_sessionize" -> ((s, dir) => {
      import s.implicits._
      val evs = read(s, dir, "events")
        .selectExpr("user_id", "ts", "event_type")
        .as[graft.streaming.StreamingOps.Ev]
      graft.streaming.StreamingOps.sessionizeBatch(evs).toDF()
        .select(col("user_id"),
                unix_millis(col("session_start")).as("session_start_ms"),
                unix_millis(col("session_end")).as("session_end_ms"),
                col("n_events"))
    }),
    "q_stream_windows" -> ((s, dir) =>
      graft.streaming.StreamingOps.windowedCounts(read(s, dir, "events"))
        // events.ts is TIMESTAMP_NTZ in parquet; the UTC session timezone
        // makes the cast exact and equal to DuckDB's epoch_ms
        .select(col("event_type"),
                unix_millis(col("w_start").cast("timestamp")).as("w_start_ms"),
                col("n_events"))))

  /** DuckDB oracles — same column names, integer/fixed-point arithmetic,
    * identical semantics. Ops whose hashes are PortableHash values are
    * recomputed from scratch in SQL; KG-pipeline aggregations are checked
    * relationally over the materialized stage parquet that Verify writes
    * (`__OUT__` is substituted with the verify output dir at dump time).
    * Only the extraction/segmentation cores themselves (kg_sentences,
    * kg_triples) stay oracle-less — those are differentially verified
    * against the reference implementation itself (DifferentialSpec and
    * friends). kg_coref's diff/assembly IS oracled (the serialize-key
    * set diff recomputed from the flat _aux/coref_rels table); only the
    * per-side extraction under it rides the differential batteries. */
  /** the co-occurrence edge-derivation CTEs shared by every graph oracle:
    * `ew` is the full weighted pair table; `top` selects either the
    * global top-2000 (the capped contract) or everything over a support
    * floor (the uncapped contract) depending on `topSelect`. */
  private val CoocTop2000 =
    "SELECT ent_a, ent_b FROM ew ORDER BY n_cooc DESC, ent_a, ent_b LIMIT 2000"
  private val CoocThreshold2 = "SELECT ent_a, ent_b FROM ew WHERE n_cooc >= 2"

  /** the kg_entity_rank / kg_entity_rank_full oracle: the co-occurrence
    * edge set selected by `topSelect`, then PageRank's 10 power
    * iterations UNROLLED as a chain of plain GROUP BY CTEs (aggregation
    * is illegal in a recursive CTE term) — legal everywhere, and
    * bit-exact because the op is pure BIGINT fixed-point arithmetic. */
  private def pageRankOracleSql(topSelect: String): String = {
    val base =
      s"""WITH c AS (SELECT subj_canonical, obj_canonical
        |    FROM read_parquet('__OUT__/kg_canonical/*.parquet')
        |    WHERE subj_canonical IS NOT NULL AND obj_canonical IS NOT NULL
        |      AND subj_canonical <> obj_canonical),
        |ew AS (SELECT least(subj_canonical, obj_canonical) AS ent_a,
        |       greatest(subj_canonical, obj_canonical) AS ent_b, count(*) AS n_cooc
        |  FROM c GROUP BY 1, 2),
        |top AS ($topSelect),
        |edges AS (SELECT ent_a AS u, ent_b AS v FROM top
        |          UNION ALL SELECT ent_b, ent_a FROM top),
        |deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
        |it0 AS (SELECT u AS node, CAST(1000000000 AS BIGINT) AS pr FROM deg)""".stripMargin
    val its = (1 to 10).map { i =>
      s"""it$i AS (SELECT e.v AS node,
         |  CAST(150000000 + (850 * sum(p.pr // d.d)) // 1000 AS BIGINT) AS pr
         |  FROM edges e JOIN it${i - 1} p ON p.node = e.u JOIN deg d ON d.u = e.u
         |  GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$its\nSELECT node AS entity, pr AS rank_x1e9 FROM it10"
  }

  /** the kg_cooc_components / kg_cooc_full oracle: recursive reachability
    * walk + min label over the `topSelect`-derived edge set. */
  private def coocComponentsOracleSql(topSelect: String): String =
    s"""WITH RECURSIVE c AS (SELECT subj_canonical, obj_canonical
       |    FROM read_parquet('__OUT__/kg_canonical/*.parquet')
       |    WHERE subj_canonical IS NOT NULL AND obj_canonical IS NOT NULL
       |      AND subj_canonical <> obj_canonical),
       |ew AS (SELECT least(subj_canonical, obj_canonical) AS ent_a,
       |       greatest(subj_canonical, obj_canonical) AS ent_b, count(*) AS n_cooc
       |  FROM c GROUP BY 1, 2),
       |top AS ($topSelect),
       |edges AS (SELECT ent_a AS u, ent_b AS v FROM top
       |          UNION ALL SELECT ent_b, ent_a FROM top),
       |walk AS (
       |  SELECT u AS node, v AS reach FROM edges
       |  UNION
       |  SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON w.reach = e.u
       |)
       |SELECT node AS entity, least(node, min(reach)) AS component_id,
       |  (node = least(node, min(reach))) AS is_root
       |FROM walk GROUP BY node""".stripMargin

  def oracleSql: Map[String, String] = {
    import graft.functions.PortableHash.{duckFamilyHashLong, duckMd5Long48, duckPlaneSign}
    // shared by kg_edges and kg_edges_incr (incremental == batch is the
    // contract). Pair orientation (pred_src < pred_dst) relies on
    // BMP-only predicates, where DuckDB's UTF-8 byte order == JVM
    // UTF-16 order
    val ppCappedCte =
      """pp AS (SELECT subj_canonical AS arg_s, obj_canonical AS arg_o, pred,
        |    count(*) AS support
        |  FROM read_parquet('__OUT__/kg_canonical/*.parquet')
        |  WHERE subj_canonical IS NOT NULL AND obj_canonical IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |capped AS (SELECT arg_s, arg_o, pred, support FROM (
        |    SELECT *, row_number() OVER (PARTITION BY arg_s, arg_o
        |                                 ORDER BY support DESC, pred) AS rk FROM pp)
        |  WHERE rk <= 32)""".stripMargin
    val kgEdgesSql =
      s"""WITH $ppCappedCte,
        |pairs AS (SELECT x.pred AS pred_src, y.pred AS pred_dst,
        |    least(x.support, y.support) AS pw
        |  FROM capped x JOIN capped y
        |    ON x.arg_s = y.arg_s AND x.arg_o = y.arg_o AND x.pred < y.pred)
        |SELECT pred_src, pred_dst, CAST(sum(pw) AS BIGINT) AS weight,
        |  count(*) AS n_arg_pairs
        |FROM pairs GROUP BY pred_src, pred_dst""".stripMargin
    // shared by kg_edge_weights and kg_edge_weights_incr (same contract
    // as kgEdgesSql). Exact fixed point: HUGEINT products // divisor ==
    // Spark DECIMAL(38,0) products `div` — both integral quotients of
    // exact integers. All marginals over the SAME capped space.
    val kgEdgeWeightsSql =
      s"""WITH $ppCappedCte,
        |pairs AS (SELECT x.pred AS pred_src, y.pred AS pred_dst
        |  FROM capped x JOIN capped y
        |    ON x.arg_s = y.arg_s AND x.arg_o = y.arg_o AND x.pred <> y.pred),
        |sh AS (SELECT pred_src, pred_dst, count(*) AS shared_pairs
        |  FROM pairs GROUP BY 1, 2),
        |marg AS (SELECT pred, count(*) AS n_pairs FROM capped GROUP BY pred),
        |tot AS (SELECT count(*) AS total_pairs
        |  FROM (SELECT DISTINCT arg_s, arg_o FROM capped))
        |SELECT s.pred_src, s.pred_dst, s.shared_pairs,
        |  ms.n_pairs AS n_src_pairs, md.n_pairs AS n_dst_pairs,
        |  CAST((CAST(s.shared_pairs AS HUGEINT) * 1000000) // ms.n_pairs
        |    AS BIGINT) AS cond_ppm,
        |  CAST((CAST(s.shared_pairs AS HUGEINT) * t.total_pairs * 1000000)
        |    // (CAST(ms.n_pairs AS HUGEINT) * md.n_pairs) AS BIGINT) AS pmi_ppm
        |FROM sh s
        |JOIN marg ms ON ms.pred = s.pred_src
        |JOIN marg md ON md.pred = s.pred_dst
        |CROSS JOIN tot t""".stripMargin
    // shared by kg_edge_weights_sup and its _incr twin: the weighted
    // Weeds/Lin/BInc battery, same exact-integer contract. The BInc sqrt
    // is the SAME floor(sqrt) ± 1 integer correction as text_mix_rates —
    // correctly-rounded IEEE sqrt on both engines, correction absorbs
    // the one possible ulp, so the geometric mean is bit-portable.
    val kgEdgeWeightsSupSql =
      s"""WITH $ppCappedCte,
        |pairs AS (SELECT x.pred AS pred_src, y.pred AS pred_dst,
        |    x.support AS ws, x.support + y.support AS wsum
        |  FROM capped x JOIN capped y
        |    ON x.arg_s = y.arg_s AND x.arg_o = y.arg_o AND x.pred <> y.pred),
        |shw AS (SELECT pred_src, pred_dst, count(*) AS shared_pairs,
        |    CAST(sum(ws) AS BIGINT) AS w_shared_src,
        |    CAST(sum(wsum) AS BIGINT) AS w_shared_sum
        |  FROM pairs GROUP BY 1, 2),
        |margw AS (SELECT pred, CAST(sum(support) AS BIGINT) AS w_total
        |  FROM capped GROUP BY pred),
        |scored AS (SELECT s.pred_src, s.pred_dst, s.shared_pairs, s.w_shared_src,
        |    ms.w_total AS w_src_total, md.w_total AS w_dst_total,
        |    CAST((CAST(s.w_shared_src AS HUGEINT) * 1000000)
        |      // ms.w_total AS BIGINT) AS weeds_ppm,
        |    CAST((CAST(s.w_shared_sum AS HUGEINT) * 1000000)
        |      // (ms.w_total + md.w_total) AS BIGINT) AS lin_ppm
        |  FROM shw s JOIN margw ms ON ms.pred = s.pred_src
        |  JOIN margw md ON md.pred = s.pred_dst),
        |sqx AS (SELECT *,
        |    CAST(floor(sqrt(CAST(weeds_ppm * lin_ppm AS DOUBLE))) AS BIGINT) AS x0
        |  FROM scored)
        |SELECT pred_src, pred_dst, shared_pairs, w_shared_src,
        |  w_src_total, w_dst_total, weeds_ppm, lin_ppm,
        |  x0 - CASE WHEN x0 * x0 > weeds_ppm * lin_ppm THEN 1 ELSE 0 END
        |     + CASE WHEN (x0 + 1) * (x0 + 1) <= weeds_ppm * lin_ppm
        |            THEN 1 ELSE 0 END AS binc_ppm
        |FROM sqx""".stripMargin
    // shared by kg_typed_edge_weights and its _incr twin: the typed
    // (per-argument-type-pair) battery. Types re-derived end-to-end in
    // SQL: evidence = materialized kg_mentions ⋈ the mention_labels aux
    // table on the exact (doc, sentence, surface) key, assignment = the
    // same deterministic argmax window, then the capped space re-sliced
    // with marginals/totals per (type_s, type_o).
    val kgTypedEdgeWeightsSql =
      s"""WITH ppx AS (SELECT subj_canonical AS arg_s, obj_canonical AS arg_o, pred,
        |    count(*) AS support
        |  FROM read_parquet('__OUT__/kg_canonical/*.parquet')
        |  WHERE subj_canonical IS NOT NULL AND obj_canonical IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |ev AS (SELECT m.canonical, l.label AS ent_type, count(*) AS n_mentions
        |  FROM read_parquet('__OUT__/kg_mentions/*.parquet') m
        |  JOIN read_parquet('__AUX__/mention_labels/*.parquet') l
        |    ON l.doc_id = m.doc_id AND l.sent_id = m.sent_id AND l.word = m.mention
        |  GROUP BY 1, 2),
        |ty AS (SELECT canonical, ent_type FROM (
        |    SELECT *, row_number() OVER (PARTITION BY canonical
        |      ORDER BY n_mentions DESC, ent_type) AS rk FROM ev)
        |  WHERE rk = 1),
        |tpp AS (SELECT COALESCE(ts.ent_type, 'OTHER') AS type_s,
        |    COALESCE(tob.ent_type, 'OTHER') AS type_o,
        |    p.arg_s, p.arg_o, p.pred, p.support
        |  FROM ppx p LEFT JOIN ty ts ON ts.canonical = p.arg_s
        |             LEFT JOIN ty tob ON tob.canonical = p.arg_o),
        |capped AS (SELECT type_s, type_o, arg_s, arg_o, pred, support FROM (
        |    SELECT *, row_number() OVER (PARTITION BY arg_s, arg_o
        |                                 ORDER BY support DESC, pred) AS rk FROM tpp)
        |  WHERE rk <= 32),
        |pairs AS (SELECT x.type_s, x.type_o, x.pred AS pred_src, y.pred AS pred_dst
        |  FROM capped x JOIN capped y
        |    ON x.arg_s = y.arg_s AND x.arg_o = y.arg_o AND x.pred <> y.pred),
        |sh AS (SELECT type_s, type_o, pred_src, pred_dst, count(*) AS shared_pairs
        |  FROM pairs GROUP BY 1, 2, 3, 4),
        |marg AS (SELECT type_s, type_o, pred, count(*) AS n_pairs
        |  FROM capped GROUP BY 1, 2, 3),
        |tot AS (SELECT type_s, type_o, count(*) AS total_pairs FROM
        |  (SELECT DISTINCT type_s, type_o, arg_s, arg_o FROM capped)
        |  GROUP BY 1, 2)
        |SELECT s.type_s, s.type_o, s.pred_src, s.pred_dst, s.shared_pairs,
        |  ms.n_pairs AS n_src_pairs, md.n_pairs AS n_dst_pairs,
        |  CAST((CAST(s.shared_pairs AS HUGEINT) * 1000000) // ms.n_pairs
        |    AS BIGINT) AS cond_ppm,
        |  CAST((CAST(s.shared_pairs AS HUGEINT) * t.total_pairs * 1000000)
        |    // (CAST(ms.n_pairs AS HUGEINT) * md.n_pairs) AS BIGINT) AS pmi_ppm
        |FROM sh s
        |JOIN marg ms ON ms.type_s = s.type_s AND ms.type_o = s.type_o
        |  AND ms.pred = s.pred_src
        |JOIN marg md ON md.type_s = s.type_s AND md.type_o = s.type_o
        |  AND md.pred = s.pred_dst
        |JOIN tot t ON t.type_s = s.type_s AND t.type_o = s.type_o""".stripMargin
    // the sparsified top-K-per-source surface over the sup battery —
    // the whole sup derivation rides as a CTE, then a per-group
    // row_number (same deterministic tie-break as the Spark window)
    val kgEdgesTopKSql =
      s"""WITH base AS ($kgEdgeWeightsSupSql)
        |SELECT pred_src, pred_dst, binc_ppm, rank FROM (
        |  SELECT pred_src, pred_dst, binc_ppm,
        |    CAST(row_number() OVER (PARTITION BY pred_src
        |      ORDER BY binc_ppm DESC, pred_dst) AS INTEGER) AS rank
        |  FROM base)
        |WHERE rank <= 8""".stripMargin
    // the typed twin: rank within each per-type-pair graph over the
    // typed battery (whole derivation rides as a CTE)
    val kgTypedEdgesTopKSql =
      s"""WITH base AS ($kgTypedEdgeWeightsSql)
        |SELECT type_s, type_o, pred_src, pred_dst, cond_ppm, rank FROM (
        |  SELECT type_s, type_o, pred_src, pred_dst, cond_ppm,
        |    CAST(row_number() OVER (PARTITION BY type_s, type_o, pred_src
        |      ORDER BY cond_ppm DESC, pred_dst) AS INTEGER) AS rank
        |  FROM base)
        |WHERE rank <= 8""".stripMargin
    val stop = TextOps.stopwords.map("'" + _ + "'").mkString(",")
    // shared CTE: distinct word 3-grams per doc (mirrors DedupOps.wordNgrams)
    def gramsCteOver(src: String) =
      s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
         |grams AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
         |    THEN list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         |    ELSE [array_to_string(t, ' ')] END)) AS gram FROM toks)""".stripMargin
    val gramsCte = gramsCteOver("documents")
    // minhash signature + band CTEs (mirrors DedupOps.minhashBands:
    // 64 affine family hashes over ONE md5Long48 base per gram; band
    // bucket = md5 of the comma-joined 4 row minima rendered as decimal)
    def bandsCteOver(src: String) =
      s"""${gramsCteOver(src)},
         |gb AS (SELECT doc_id, ${duckMd5Long48("gram")} AS base FROM grams),
         |hx AS (SELECT doc_id, hi.hi AS hi,
         |    min(${graft.functions.PortableHash.duckFamilyHashLongOver("base", "hi.hi")}) AS h
         |  FROM gb, generate_series(0, 63) AS hi(hi) GROUP BY doc_id, hi.hi),
         |bands AS (SELECT doc_id, CAST(hi // 4 AS INTEGER) AS band,
         |    md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY hi)) AS bucket
         |  FROM hx GROUP BY doc_id, hi // 4)""".stripMargin
    val bandsCte = bandsCteOver("documents")
    // the planted cross-corpus ingestion fixture (mirrors crossPlanted)
    val crossPlantCte =
      s"""plx AS (SELECT doc_id,
         |  CASE WHEN doc_id % 21 = 0 OR (doc_id % 7 = 1 AND doc_id % 3 <> 0)
         |    THEN '$CrossPlant' ELSE text END AS text
         |  FROM documents)""".stripMargin
    val winnowFps = (0 until 8)
      .map(i => s"min(${duckFamilyHashLong(i, "s")}) AS fp$i").mkString(",\n  ")
    // big-endian unsigned int of `nBytes` bytes at 1-based hex-char
    // offset `startChar` of a lowercase hex string (mirrors
    // MultimodalOps.decodeHeader / decodeVideoMeta ByteBuffer reads)
    def duckBeInt(hexExpr: String, startChar: Int, nBytes: Int = 4): String =
      s"""CAST(list_sum(list_transform(generate_series(0, ${2 * nBytes - 1}), bi ->
         |    CAST(strpos('0123456789abcdef', substr($hexExpr, $startChar + bi, 1)) - 1 AS BIGINT)
         |      * (CAST(1 AS BIGINT) << CAST((${2 * nBytes - 1} - bi) * 4 AS BIGINT)))) AS INTEGER)""".stripMargin
    // ISO BMFF synth-layout offsets for the video oracles — derived from
    // MultimodalOps' box-size constants (the ONE source of truth both
    // the writer and this SQL share); hex char of byte b is 2b+1
    def bmffC(byteOff: Int) = 2 * byteOff + 1
    val bmffMoov = MultimodalOps.BmffFtypSize                       // moov box start
    val bmffMvhd = bmffMoov + 8                                     // mvhd box start
    val bmffTkhd = MultimodalOps.BmffFirstTrak + 8                  // first tkhd start
    val bmffStsz = MultimodalOps.BmffFirstTrak + 8 + 92 + 8 + 32 + 8 + 8 // first stsz start
    // fourcc tag assertions at the chained box offsets — a payload that
    // is not the expected box sequence drops out of the oracle, which
    // the driver's row compare flags loudly
    def bmffTag(byteOff: Int, fourcc: String) =
      s"substr(hx, ${bmffC(byteOff + 4)}, 8) = '${fourcc.getBytes("US-ASCII").map(b => f"$b%02x").mkString}'"
    val bmffGuards = Seq(0 -> "ftyp", bmffMoov -> "moov", bmffMvhd -> "mvhd",
      bmffTkhd -> "tkhd", bmffStsz -> "stsz")
      .map { case (o, t) => bmffTag(o, t) }.mkString("\n  AND ")
    // LITTLE-endian unsigned int of `nBytes` bytes at 1-based hex-char
    // offset `startChar` (byte b of the blob starts at hex char 2b+1) —
    // the RIFF/WAV header fields are little-endian
    def duckLeInt(hexExpr: String, startChar: Int, nBytes: Int): String =
      s"""CAST(list_sum(list_transform(generate_series(0, ${nBytes - 1}), bi ->
         |    (CAST(strpos('0123456789abcdef', substr($hexExpr, $startChar + bi*2, 1)) - 1 AS BIGINT) * 16
         |     + CAST(strpos('0123456789abcdef', substr($hexExpr, $startChar + bi*2 + 1, 1)) - 1 AS BIGINT))
         |      << CAST(bi * 8 AS BIGINT))) AS INTEGER)""".stripMargin
    // fixed-point cosine similarity (mirrors SimilarityOps.cosX10000 —
    // identical left-to-right fold order keeps the doubles bit-equal)
    def duckCos(a: String, b: String): String =
      s"""CAST(floor(10000.0 *
         |      list_sum(list_transform(generate_series(1, len($a)), i ->
         |        CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
         |      / (sqrt(list_sum(list_transform($a, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))
         |       * sqrt(list_sum(list_transform($b, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))))
         |     AS BIGINT)""".stripMargin
    // the deterministic toy-sample row filter (mirrors tripleSampleKey)
    val sampleFilter =
      """substr(md5(doc_id || '|' || CAST(sent_id AS VARCHAR) || '|' || rel_list || '|' ||
        |  COALESCE(subj, '∅') || '|' || pred || '|' || COALESCE(obj, '∅') || '|' ||
        |  COALESCE(CAST(subj_idx AS VARCHAR), '∅') || '|' || CAST(pred_idx AS VARCHAR) || '|' ||
        |  COALESCE(CAST(obj_idx AS VARCHAR), '∅')), 1, 2) <= '02'""".stripMargin
    // the Segmenter's admission window reduced to the fixture's design:
    // a '。'-segment is admitted iff it has >4 Chinese chars (fixtures
    // contain no other delimiters / whitespace / long sentences)
    def srcAdmitted(textExpr: String) =
      s"""CAST(len(list_filter(string_split(COALESCE($textExpr, ''), '。'),
         |    x -> length(regexp_replace(x, '[^一-鿿]', '', 'g')) > 4)) AS INTEGER)""".stripMargin
    def srcFlat(src: String, idCol: String, payloadCol: String) =
      s"""WITH r AS (SELECT * FROM $src),
         |s AS (SELECT $idCol AS doc_id, ${srcAdmitted(payloadCol)} AS n FROM r)
         |SELECT doc_id,
         |  CASE WHEN n > 0 THEN 'ok' ELSE 'excluded' END AS status,
         |  CASE WHEN n > 0 THEN n ELSE CAST(0 AS INTEGER) END AS n_sentences,
         |  CASE WHEN n > 0 THEN CAST(0 AS INTEGER) ELSE CAST(-1 AS INTEGER) END AS max_chunk
         |FROM s""".stripMargin
    val fixtures = ReaderFixtures.Root
    Map(
      "src_webhose" -> srcFlat(
        s"""read_json('$fixtures/webhose.jsonl', format='newline_delimited',
           |  columns={uuid: 'VARCHAR', title: 'VARCHAR', text: 'VARCHAR'})""".stripMargin,
        "uuid", "text"),
      "src_webhose_dir" -> srcFlat(
        s"""read_json('$fixtures/webhose_dir/**/*.json', format='auto',
           |  columns={uuid: 'VARCHAR', title: 'VARCHAR', text: 'VARCHAR'})""".stripMargin,
        "uuid", "text"),
      "src_clue" -> srcFlat(
        s"""read_json('$fixtures/clue.jsonl', format='newline_delimited',
           |  columns={news_id: 'VARCHAR', title: 'VARCHAR', content: 'VARCHAR'})""".stripMargin,
        "news_id", "content"),
      "src_newsspike" ->
        s"""WITH r AS (SELECT * FROM read_json('$fixtures/newsspike.jsonl',
           |    format='newline_delimited',
           |    columns={id: 'VARCHAR', splitted_text: 'VARCHAR[]', split_mapping: 'INTEGER[]'})),
           |ex AS (SELECT id, unnest(COALESCE(splitted_text, [])) AS chunk,
           |    unnest(COALESCE(split_mapping, [])) AS m FROM r),
           |cs AS (SELECT id, m, ${srcAdmitted("chunk")} AS n FROM ex),
           |agg AS (SELECT id, CAST(sum(n) AS INTEGER) AS n_sents,
           |    max(CASE WHEN n > 0 THEN m END) AS mc
           |  FROM cs GROUP BY id)
           |SELECT r.id AS doc_id,
           |  CASE WHEN COALESCE(agg.n_sents, 0) > 0 THEN 'ok' ELSE 'excluded' END AS status,
           |  CASE WHEN COALESCE(agg.n_sents, 0) > 0 THEN agg.n_sents
           |       ELSE CAST(0 AS INTEGER) END AS n_sentences,
           |  CASE WHEN COALESCE(agg.n_sents, 0) > 0 THEN CAST(agg.mc AS INTEGER)
           |       ELSE CAST(-1 AS INTEGER) END AS max_chunk
           |FROM r LEFT JOIN agg ON r.id = agg.id""".stripMargin,
      "dedup_minhash_bands" ->
        s"""WITH $bandsCte
           |SELECT doc_id, band, bucket FROM bands""".stripMargin,
      "dedup_minhash_cand" ->
        s"""WITH $bandsCte,
           |bc AS (SELECT band, bucket FROM bands GROUP BY band, bucket
           |       HAVING count(*) BETWEEN 2 AND 200)
           |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |FROM bands x
           |JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
           |JOIN bc ON bc.band = x.band AND bc.bucket = x.bucket""".stripMargin,
      "dedup_simhash" ->
        s"""WITH tk AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
           |  FROM documents),
           |th AS (SELECT doc_id, ${duckMd5Long48("tok")} AS h FROM tk),
           |bits AS (SELECT doc_id, b.b AS bit,
           |    sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           |  FROM th, generate_series(0, 47) AS b(b) GROUP BY doc_id, b.b),
           |sigs0 AS (SELECT doc_id,
           |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS sig
           |  FROM bits GROUP BY doc_id),
           |sigs AS (SELECT d.doc_id, COALESCE(s0.sig, 0) AS sig
           |  FROM documents d LEFT JOIN sigs0 s0 USING (doc_id)),
           |blocks AS (SELECT doc_id, sig, b.b AS blk, (sig >> (b.b * 12)) & 4095 AS key
           |  FROM sigs, generate_series(0, 3) AS b(b)),
           |bc AS (SELECT blk, key FROM blocks GROUP BY blk, key
           |       HAVING count(*) BETWEEN 2 AND 1000),
           |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           |    CAST(len(list_filter(generate_series(0, 47),
           |      z -> ((x.sig >> z) & 1) <> ((y.sig >> z) & 1))) AS INTEGER) AS hamming
           |  FROM blocks x
           |  JOIN bc ON bc.blk = x.blk AND bc.key = x.key
           |  JOIN blocks y
           |    ON x.blk = y.blk AND x.key = y.key AND x.doc_id < y.doc_id)
           |SELECT a, b, hamming FROM pairs WHERE hamming <= 3""".stripMargin,
      "dedup_winnow" ->
        s"""WITH sh AS (SELECT doc_id, unnest(CASE WHEN length(text) >= 8
           |    THEN list_transform(generate_series(1, length(text) - 7), i -> substr(text, i, 8))
           |    ELSE [text] END) AS s FROM documents)
           |SELECT doc_id,
           |  $winnowFps
           |FROM sh GROUP BY doc_id""".stripMargin,
      "dedup_embed_lsh" ->
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |pb AS (SELECT vec_id, p.p AS p,
           |    CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), i ->
           |        CAST(embedding[i] AS DOUBLE) * ${duckPlaneSign("p.p", "i - 1")})) >= 0
           |      THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END AS pbit
           |  FROM e, generate_series(0, 7) AS p(p)),
           |b AS (SELECT vec_id, CAST(sum(pbit) AS BIGINT) AS bucket FROM pb GROUP BY vec_id),
           |probes AS (SELECT vec_id, bucket AS probe, true AS home FROM b
           |  UNION ALL
           |  SELECT b.vec_id, xor(b.bucket, CAST(1 AS BIGINT) << q.q) AS probe, false AS home
           |  FROM b, generate_series(0, 7) AS q(q)),
           |gc AS (SELECT probe FROM probes GROUP BY probe HAVING count(*) BETWEEN 2 AND 1000),
           |cand AS (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
           |  FROM probes x
           |  JOIN gc ON gc.probe = x.probe
           |  JOIN probes y ON x.probe = y.probe AND x.vec_id < y.vec_id
           |  WHERE x.home),
           |s AS (SELECT cand.va AS a, cand.vb AS b,
           |    CAST(floor(10000.0 *
           |      list_sum(list_transform(generate_series(1, len(ex.embedding)), i ->
           |        CAST(ex.embedding[i] AS DOUBLE) * CAST(ey.embedding[i] AS DOUBLE)))
           |      / (sqrt(list_sum(list_transform(ex.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))
           |       * sqrt(list_sum(list_transform(ey.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))))
           |     AS BIGINT) AS cos_x10000
           |  FROM cand JOIN e ex ON ex.vec_id = cand.va JOIN e ey ON ey.vec_id = cand.vb)
           |SELECT a, b, cos_x10000 FROM s WHERE cos_x10000 >= 4000""".stripMargin,
      "ann_lsh" ->
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |pb AS (SELECT vec_id, p.p AS p,
           |    CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), i ->
           |        CAST(embedding[i] AS DOUBLE) * ${duckPlaneSign("p.p", "i - 1")})) >= 0
           |      THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END AS pbit
           |  FROM e, generate_series(0, 3) AS p(p)),
           |b AS (SELECT vec_id, CAST(sum(pbit) AS BIGINT) AS bucket FROM pb GROUP BY vec_id),
           |q AS (SELECT b.vec_id AS query_id, e.embedding AS qe, b.bucket AS qb
           |  FROM b JOIN e ON b.vec_id = e.vec_id WHERE b.vec_id < 8),
           |cand AS (SELECT q.query_id, n.vec_id AS neighbor_id, q.qe, e2.embedding AS ne
           |  FROM b n JOIN e e2 ON n.vec_id = e2.vec_id, q
           |  WHERE n.vec_id <> q.query_id AND
           |    len(list_filter(generate_series(0, 3),
           |      z -> ((q.qb >> z) & 1) <> ((n.bucket >> z) & 1))) <= 1),
           |s AS (SELECT query_id, neighbor_id,
           |    CAST(floor(10000.0 *
           |      list_sum(list_transform(generate_series(1, len(qe)), i ->
           |        CAST(qe[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)))
           |      / (sqrt(list_sum(list_transform(qe, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))
           |       * sqrt(list_sum(list_transform(ne, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))))
           |     AS BIGINT) AS cos_x10000
           |  FROM cand),
           |r AS (SELECT query_id, neighbor_id, cos_x10000,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos_x10000 DESC, neighbor_id) AS rank
           |  FROM s)
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_x10000
           |FROM r WHERE rank <= 5""".stripMargin,
      "ann_ivf" ->
        // IVF re-derived relationally: same hash-seeded codebook, same
        // nearest-centroid assignment (cos desc, cid asc), same 2-probe
        // query expansion, exact rerank within probed lists
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |seed AS (SELECT vec_id, embedding,
           |    CAST(row_number() OVER (ORDER BY
           |      ${duckMd5Long48("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id) - 1
           |      AS INTEGER) AS cid
           |  FROM e),
           |c AS (SELECT cid, embedding AS ce FROM seed WHERE cid < 8),
           |ac AS (SELECT e.vec_id, e.embedding, c.cid,
           |    ${duckCos("e.embedding", "c.ce")} AS cc
           |  FROM e CROSS JOIN c),
           |asg AS (SELECT vec_id, embedding, cid FROM (
           |    SELECT vec_id, embedding, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
           |    FROM ac) WHERE rn = 1),
           |qp AS (SELECT vec_id AS query_id, embedding AS qe, cid FROM (
           |    SELECT vec_id, embedding, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
           |    FROM ac WHERE vec_id < 8) WHERE rn <= 2),
           |cand AS (SELECT qp.query_id, qp.qe, a.vec_id AS neighbor_id, a.embedding AS ne
           |  FROM asg a JOIN qp ON a.cid = qp.cid
           |  WHERE a.vec_id <> qp.query_id),
           |s AS (SELECT query_id, neighbor_id,
           |    ${duckCos("qe", "ne")} AS cos_x10000 FROM cand),
           |r AS (SELECT query_id, neighbor_id, cos_x10000,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos_x10000 DESC, neighbor_id) AS rank
           |  FROM s)
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_x10000
           |FROM r WHERE rank <= 5""".stripMargin,
      "kg_rel_totals" ->
        """SELECT rel_list, count(*) AS n_rels, count(DISTINCT doc_id) AS n_docs,
          |  count(DISTINCT pred) AS n_distinct_preds
          |FROM read_parquet('__OUT__/kg_triples/*.parquet') GROUP BY rel_list""".stripMargin,
      "kg_coref" ->
        // the coref second pass's serialize-key set diff, recomputed
        // independently from the flat two-sided _aux/coref_rels table:
        // corefed rows anti-joined against base rows on exactly the
        // fields Rel.serialize keys on (names, tag, idxs) per
        // (doc, sent, list). The extraction cores behind both sides stay
        // differential-tested; THIS proves the diff/assembly relationally.
        """WITH a AS (SELECT * FROM read_parquet('__AUX__/coref_rels/*.parquet')),
          |f AS (SELECT * FROM a WHERE side = 'corefed'),
          |b AS (SELECT * FROM a WHERE side = 'base')
          |SELECT f.doc_id, f.sent_id, f.rel_list || '_corefed' AS rel_list,
          |  f.subj, COALESCE(f.pred, '') AS pred, f.obj,
          |  f.subj_idx, CAST(f.pred_idx AS INTEGER) AS pred_idx, f.obj_idx
          |FROM f WHERE NOT EXISTS (SELECT 1 FROM b
          |  WHERE b.doc_id = f.doc_id AND b.sent_id = f.sent_id
          |    AND b.rel_list = f.rel_list AND b.tag = f.tag
          |    AND b.subj IS NOT DISTINCT FROM f.subj
          |    AND b.pred IS NOT DISTINCT FROM f.pred
          |    AND b.obj IS NOT DISTINCT FROM f.obj
          |    AND b.subj_idx IS NOT DISTINCT FROM f.subj_idx
          |    AND b.pred_idx IS NOT DISTINCT FROM f.pred_idx
          |    AND b.obj_idx IS NOT DISTINCT FROM f.obj_idx)""".stripMargin,
      "kg_coref_audit" ->
        """WITH t AS (SELECT * FROM read_parquet('__OUT__/kg_coref/*.parquet')),
          |s AS (SELECT doc_id, sent_id, 1 AS known
          |  FROM read_parquet('__OUT__/kg_sentences/*.parquet')),
          |j AS (SELECT t.*, s.known FROM t
          |  LEFT JOIN s ON t.doc_id = s.doc_id AND t.sent_id = s.sent_id)
          |SELECT rel_list, count(*) AS n_rows,
          |  CAST(sum(CASE WHEN len(list_filter(string_split(COALESCE(pred, ''), '·'),
          |    x -> x = 'X')) > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_x,
          |  CAST(sum(CASE WHEN pred IS NULL OR pred = '' THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_bad_pred,
          |  CAST(sum(CASE WHEN known IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
          |  CAST(sum(CASE WHEN pred_idx < 0
          |    OR (subj_idx IS NOT NULL AND subj_idx < 0)
          |    OR (obj_idx IS NOT NULL AND obj_idx < 0)
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_idx,
          |  CAST(sum(CASE WHEN (subj IS NULL) <> (subj_idx IS NULL) THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_subj_mismatch,
          |  CAST(sum(CASE WHEN (obj IS NULL) <> (obj_idx IS NULL) THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_obj_mismatch,
          |  (rel_list IN ('fine_corefed','coarse_corefed','amend_fine_corefed',
          |    'amend_coarse_corefed','possible_corefed','crossed_corefed',
          |    'amend_crossed_corefed')) AS tag_ok
          |FROM j GROUP BY rel_list""".stripMargin,
      "kg_triples_audit" ->
        // recomputed from the MATERIALIZED outputs — Spark derives the
        // audit from its in-memory extraction, DuckDB from what Verify
        // wrote, so a faithless materialization or an invariant breach
        // both surface as a hash mismatch. BMP-only corpus: length() is
        // code points in both engines.
        """WITH t AS (SELECT * FROM read_parquet('__OUT__/kg_triples/*.parquet')),
          |s AS (SELECT doc_id, sent_id, length(sent) AS sent_len
          |  FROM read_parquet('__OUT__/kg_sentences/*.parquet')),
          |j AS (SELECT t.*, s.sent_len FROM t
          |  LEFT JOIN s ON t.doc_id = s.doc_id AND t.sent_id = s.sent_id)
          |SELECT rel_list, count(*) AS n_rows,
          |  CAST(sum(CASE WHEN len(list_filter(string_split(COALESCE(pred, ''), '·'),
          |    x -> x = 'X')) > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_x,
          |  CAST(sum(CASE WHEN pred IS NULL OR pred = '' THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_bad_pred,
          |  CAST(sum(CASE WHEN sent_len IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
          |  CAST(sum(CASE WHEN pred_idx < 0 OR pred_idx >= sent_len
          |    OR (subj_idx IS NOT NULL AND (subj_idx < 0 OR subj_idx >= sent_len))
          |    OR (obj_idx IS NOT NULL AND (obj_idx < 0 OR obj_idx >= sent_len))
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_idx_oob,
          |  CAST(sum(CASE WHEN (subj IS NULL) <> (subj_idx IS NULL) THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_subj_mismatch,
          |  CAST(sum(CASE WHEN (obj IS NULL) <> (obj_idx IS NULL) THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_obj_mismatch,
          |  (rel_list IN ('fine','coarse','amend_fine','amend_coarse','possible',
          |                'crossed','amend_crossed')) AS tag_ok
          |FROM j GROUP BY rel_list""".stripMargin,
      // kg_mentions_join (the distributed entity-link variant) has the
      // same contract as kg_mentions → same oracle (appended below the Map)
      "kg_mentions" ->
        // the trie's greedy longest-leftmost scan as a recursive CTE: one
        // step per character position, each step either consumes the
        // longest alias match (LATERAL top-1) or advances one char.
        // Offsets: the corpus is BMP-only, where DuckDB's code-point
        // positions equal the JVM's UTF-16 indices.
        """WITH RECURSIVE
          |sents AS (SELECT doc_id, sent_id, sent FROM read_parquet('__OUT__/kg_sentences/*.parquet')),
          |al AS (SELECT * FROM read_parquet('__AUX__/aliases/*.parquet')),
          |step AS (
          |  SELECT doc_id, sent_id, sent, 1 AS pos,
          |         CAST(NULL AS VARCHAR) AS m_alias, CAST(NULL AS VARCHAR) AS m_entity,
          |         CAST(NULL AS VARCHAR) AS m_canonical, CAST(NULL AS INTEGER) AS m_begin
          |  FROM sents
          |  UNION ALL
          |  SELECT s.doc_id, s.sent_id, s.sent,
          |         s.pos + COALESCE(length(b.alias), 1) AS pos,
          |         b.alias, b.entity_id, b.canonical,
          |         CASE WHEN b.alias IS NOT NULL THEN CAST(s.pos - 1 AS INTEGER) END AS m_begin
          |  FROM step s LEFT JOIN LATERAL (
          |     SELECT alias, entity_id, canonical FROM al
          |     WHERE substr(s.sent, s.pos, length(al.alias)) = al.alias
          |     ORDER BY length(alias) DESC LIMIT 1) b ON true
          |  WHERE s.pos <= length(s.sent)
          |)
          |SELECT doc_id, sent_id, m_alias AS mention, m_begin AS begin,
          |       CAST(m_begin + length(m_alias) AS INTEGER) AS "end",
          |       m_entity AS entity_id, m_canonical AS canonical,
          |       CAST(CASE WHEN m_alias = m_canonical THEN 1000
          |            ELSE (1000 * length(m_canonical)) // length(m_alias) END AS BIGINT)
          |         AS link_score_x1000
          |FROM step WHERE m_alias IS NOT NULL""".stripMargin,
      "kg_coref_nerpos" ->
        """SELECT n.doc_id, n.sent_id, n.sent,
          |  COALESCE(array_to_string(n.mention_words, '|'), '') AS mention_words,
          |  n.n_mentions, n.misplaced, c.corefed AS corefed_sent
          |FROM read_parquet('__AUX__/nerpos/*.parquet') n
          |LEFT JOIN read_parquet('__AUX__/corefed/*.parquet') c
          |  ON n.doc_id = c.doc_id AND n.sent_id = c.sent_id""".stripMargin,
      "kg_mention_stats" ->
        """SELECT entity_id, canonical, count(*) AS n_mentions,
          |  count(DISTINCT doc_id) AS n_docs, min(link_score_x1000) AS min_score
          |FROM read_parquet('__OUT__/kg_mentions/*.parquet') GROUP BY entity_id, canonical""".stripMargin,
      "kg_canonical" ->
        """WITH t AS (SELECT * FROM read_parquet('__OUT__/kg_triples/*.parquet')),
          |a AS (SELECT * FROM read_parquet('__AUX__/aliases/*.parquet'))
          |SELECT t.doc_id, t.sent_id, t.rel_list, t.subj, t.pred, t.obj,
          |  t.subj_idx, t.pred_idx, t.obj_idx,
          |  sa.entity_id AS subj_entity_id, COALESCE(sa.canonical, t.subj) AS subj_canonical,
          |  oa.entity_id AS obj_entity_id, COALESCE(oa.canonical, t.obj) AS obj_canonical
          |FROM t LEFT JOIN a sa ON t.subj = sa.alias LEFT JOIN a oa ON t.obj = oa.alias""".stripMargin,
      "kg_edges" -> kgEdgesSql,
      "kg_edge_weights" -> kgEdgeWeightsSql,
      "kg_edge_weights_incr" -> kgEdgeWeightsSql,
      "kg_edge_weights_sup" -> kgEdgeWeightsSupSql,
      "kg_edge_weights_sup_incr" -> kgEdgeWeightsSupSql,
      "kg_typed_edge_weights" -> kgTypedEdgeWeightsSql,
      "kg_typed_edge_weights_incr" -> kgTypedEdgeWeightsSql,
      "kg_edges_topk" -> kgEdgesTopKSql,
      "kg_typed_edges_topk" -> kgTypedEdgesTopKSql,
      // the incremental maintenance path must land on the IDENTICAL edge
      // table — proven by sharing the batch oracle verbatim
      "kg_edges_incr" -> kgEdgesSql,
      "kg_entity_rank" -> pageRankOracleSql(CoocTop2000),
      "kg_entity_rank_full" -> pageRankOracleSql(CoocThreshold2),
      "kg_slice_merge" ->
        // idempotence IS the oracle: overlapping-slice merge must equal
        // the one-shot 400-doc extraction exactly (rows+schema+hash)
        "SELECT * FROM read_parquet('__OUT__/kg_triples/*.parquet')",
      "kg_skew_report" ->
        // fixed-point integer math on both sides, overflow-proof at the
        // petascale design point: Spark takes products in DECIMAL(38,0)
        // with `div` (integral quotient), DuckDB mirrors in HUGEINT with
        // `//` — identical floors for these positive values
        """WITH k AS (SELECT pred AS key, count(*) AS n_rows
          |  FROM read_parquet('__OUT__/kg_canonical/*.parquet') GROUP BY pred),
          |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total, count(*) AS n_keys FROM k),
          |top AS (SELECT key, n_rows FROM k ORDER BY n_rows DESC, key LIMIT 100)
          |SELECT key, n_rows,
          |  CAST(row_number() OVER (ORDER BY n_rows DESC, key) AS INTEGER) AS rank,
          |  CAST((10000 * CAST(n_rows AS HUGEINT)) // total AS BIGINT) AS share_x10000,
          |  CAST((1000 * CAST(n_rows AS HUGEINT) * n_keys) // total AS BIGINT) AS mult_x1000,
          |  (1000 * CAST(n_rows AS HUGEINT) * n_keys > 8000 * CAST(total AS HUGEINT)) AS is_hot
          |FROM top, t""".stripMargin,
      // same recursive reachability walk as dedup_clusters, over either
      // the top-2000 strongest co-occurrence edges (capped contract) or
      // every support-≥2 edge (uncapped); least/greatest and min are
      // binary UTF-8 string order in BOTH engines (Spark compares
      // UTF8String bytes), so component ids agree exactly
      "kg_cooc_components" -> coocComponentsOracleSql(CoocTop2000),
      "kg_cooc_full" -> coocComponentsOracleSql(CoocThreshold2),
      "kg_toy_sample" ->
        s"""SELECT * FROM read_parquet('__OUT__/kg_triples/*.parquet')
           |WHERE $sampleFilter""".stripMargin,
      "kg_sentence_report" ->
        // the segmentation-core invariants recomputed in SQL over the
        // materialized sentences + the _aux docs table
        """WITH d AS (SELECT doc_id,
          |    array_to_string(list_transform(
          |      list_filter(spans, s -> s.kind = 'text' AND s.text IS NOT NULL),
          |      s -> s.text), '') AS doc_text,
          |    CAST(len(list_filter(spans, s -> s.kind = 'text' AND s.text IS NOT NULL))
          |      AS INTEGER) AS n_text_spans
          |  FROM read_parquet('__AUX__/docs/*.parquet')),
          |s AS (SELECT doc_id, sent FROM read_parquet('__OUT__/kg_sentences/*.parquet')),
          |ag AS (SELECT doc_id, count(*) AS n_sentences,
          |    min(CASE WHEN strpos(d.doc_text, s.sent) > 0 THEN 1 ELSE 0 END) AS allc
          |  FROM s JOIN d USING (doc_id) GROUP BY doc_id)
          |SELECT d.doc_id, d.n_text_spans,
          |  CAST(COALESCE(ag.n_sentences, 0) AS BIGINT) AS n_sentences,
          |  COALESCE(ag.allc = 1, true) AS all_contained
          |FROM d LEFT JOIN ag ON d.doc_id = ag.doc_id""".stripMargin,
      "kg_coref_totals" ->
        """SELECT rel_list, count(*) AS n_rels, count(DISTINCT doc_id) AS n_docs
          |FROM read_parquet('__OUT__/kg_coref/*.parquet') GROUP BY rel_list""".stripMargin,
      "kg_metrics" ->
        """SELECT metric, CAST(sum(n) AS BIGINT) AS total
          |FROM read_parquet('__AUX__/metric_events/*.parquet') GROUP BY metric""".stripMargin,
      "kg_span_report" ->
        // same posexplode → sort-by-(offset, original position) reassembly,
        // recomputed in SQL. LEFT JOIN + empty-list fallback mirrors
        // posexplode_outer: a doc with an empty span array survives the
        // round trip; the positional tiebreak keeps equal-offset spans in
        // input order on both engines.
        """WITH a AS (SELECT * FROM read_parquet('__AUX__/docs/*.parquet')),
          |ex AS (SELECT doc_id, unnest(generate_series(1, len(spans))) AS pos,
          |    unnest(spans) AS span FROM a),
          |re AS (SELECT doc_id,
          |    list_transform(list_sort(list(struct_pack(o := span.offset, p := pos, s := span))),
          |                   x -> x.s) AS spans2
          |  FROM ex GROUP BY doc_id)
          |SELECT a.doc_id,
          |  (a.spans IS NOT DISTINCT FROM COALESCE(re.spans2, a.spans[1:0])) AS preserved
          |FROM a LEFT JOIN re ON a.doc_id = re.doc_id""".stripMargin,
      "mm_media_features" ->
        // the decode STUB's contract checked independently: DuckDB
        // re-parses the 20-byte big-endian header straight from the raw
        // payload blob (hex-nibble arithmetic), so the batched
        // mapPartitions decode path is value-verified end to end
        s"""WITH a AS (SELECT doc_id, media_ref, kind, payload,
           |    lower(hex(payload)) AS hx
           |  FROM read_parquet('__AUX__/media_assets/*.parquet'))
           |SELECT doc_id, media_ref, kind,
           |  ${duckBeInt("hx", 9)} AS width,
           |  ${duckBeInt("hx", 17)} AS height,
           |  ${duckBeInt("hx", 25)} AS n_frames,
           |  ${duckBeInt("hx", 33)} AS sample_rate,
           |  CAST(octet_length(payload) AS BIGINT) AS byte_len
           |FROM a""".stripMargin,
      "mm_media_features_real" ->
        // the REAL codecs checked independently: for kind=image the
        // payload is an actual PNG, and DuckDB re-parses the IHDR fields
        // straight from the bytes (PNG layout: 8-byte signature + 4-byte
        // chunk length + "IHDR", so width is the big-endian int32 at byte
        // offset 16 and height at 20 — hex-char offsets 33/41); a PNG has
        // exactly 1 frame and no sample rate. For kind=audio the payload
        // is an actual PCM WAV, and DuckDB re-parses the canonical
        // 44-byte RIFF header (little-endian: channels@22, rate@24,
        // blockAlign@32, bits@34, dataSize@40; frames = dataSize /
        // blockAlign) — in the shared schema audio rides width=channels,
        // height=bits_per_sample. For kind=video the payload is a REAL
        // ISO BMFF container: dimensions are the 16.16-fixed integer
        // halves in the first tkhd, frames the first stsz sample count
        // (big-endian, offsets from the shared Bmff* layout constants).
        // If javax.imageio, javax.sound.sampled or the box walk ever
        // parsed wrong, this oracle catches it.
        s"""WITH a AS (SELECT doc_id, media_ref, kind, payload,
           |    lower(hex(payload)) AS hx
           |  FROM read_parquet('__AUX__/media_assets_real/*.parquet'))
           |SELECT doc_id, media_ref, kind,
           |  CASE WHEN kind = 'image' THEN ${duckBeInt("hx", 33)}
           |       WHEN kind = 'audio' THEN ${duckLeInt("hx", 45, 2)}
           |       ELSE ${duckBeInt("hx", bmffC(bmffTkhd + 84), 2)} END AS width,
           |  CASE WHEN kind = 'image' THEN ${duckBeInt("hx", 41)}
           |       WHEN kind = 'audio' THEN ${duckLeInt("hx", 69, 2)}
           |       ELSE ${duckBeInt("hx", bmffC(bmffTkhd + 88), 2)} END AS height,
           |  CASE WHEN kind = 'image' THEN CAST(1 AS INTEGER)
           |       WHEN kind = 'audio' THEN CAST(${duckLeInt("hx", 81, 4)}
           |         // ${duckLeInt("hx", 65, 2)} AS INTEGER)
           |       ELSE ${duckBeInt("hx", bmffC(bmffStsz + 16))} END AS n_frames,
           |  CASE WHEN kind = 'image' THEN CAST(0 AS INTEGER)
           |       WHEN kind = 'audio' THEN ${duckLeInt("hx", 49, 4)}
           |       ELSE CAST(0 AS INTEGER) END AS sample_rate,
           |  CAST(octet_length(payload) AS BIGINT) AS byte_len
           |FROM a""".stripMargin,
      "mm_video_features" ->
        // the video-native surface: every field re-derived from the raw
        // BMFF box bytes in SQL — the five fourcc tags are ASSERTED at
        // their chained offsets (a non-BMFF payload drops out and the
        // driver's row compare flags it), mvhd gives timescale/duration,
        // the moov size field gives the track count, tkhd the 16.16
        // dimensions, stsz the sample count
        s"""WITH a AS (SELECT doc_id, media_ref, payload,
           |    lower(hex(payload)) AS hx
           |  FROM read_parquet('__AUX__/media_assets_real/*.parquet')
           |  WHERE kind = 'video'),
           |p AS (SELECT doc_id, media_ref, payload,
           |    ${duckBeInt("hx", bmffC(bmffMvhd + 20))} AS timescale,
           |    -- BIGINT: the Spark side reads the u32 v0 field unsigned
           |    -- into a long (v1 containers carry a true 64-bit value)
           |    CAST(${duckBeInt("hx", bmffC(bmffMvhd + 24))} AS BIGINT)
           |      AS duration_ticks,
           |    ${duckBeInt("hx", bmffC(bmffMoov))} AS moov_size,
           |    ${duckBeInt("hx", bmffC(bmffTkhd + 84), 2)} AS width,
           |    ${duckBeInt("hx", bmffC(bmffTkhd + 88), 2)} AS height,
           |    ${duckBeInt("hx", bmffC(bmffStsz + 16))} AS n_frames
           |  FROM a
           |  WHERE $bmffGuards)
           |SELECT doc_id, media_ref, timescale, duration_ticks,
           |  CAST(CAST(duration_ticks AS BIGINT) * 1000 // timescale AS BIGINT)
           |    AS duration_ms,
           |  CAST((moov_size - ${8 + MultimodalOps.BmffMvhdSize})
           |    // ${MultimodalOps.BmffTrakSize} AS INTEGER) AS n_tracks,
           |  width, height, n_frames,
           |  CAST(octet_length(payload) AS BIGINT) AS byte_len
           |FROM p""".stripMargin,
      "mm_audio_features" ->
        // the audio-native surface over the same real WAV payloads —
        // every field re-derived from the RIFF header bytes in SQL
        s"""WITH a AS (SELECT doc_id, media_ref, payload,
           |    lower(hex(payload)) AS hx
           |  FROM read_parquet('__AUX__/media_assets_real/*.parquet')
           |  WHERE kind = 'audio')
           |SELECT doc_id, media_ref,
           |  ${duckLeInt("hx", 45, 2)} AS channels,
           |  ${duckLeInt("hx", 69, 2)} AS bits_per_sample,
           |  CAST(${duckLeInt("hx", 81, 4)} // ${duckLeInt("hx", 65, 2)}
           |    AS INTEGER) AS n_frames,
           |  ${duckLeInt("hx", 49, 4)} AS sample_rate,
           |  CAST(octet_length(payload) AS BIGINT) AS byte_len
           |FROM a""".stripMargin,
      "mm_media_dedup" ->
        """SELECT kind, md5(hex(payload)) AS payload_fp,
          |  min(doc_id) AS keeper_doc, count(*) AS n_copies
          |FROM read_parquet('__AUX__/media_assets/*.parquet')
          |GROUP BY kind, md5(hex(payload))""".stripMargin,
      "mm_media_stats" ->
        """SELECT kind, count(*) AS n_assets, CAST(sum(byte_len) AS BIGINT) AS total_bytes,
          |  max(width) AS max_width, max(n_frames) AS max_frames
          |FROM read_parquet('__OUT__/mm_media_features/*.parquet') GROUP BY kind""".stripMargin,
      "dedup_exact" ->
        """SELECT md5(text) AS text_fp, min(doc_id) AS keeper_id, count(*) AS n_copies
          |FROM documents GROUP BY text""".stripMargin,
      "dedup_ngram" ->
        // bucket key = the gram's 48-bit PortableHash (mirrors the Spark
        // side's fixed-width shuffle key); n_grams stays the exact
        // distinct-string count
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |grams AS (SELECT doc_id,
           |  list_distinct(CASE WHEN len(t) >= 3
           |    THEN list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
           |    ELSE [array_to_string(t, ' ')] END) AS gs FROM toks),
           |exploded AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gram FROM grams),
           |hashed AS (SELECT doc_id, n_grams, ${duckMd5Long48("gram")} AS gram_h FROM exploded),
           |small AS (SELECT * FROM (
           |    SELECT doc_id, n_grams, gram_h, count(*) OVER (PARTITION BY gram_h) AS bucket_n FROM hashed)
           |  WHERE bucket_n <= 200),
           |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, x.n_grams AS n_a, y.n_grams AS n_b, count(*) AS shared
           |  FROM small x JOIN small y USING (gram_h) WHERE x.doc_id < y.doc_id GROUP BY 1,2,3,4)
           |SELECT a, b, shared, (1000 * shared) // (n_a + n_b - shared) AS jaccard_x1000
           |FROM pairs WHERE (1000 * shared) // (n_a + n_b - shared) >= 500""".stripMargin,
      "dedup_embed_clusters" ->
        """WITH RECURSIVE p AS (SELECT a, b FROM read_parquet('__OUT__/dedup_embed_lsh/*.parquet')),
          |edges AS (SELECT a AS u, b AS v FROM p UNION ALL SELECT b AS u, a AS v FROM p),
          |walk AS (
          |  SELECT u AS node, v AS reach FROM edges
          |  UNION
          |  SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON w.reach = e.u
          |)
          |SELECT node AS doc_id, least(node, min(reach)) AS cluster_id,
          |  (node = least(node, min(reach))) AS is_keeper
          |FROM walk GROUP BY node""".stripMargin,
      "dedup_clusters" ->
        // connected components as a recursive reachability walk over the
        // materialized pair table; cluster id = min reachable doc id
        """WITH RECURSIVE p AS (SELECT a, b FROM read_parquet('__OUT__/dedup_ngram/*.parquet')),
          |edges AS (SELECT a AS u, b AS v FROM p UNION ALL SELECT b AS u, a AS v FROM p),
          |walk AS (
          |  SELECT u AS node, v AS reach FROM edges
          |  UNION
          |  SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON w.reach = e.u
          |)
          |SELECT node AS doc_id, least(node, min(reach)) AS cluster_id,
          |  (node = least(node, min(reach))) AS is_keeper
          |FROM walk GROUP BY node""".stripMargin,
      "dedup_embed" ->
        """WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
          |SELECT x.vec_id AS a, y.vec_id AS b,
          |  CAST(floor(10000.0 *
          |    list_sum(list_transform(generate_series(1, len(x.embedding)), i ->
          |      CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))))
          |   AS BIGINT) AS cos_x10000
          |FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
          |WHERE CAST(floor(10000.0 *
          |    list_sum(list_transform(generate_series(1, len(x.embedding)), i ->
          |      CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))))
          |   AS BIGINT) >= 4000""".stripMargin,
      "ann_brute" ->
        """WITH e AS (SELECT vec_id, embedding FROM embeddings),
          |q AS (SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id < 8),
          |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
          |    CAST(floor(10000.0 *
          |      list_sum(list_transform(generate_series(1, len(qe)), i ->
          |        CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
          |      / (sqrt(list_sum(list_transform(qe, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))
          |       * sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))))
          |     AS BIGINT) AS cos_x10000
          |  FROM q, e WHERE e.vec_id <> q.query_id),
          |r AS (SELECT query_id, neighbor_id, cos_x10000,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos_x10000 DESC, neighbor_id) AS rank
          |  FROM s)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_x10000 FROM r WHERE rank <= 5""".stripMargin,
      "text_lang_id" ->
        """SELECT doc_id,
          |  CASE WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) * 2
          |            > length(regexp_replace(text, '[^A-Za-z]', '', 'g')) THEN 'zh'
          |       WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) > 0 THEN 'en'
          |       ELSE 'other' END AS lang_pred,
          |  length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS n_cjk,
          |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_latin
          |FROM documents""".stripMargin,
      "text_quality" ->
        s"""SELECT doc_id,
           |  length(text) AS n_chars_m,
           |  len(string_split(text, ' ')) AS n_tokens,
           |  len(list_filter(string_split(text, ' '), t -> t IN ($stop))) AS n_stopwords,
           |  length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
           |  length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
           |  (1000 * len(list_filter(string_split(text, ' '), t -> t IN ($stop))))
           |    // greatest(len(string_split(text, ' ')), 1) AS stop_ratio_x1000,
           |  (1000 * length(regexp_replace(text, '[^0-9]', '', 'g')))
           |    // greatest(length(text), 1) AS digit_ratio_x1000
           |FROM documents""".stripMargin,
      "text_tokens" ->
        """SELECT doc_id,
          |  len(string_split(text, ' ')) AS n_ws_tokens,
          |  length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS n_cjk_chars,
          |  CAST(list_sum(list_transform(string_split(text, ' '),
          |    t -> greatest(1, (length(t) + 3) // 4))) AS BIGINT) AS n_subwords
          |FROM documents""".stripMargin,
      "text_fingerprint" -> "SELECT doc_id, md5(text) AS md5_fp FROM documents",
      "text_sample" ->
        s"""WITH d AS (SELECT doc_id,
           |    CASE WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) * 2
           |              > length(regexp_replace(text, '[^A-Za-z]', '', 'g')) THEN 'zh'
           |         WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) > 0 THEN 'en'
           |         ELSE 'other' END AS lang_pred,
           |    ${graft.functions.PortableHash.duckMd5Long48("CAST(doc_id AS VARCHAR)")} % 10000 AS ticket_x10000,
           |    text
           |  FROM documents)
           |SELECT doc_id, lang_pred, ticket_x10000, text FROM d
           |WHERE ticket_x10000 < (CASE lang_pred WHEN 'en' THEN 2500
           |                       WHEN 'zh' THEN 6000 ELSE 0 END)""".stripMargin,
      "text_pack" ->
        s"""WITH t AS (SELECT doc_id,
           |    CAST(${graft.functions.PortableHash.duckMd5Long48("CAST(doc_id AS VARCHAR)")} % 8 AS INTEGER) AS stream,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |c AS (SELECT doc_id, stream, n_tokens,
           |    sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM t)
           |SELECT doc_id, stream, n_tokens,
           |  CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
           |FROM c""".stripMargin,
      "text_chunks" ->
        // same positional window rule, chunk boundaries recomputed
        // exactly: starts 0, 24, 48, … while < n_tokens (32-token
        // windows, 8 overlap); DuckDB list slice t[a:b] clamps at the
        // array end exactly like Spark's slice(t, a, len)
        s"""WITH tcw AS (SELECT doc_id,
           |    string_split(COALESCE(text, ''), ' ') AS t FROM documents),
           |chw AS (SELECT doc_id, len(t) AS n, unnest(list_transform(
           |    generate_series(0, CAST((len(t) - 1) // 24 AS BIGINT)),
           |    i -> struct_pack(idx := i,
           |      txt := array_to_string(t[i*24+1 : i*24+32], ' ')))) AS s
           |  FROM tcw)
           |SELECT doc_id, CAST(s.idx AS INTEGER) AS chunk_idx,
           |  CAST(s.idx * 24 AS BIGINT) AS start_tok,
           |  CAST(least(32, n - s.idx * 24) AS BIGINT) AS n_chunk_toks,
           |  s.txt AS chunk_text
           |FROM chw""".stripMargin,
      "text_mix_rates" ->
        // same exact isqrt (floor(sqrt) ± 1 integer correction — both
        // engines' IEEE sqrt is correctly rounded, the correction
        // absorbs the one possible ulp) and the same wide-integer
        // fixed-point rate arithmetic (HUGEINT here, DECIMAL(38,0)
        // on the Spark side — both exact at these magnitudes)
        s"""WITH cmx AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
           |wmx0 AS (SELECT source, n_docs,
           |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS x0 FROM cmx),
           |wmx AS (SELECT source, n_docs,
           |    x0 - CASE WHEN x0 * x0 > n_docs THEN 1 ELSE 0 END
           |       + CASE WHEN (x0 + 1) * (x0 + 1) <= n_docs THEN 1 ELSE 0 END AS weight
           |  FROM wmx0)
           |SELECT source, n_docs, weight,
           |  CAST(least(CAST(10000 AS HUGEINT),
           |    (CAST(sum(n_docs) OVER () AS HUGEINT) * 5000 * weight)
           |      // (CAST(sum(weight) OVER () AS HUGEINT) * n_docs))
           |    AS BIGINT) AS rate_x10000
           |FROM wmx""".stripMargin,
      "text_mix_sample" ->
        s"""WITH cms AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
           |wms0 AS (SELECT source, n_docs,
           |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS x0 FROM cms),
           |wms AS (SELECT source, n_docs,
           |    x0 - CASE WHEN x0 * x0 > n_docs THEN 1 ELSE 0 END
           |       + CASE WHEN (x0 + 1) * (x0 + 1) <= n_docs THEN 1 ELSE 0 END AS weight
           |  FROM wms0),
           |rms AS (SELECT source,
           |    CAST(least(CAST(10000 AS HUGEINT),
           |      (CAST(sum(n_docs) OVER () AS HUGEINT) * 5000 * weight)
           |        // (CAST(sum(weight) OVER () AS HUGEINT) * n_docs))
           |      AS BIGINT) AS rate_x10000
           |  FROM wms),
           |dms AS (SELECT doc_id, source,
           |    ${graft.functions.PortableHash.duckMd5Long48("CAST(doc_id AS VARCHAR)")} % 10000 AS ticket_x10000
           |  FROM documents)
           |SELECT dms.doc_id, dms.source, dms.ticket_x10000, rms.rate_x10000
           |FROM dms JOIN rms USING (source)
           |WHERE dms.ticket_x10000 < rms.rate_x10000""".stripMargin,
      "dedup_substring" ->
        s"""WITH toksd AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |pos0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 7),
           |    i -> struct_pack(pos := i - 1,
           |      h := ${graft.functions.PortableHash.duckMd5Long48("array_to_string(t[i:i+7], ' ')")}))) AS s
           |  FROM toksd WHERE len(t) >= 8),
           |posd AS (SELECT doc_id, CAST(s.pos AS INTEGER) AS pos, s.h AS h FROM pos0),
           |duph AS (SELECT h FROM posd GROUP BY h HAVING count(*) > 1),
           |md AS (SELECT posd.doc_id, posd.pos FROM posd JOIN duph USING (h)),
           |gd AS (SELECT doc_id, pos,
           |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           |  FROM md)
           |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
           |  CAST(max(pos) - min(pos) + 8 AS INTEGER) AS span_len_tokens
           |FROM gd GROUP BY doc_id, grp""".stripMargin,
      "dedup_substring_rw" ->
        s"""WITH toksw AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |pw0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 7),
           |    i -> struct_pack(pos := i - 1,
           |      h := ${graft.functions.PortableHash.duckMd5Long48("array_to_string(t[i:i+7], ' ')")}))) AS s
           |  FROM toksw WHERE len(t) >= 8),
           |pw AS (SELECT doc_id, CAST(s.pos AS INTEGER) AS pos, s.h AS h FROM pw0),
           |rkw AS (SELECT doc_id, pos,
           |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
           |    count(*) OVER (PARTITION BY h) AS n_occ
           |  FROM pw),
           |redw AS (SELECT doc_id, pos FROM rkw WHERE n_occ > 1 AND rn > 1),
           |giw AS (SELECT doc_id, pos,
           |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           |  FROM redw),
           |delw AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
           |  FROM giw GROUP BY doc_id, grp),
           |tokw AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
           |    i -> struct_pack(i := i - 1, tok := t[i]))) AS u FROM toksw),
           |tkw AS (SELECT doc_id, CAST(u.i AS INTEGER) AS i, u.tok AS tok FROM tokw),
           |keptw AS (SELECT tkw.doc_id, tkw.i, tkw.tok FROM tkw
           |  WHERE NOT EXISTS (SELECT 1 FROM delw
           |    WHERE delw.doc_id = tkw.doc_id AND tkw.i BETWEEN delw.s AND delw.e)),
           |aggw AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_deduped,
           |    count(*) AS n_kept
           |  FROM keptw GROUP BY doc_id),
           |totw AS (SELECT doc_id, len(t) AS n_tok FROM toksw)
           |SELECT totw.doc_id, coalesce(aggw.text_deduped, '') AS text_deduped,
           |  CAST(totw.n_tok - coalesce(aggw.n_kept, 0) AS BIGINT) AS n_tokens_removed
           |FROM totw LEFT JOIN aggw ON totw.doc_id = aggw.doc_id""".stripMargin,
      "dedup_lines" ->
        // same 12-token pseudo-line split, same 48-bit content hash,
        // same packed-long (doc_id << 21 | line_idx) keeper min
        s"""WITH ldl AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS t FROM documents),
           |lel0 AS (SELECT doc_id, unnest(list_transform(
           |    generate_series(0, CAST((len(t) - 1) // 12 AS INTEGER)),
           |    i -> struct_pack(idx := i,
           |      h := ${graft.functions.PortableHash.duckMd5Long48("array_to_string(t[i*12+1 : i*12+12], ' ')")}))) AS s
           |  FROM ldl),
           |lel AS (SELECT doc_id, CAST(s.idx AS INTEGER) AS line_idx, s.h AS line_h
           |  FROM lel0)
           |SELECT line_h, count(*) AS n_occ,
           |  CAST(min(doc_id * 2097152 + line_idx) // 2097152 AS BIGINT) AS keeper_doc,
           |  CAST(min(doc_id * 2097152 + line_idx) % 2097152 AS INTEGER) AS keeper_idx
           |FROM lel GROUP BY line_h HAVING count(*) > 1""".stripMargin,
      "dedup_lines_rw" ->
        s"""WITH ldw AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS t FROM documents),
           |lew0 AS (SELECT doc_id, unnest(list_transform(
           |    generate_series(0, CAST((len(t) - 1) // 12 AS INTEGER)),
           |    i -> struct_pack(idx := i,
           |      line := array_to_string(t[i*12+1 : i*12+12], ' ')))) AS s
           |  FROM ldw),
           |lew AS (SELECT doc_id, CAST(s.idx AS INTEGER) AS line_idx, s.line AS line,
           |    ${graft.functions.PortableHash.duckMd5Long48("s.line")} AS line_h FROM lew0),
           |kpw AS (SELECT line_h, min(doc_id * 2097152 + line_idx) AS kpk
           |  FROM lew GROUP BY line_h)
           |SELECT lew.doc_id, count(*) AS n_lines,
           |  CAST(sum(CASE WHEN lew.doc_id * 2097152 + lew.line_idx = kpw.kpk
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  coalesce(string_agg(CASE WHEN lew.doc_id * 2097152 + lew.line_idx = kpw.kpk
           |    THEN lew.line END, ' ' ORDER BY lew.line_idx), '') AS text_deduped
           |FROM lew JOIN kpw USING (line_h)
           |GROUP BY lew.doc_id""".stripMargin,
      "dedup_cross_new" ->
        s"""WITH $crossPlantCte,
           |snx AS (SELECT DISTINCT md5(text) AS md5_fp FROM plx WHERE doc_id % 3 = 0)
           |-- NOT EXISTS, not NOT IN: three-valued NOT IN semantics would
           |-- diverge from Spark's left_anti if a text were ever NULL (one
           |-- NULL on the seen side empties the whole result)
           |SELECT doc_id, md5(text) AS md5_fp FROM plx p
           |WHERE doc_id % 3 <> 0
           |  AND NOT EXISTS (SELECT 1 FROM snx WHERE snx.md5_fp = md5(p.text))""".stripMargin,
      "dedup_cross_screen" ->
        s"""WITH $crossPlantCte,
           |${bandsCteOver("plx")},
           |snb AS (SELECT DISTINCT band, bucket FROM bands WHERE doc_id % 3 = 0),
           |hitx AS (SELECT b.doc_id, count(*) AS n_hit_bands
           |  FROM bands b JOIN snb USING (band, bucket)
           |  WHERE b.doc_id % 3 <> 0 GROUP BY b.doc_id)
           |SELECT p.doc_id, COALESCE(h.n_hit_bands, 0) AS n_hit_bands,
           |  CAST(CASE WHEN h.n_hit_bands IS NULL THEN 0 ELSE 1 END AS INTEGER) AS suspect
           |FROM plx p LEFT JOIN hitx h USING (doc_id)
           |WHERE p.doc_id % 3 <> 0""".stripMargin,
      "dedup_cross_bloom" ->
        // the Bloom filter recomputed bit-for-bit in SQL: same
        // PortableHash affine family over md5Long48(text), same mod-m
        // positions, same all-k-present verdict. The probe side keeps
        // its k-row multiplicity (JOIN against the DISTINCT'd index),
        // mirroring the Spark semi-join's left-multiplicity semantics.
        s"""WITH $crossPlantCte,
           |snt AS (SELECT ${graft.functions.PortableHash.duckMd5Long48("text")} AS base
           |  FROM plx WHERE doc_id % 3 = 0),
           |blf AS (SELECT DISTINCT
           |    (${graft.functions.PortableHash.duckFamilyHashLongOver("base", "hi.hi")})
           |      % ${1L << 22} AS pos
           |  FROM snt, generate_series(0, 6) AS hi(hi)),
           |inh AS (SELECT doc_id, ${graft.functions.PortableHash.duckMd5Long48("text")} AS base
           |  FROM plx WHERE doc_id % 3 <> 0),
           |prb AS (SELECT doc_id,
           |    (${graft.functions.PortableHash.duckFamilyHashLongOver("base", "hi.hi")})
           |      % ${1L << 22} AS pos
           |  FROM inh, generate_series(0, 6) AS hi(hi)),
           |hb AS (SELECT prb.doc_id, count(*) AS n_hits
           |  FROM prb JOIN blf USING (pos) GROUP BY 1)
           |SELECT i.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           |  CAST(CASE WHEN h.n_hits = 7 THEN 1 ELSE 0 END AS INTEGER) AS maybe_seen
           |FROM (SELECT DISTINCT doc_id FROM inh) i LEFT JOIN hb h USING (doc_id)""".stripMargin,
      "dedup_cross_apply" ->
        // keeper/routing logic recomputed whole in SQL: exact routes
        // first, then the band-hit threshold, else clean — same NOT
        // EXISTS (not NOT IN) rationale as dedup_cross_new
        s"""WITH $crossPlantCte,
           |${bandsCteOver("plx")},
           |snx AS (SELECT DISTINCT md5(text) AS md5_fp FROM plx WHERE doc_id % 3 = 0),
           |snb AS (SELECT DISTINCT band, bucket FROM bands WHERE doc_id % 3 = 0),
           |hitx AS (SELECT b.doc_id, count(*) AS n_hit_bands
           |  FROM bands b JOIN snb USING (band, bucket)
           |  WHERE b.doc_id % 3 <> 0 GROUP BY b.doc_id),
           |inc AS (SELECT p.doc_id, p.text, md5(p.text) AS md5_fp,
           |    COALESCE(h.n_hit_bands, 0) AS n_hit_bands,
           |    CASE WHEN EXISTS (SELECT 1 FROM snx WHERE snx.md5_fp = md5(p.text))
           |      THEN 1 ELSE 0 END AS exact_dup
           |  FROM plx p LEFT JOIN hitx h USING (doc_id)
           |  WHERE p.doc_id % 3 <> 0)
           |SELECT doc_id, text, n_hit_bands, CAST(exact_dup AS INTEGER) AS exact_dup,
           |  CASE WHEN exact_dup = 1 THEN 'exact_dup'
           |       WHEN n_hit_bands > 0 THEN 'near_dup'
           |       ELSE 'clean' END AS route,
           |  CAST(CASE WHEN exact_dup = 0 AND n_hit_bands = 0 THEN 1 ELSE 0 END
           |    AS INTEGER) AS kept
           |FROM inc""".stripMargin,
      "dedup_cross_verify" ->
        // the pairwise verifier recomputed whole in SQL: the screen's
        // suspects, candidate (incoming, seen) pairs through shared
        // ≤200-member band buckets, exact shingle-Jaccard per pair from
        // the same distinct 3-gram sets, best match per suspect under
        // the same (jaccard desc, seen_id asc) tie-break
        s"""WITH $crossPlantCte,
           |${bandsCteOver("plx")},
           |snb AS (SELECT DISTINCT band, bucket FROM bands WHERE doc_id % 3 = 0),
           |susp AS (SELECT b.doc_id, count(*) AS n_hit_bands
           |  FROM bands b JOIN snb USING (band, bucket)
           |  WHERE b.doc_id % 3 <> 0 GROUP BY b.doc_id),
           |okb AS (SELECT band, bucket FROM bands WHERE doc_id % 3 = 0
           |  GROUP BY 1, 2 HAVING count(*) <= 200),
           |cand AS (SELECT DISTINCT i.doc_id, s.doc_id AS seen_id
           |  FROM bands i
           |  JOIN bands s ON i.band = s.band AND i.bucket = s.bucket
           |  JOIN okb o ON o.band = i.band AND o.bucket = i.bucket
           |  JOIN susp ON susp.doc_id = i.doc_id
           |  WHERE i.doc_id % 3 <> 0 AND s.doc_id % 3 = 0),
           |na AS (SELECT doc_id, count(*) AS n_a FROM grams
           |  WHERE doc_id % 3 <> 0 GROUP BY 1),
           |nb AS (SELECT doc_id AS seen_id, count(*) AS n_b FROM grams
           |  WHERE doc_id % 3 = 0 GROUP BY 1),
           |shx AS (SELECT c.doc_id, c.seen_id, count(*) AS shared
           |  FROM cand c
           |  JOIN grams gi ON gi.doc_id = c.doc_id
           |  JOIN grams gs ON gs.doc_id = c.seen_id AND gs.gram = gi.gram
           |  GROUP BY 1, 2),
           |scored AS (SELECT shx.doc_id, shx.seen_id,
           |    (1000 * shx.shared) // (na.n_a + nb.n_b - shx.shared) AS jaccard_x1000
           |  FROM shx JOIN na ON na.doc_id = shx.doc_id
           |  JOIN nb ON nb.seen_id = shx.seen_id),
           |best AS (SELECT doc_id, seen_id AS best_seen_id, jaccard_x1000 FROM (
           |    SELECT *, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY jaccard_x1000 DESC, seen_id) AS rk FROM scored)
           |  WHERE rk = 1)
           |SELECT s.doc_id, s.n_hit_bands,
           |  COALESCE(b.best_seen_id, -1) AS best_seen_id,
           |  CAST(COALESCE(b.jaccard_x1000, 0) AS BIGINT) AS jaccard_x1000,
           |  CAST(CASE WHEN COALESCE(b.jaccard_x1000, 0) >= 500 THEN 1 ELSE 0 END
           |    AS INTEGER) AS verified,
           |  CASE WHEN COALESCE(b.jaccard_x1000, 0) >= 500 THEN 'near_dup'
           |       ELSE 'screen_false_alarm' END AS route_refined
           |FROM susp s LEFT JOIN best b USING (doc_id)""".stripMargin,
      "text_vocab" ->
        """SELECT token, count(*) AS n_occ
          |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
          |GROUP BY token ORDER BY n_occ DESC, token LIMIT 500""".stripMargin,
      "text_len_hist" ->
        """WITH lh AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          |  FROM documents)
          |SELECT (n_tok // 32) * 32 AS len_bucket, count(*) AS n_docs,
          |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
          |FROM lh GROUP BY 1""".stripMargin,
      "text_bigram_lm" ->
        // self-scored MLE bigram LM, recomputed end-to-end in SQL: same
        // 48-bit gram keys, same left-join/zero-for-unseen semantics,
        // same position-sorted left-fold sum (the duckCos precedent for
        // bit-equal double folds) and the same (1e6 * sum) / n → floor —
        // count + correctly-rounded division only, no ln anywhere
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           |  FROM documents WHERE text IS NOT NULL),
           |ex AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
           |    i -> struct_pack(o := i, pv := toks[i], bg := toks[i] || ' ' || toks[i + 1]))) AS g
           |  FROM t WHERE len(toks) >= 2),
           |occ AS (SELECT doc_id, g.o AS pos,
           |    ${duckMd5Long48("g.bg")} AS bh, ${duckMd5Long48("g.pv")} AS uh FROM ex),
           |bc AS (SELECT bh, count(*) AS bc FROM occ GROUP BY bh),
           |uc AS (SELECT uh, count(*) AS uc FROM occ GROUP BY uh),
           |p AS (SELECT doc_id, pos,
           |    CASE WHEN bc.bc IS NULL THEN 0.0
           |         ELSE CAST(bc.bc AS DOUBLE) / CAST(uc.uc AS DOUBLE) END AS p,
           |    CASE WHEN bc.bc IS NULL THEN 0 ELSE 1 END AS known
           |  FROM occ LEFT JOIN bc USING (bh) LEFT JOIN uc USING (uh)),
           |agg AS (SELECT doc_id, count(*) AS n_bigrams,
           |    CAST(sum(known) AS BIGINT) AS n_known,
           |    CAST(floor(1000000.0 * list_sum(list_transform(
           |        list_sort(list(struct_pack(o := pos, p := p))), x -> x.p))
           |      / count(*)) AS BIGINT) AS fluency_x1e6
           |  FROM p GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
           |  COALESCE(a.n_known, 0) AS n_known,
           |  COALESCE(a.fluency_x1e6, -1) AS fluency_x1e6
           |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,
      "text_pii" -> {
        // ONE source of truth for the patterns: the SQL is emitted from
        // TextOps.piiPatterns (conservative RE2-compatible subset); the
        // deterministic PII planting mirrors the Spark query exactly
        val cnt = TextOps.piiPatterns.map { case (n, p, _) =>
          s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_$n"
        }.mkString(",\n  ")
        val red = TextOps.piiPatterns.foldLeft("text") { case (e, (_, p, r)) =>
          s"regexp_replace($e, '$p', '$r', 'g')"
        }
        s"""WITH pland AS (SELECT doc_id,
           |    CASE WHEN doc_id % 25 = 0 THEN text || '$PiiPlantA'
           |      || CAST(doc_id AS VARCHAR) || '$PiiPlantB'
           |      || CAST(doc_id AS VARCHAR) ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  $cnt,
           |  md5($red) AS redacted_fp
           |FROM pland""".stripMargin
      },
      "text_repetition" ->
        s"""WITH toksr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |gr AS (SELECT doc_id, ns.n AS n,
           |    unnest(list_transform(generate_series(1, len(t) - ns.n + 1),
           |           i -> array_to_string(t[i:i+ns.n-1], ' '))) AS gram
           |  FROM toksr, (VALUES (1),(2),(3)) ns(n)
           |  WHERE len(t) >= ns.n),
           |cr AS (SELECT doc_id, n, ${graft.functions.PortableHash.duckMd5Long48("gram")} AS gram_h,
           |    count(*) AS cnt
           |  FROM gr GROUP BY doc_id, n, gram_h),
           |pr AS (SELECT doc_id,
           |    max(CASE WHEN n = 1 THEN cnt END) AS m1,
           |    sum(CASE WHEN n = 1 THEN cnt END) AS t1,
           |    max(CASE WHEN n = 2 THEN cnt END) AS m2,
           |    sum(CASE WHEN n = 2 THEN cnt END) AS t2,
           |    sum(CASE WHEN n = 3 AND cnt > 1 THEN cnt END) AS d3,
           |    sum(CASE WHEN n = 3 THEN cnt END) AS t3
           |  FROM cr GROUP BY doc_id)
           |SELECT doc_id,
           |  CAST(coalesce((10000 * m1) // t1, 0) AS BIGINT) AS top_word_frac_x10000,
           |  CAST(coalesce((10000 * m2) // t2, 0) AS BIGINT) AS top_2gram_frac_x10000,
           |  CAST(coalesce((10000 * coalesce(d3, 0)) // t3, 0) AS BIGINT) AS dup_3gram_frac_x10000
           |FROM pr""".stripMargin,
      "text_contamination" ->
        s"""WITH toksc AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |gc AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |    generate_series(1, len(t) - 7), i -> array_to_string(t[i:i+7], ' ')))) AS gram
           |  FROM toksc WHERE len(t) >= 8),
           |gh AS (SELECT doc_id, ${graft.functions.PortableHash.duckMd5Long48("gram")} AS gram_h FROM gc),
           |bh AS (SELECT DISTINCT gram_h FROM gh WHERE doc_id < 20),
           |pd AS (SELECT doc_id, count(*) AS n_grams FROM gh GROUP BY doc_id),
           |ht AS (SELECT gh.doc_id, count(*) AS n_hits FROM gh JOIN bh USING (gram_h)
           |  GROUP BY gh.doc_id)
           |SELECT pd.doc_id, pd.n_grams,
           |  CAST(coalesce(ht.n_hits, 0) AS BIGINT) AS n_hits,
           |  CAST(coalesce((10000 * coalesce(ht.n_hits, 0)) // pd.n_grams, 0) AS BIGINT)
           |    AS overlap_x10000,
           |  (coalesce((10000 * coalesce(ht.n_hits, 0)) // pd.n_grams, 0) >= 5000)
           |    AS contaminated
           |FROM pd LEFT JOIN ht ON pd.doc_id = ht.doc_id""".stripMargin,
      "text_clean_corpus" ->
        s"""WITH k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
           |f AS (SELECT doc_id, text,
           |    CASE WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) * 2
           |              > length(regexp_replace(text, '[^A-Za-z]', '', 'g')) THEN 'zh'
           |         WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) > 0 THEN 'en'
           |         ELSE 'other' END AS lang_pred,
           |    len(string_split(text, ' ')) AS n_tokens,
           |    (1000 * len(list_filter(string_split(text, ' '), t -> t IN ($stop))))
           |      // greatest(len(string_split(text, ' ')), 1) AS stop_ratio_x1000,
           |    (1000 * length(regexp_replace(text, '[^0-9]', '', 'g')))
           |      // greatest(length(text), 1) AS digit_ratio_x1000
           |  FROM documents)
           |SELECT doc_id, lang_pred, n_tokens, stop_ratio_x1000, digit_ratio_x1000, text
           |FROM f
           |WHERE doc_id IN (SELECT doc_id FROM k)
           |  AND n_tokens BETWEEN 5 AND 100000
           |  AND (lang_pred <> 'en' OR stop_ratio_x1000 >= 1)
           |  AND digit_ratio_x1000 <= 300
           |  AND lang_pred IN ('en', 'zh')""".stripMargin,
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
          |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          |  CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_fl
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
      "q_join_agg" ->
        """SELECT n_name, count(*) AS n_orders,
          |  count(DISTINCT c_custkey) AS n_customers,
          |  CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price_fl
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name""".stripMargin,
      "q_window_topk" ->
        """SELECT o_custkey, rk, o_orderkey FROM (
          |  SELECT o_custkey, o_orderkey,
          |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
          |  FROM orders) WHERE rk <= 3""".stripMargin,
      "q_events_agg" ->
        """SELECT event_type, count(*) AS n_events,
          |  count(DISTINCT user_id) AS n_users,
          |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_x100
          |FROM events GROUP BY event_type""".stripMargin,
      "q_filter_scan" ->
        "SELECT p_partkey, p_brand, p_size FROM part WHERE p_size >= 25",
      "q_semi_join" ->
        """SELECT c_custkey, c_mktsegment FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""".stripMargin,
      "q_anti_join" ->
        """SELECT c_custkey, c_mktsegment FROM customer c
          |WHERE NOT EXISTS (SELECT 1 FROM orders o
          |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""".stripMargin,
      "q_rollup" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
          |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
          |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
      "q_cube" ->
        """SELECT event_type, user_id % 4 AS user_bucket, count(*) AS n_events,
          |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_x100
          |FROM events GROUP BY CUBE(event_type, user_id % 4)""".stripMargin,
      "q_sessionize" ->
        // gap-based sessionization re-derived relationally: a session
        // break is a >30min gap to the previous event of the same user;
        // session id = running sum of breaks (epoch millis both sides)
        """WITH l AS (SELECT user_id, ts,
          |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
          |            > 1800000
          |      THEN 1 ELSE 0 END AS brk
          |  FROM events),
          |g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM l)
          |SELECT user_id, CAST(min(epoch_ms(ts)) AS BIGINT) AS session_start_ms,
          |  CAST(max(epoch_ms(ts)) AS BIGINT) AS session_end_ms,
          |  CAST(count(*) AS INTEGER) AS n_events
          |FROM g GROUP BY user_id, sid""".stripMargin,
      "q_stream_windows" ->
        """SELECT event_type,
          |  CAST(epoch_ms(ts) // 60000 * 60000 AS BIGINT) AS w_start_ms,
          |  count(*) AS n_events
          |FROM events GROUP BY event_type, epoch_ms(ts) // 60000 * 60000""".stripMargin)
      .pipe(m => m + ("kg_mentions_join" -> m("kg_mentions")))
  }
}
