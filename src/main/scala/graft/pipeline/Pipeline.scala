package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.util.LongAccumulator
import graft.amend.PostProcess
import graft.model._
import graft.segment.Segmenter
import graft.synth.{FixtureParser, SynthDocs, Templates}

/** The KG-construction pipeline, Spark-first.
  *
  * Dataflow (each stage a typed Dataset transformation; shuffles only
  * where aggregation demands them):
  *
  *   docs (interleaved text+media)                  — synthesized or read
  *     → sentences        one typed flatMap           (0 shuffles)
  *     → triples          one typed mapPartitions     (0 shuffles)
  *     → canonical        broadcast alias join        (0 shuffles)
  *     → edges            2-level aggregation w/ skew cap (2 shuffles)
  *
  * The extraction itself (parse → fine/coarse rules → 11 amendments →
  * filters → negation → coarsify) runs entirely inside the mapPartitions
  * lambda — the reference's per-sentence O(rels²) correlations stay LOCAL
  * to a row, never become distributed joins (SURVEY.md §2.3). This is the
  * key 100 TB property: extraction cost scales linearly with input
  * partitions, with zero shuffle before the first aggregation.
  * The run books that compose these transforms live in [[RunBook]].
  */
object Pipeline {

  // ---------------------------------------------------------------- docs
  /** deterministic synthetic docs table (the engine's input contract:
    * doc_id string, spans array<struct<kind,text,media_ref,offset>>). */
  def synthDocs(spark: SparkSession, nDocs: Long,
                sentsPerDoc: Int = SynthDocs.DefaultSentsPerDoc): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0, nDocs).map(i => SynthDocs.genDoc(i, sentsPerDoc))
  }

  /** synthDocs over an explicit id range — corpus SLICES for the
    * incremental-merge path (same per-id generator, so slice extraction
    * equals filtered full-corpus extraction). */
  def synthDocsRange(spark: SparkSession, fromId: Long, untilId: Long,
                     sentsPerDoc: Int = SynthDocs.DefaultSentsPerDoc): Dataset[Doc] = {
    import spark.implicits._
    spark.range(fromId, untilId).map(i => SynthDocs.genDoc(i, sentsPerDoc))
  }

  /** Idempotent incremental slice merge: an already-merged triple store
    * plus a fresh slice that may OVERLAP it (re-submitted or re-split
    * slices — the failure mode of the reference's manual file-level merge,
    * merge_parsed_results.py:55-90, where a re-run slice would double its
    * docs). Fresh rows for doc_ids already present are dropped WHOLESALE
    * (doc-granular: a doc's triples are an atomic unit, never mixed
    * across runs) via a doc-keyed left-anti join — one bounded shuffle
    * on doc_id, no distinct over triple payloads. The checkpoint
    * implementation column `_bucket` is stripped from both sides first
    * (an existing store is naturally `spark.read.parquet(root/triples)`,
    * which carries it; a fresh extraction doesn't) — any OTHER schema
    * mismatch still fails loudly in unionByName. */
  def mergeSliceIncrement(existing: DataFrame, fresh: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val ex = existing.drop("_bucket")
    ex.unionByName(
      fresh.drop("_bucket")
        .join(ex.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti"))
  }

  /** schema-first JSONL docs reader (the reference's corpus readers,
    * preprocess_corpus.py:166-340, consume JSON lines; dynamic-schema
    * inference is deliberately avoided — SURVEY.md §1.4). */
  /** the ONE schema for the docs JSONL wire format — shared by the batch
    * reader and the streaming source so they can never drift. */
  val docsJsonSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("spans", ArrayType(StructType(Seq(
        StructField("kind", StringType), StructField("text", StringType),
        StructField("media_ref", StringType), StructField("offset", IntegerType)))))))
  }

  def readDocsJson(spark: SparkSession, path: String): Dataset[Doc] = {
    import spark.implicits._
    spark.read.schema(docsJsonSchema).json(path).as[Doc]
  }

  // ----------------------------------------------------------- sentences
  /** explode text spans to sentences; media spans pass through untouched
    * in the docs table (span-sequence invariant checked by
    * `spanInvariantViolations`). One narrow flatMap, no shuffle. */
  def segmentDocs(docs: Dataset[Doc]): Dataset[SentenceRow] = {
    import docs.sparkSession.implicits._
    docs.flatMap { doc =>
      var sentId = 0
      doc.spans.iterator.filter(s => s.kind == "text" && s.text != null).flatMap { span =>
        Segmenter.segment(span.text).map { sent =>
          val row = SentenceRow(doc.doc_id, span.offset, sentId, sent)
          sentId += 1
          row
        }
      }
    }
  }

  // ------------------------------------------------------- model seams
  /** the one per-partition loop behind both [[ModelConnection]] seams:
    * open `conn` once per partition, close it on task completion (success
    * OR failure), call the model on bounded `batchSize` batches, require
    * one result per sentence, and `emit` each sentence's rows from its
    * aligned result. With a fixture model this is one narrow flatMap, no
    * shuffle. */
  private def batched[R, O: Encoder](sentences: Dataset[SentenceRow], conn: ModelConnection,
                                     batchSize: Int, who: String)
                                    (call: Seq[String] => Seq[R])
                                    (emit: (SentenceRow, R) => IterableOnce[O]): Dataset[O] = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    sentences.mapPartitions { it =>
      conn.open()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => conn.close()))
      it.grouped(batchSize).flatMap { rows =>
        val results = call(rows.map(_.sent))
        require(results.length == rows.length,
          s"$who returned ${results.length} results for ${rows.length} sentences")
        rows.iterator.zip(results.iterator).flatMap { case (row, r) => emit(row, r) }
      }
    }
  }

  // -------------------------------------------------------------- triples
  /** dependency parse + full extraction through the pluggable
    * [[DepParser]] seam ([[batched]]); a live deployment passes
    * [[HttpDepParser]] pointed at its DDParser server (the reference
    * loads the model per slice process, dudepparse.py:1851,1899).
    * `unparsedAcc`, when supplied, counts sentences the parser could not
    * analyze (observability; the reference prints such mismatches,
    * dudepparse.py:1894-1897). */
  def extractTriples(sentences: Dataset[SentenceRow],
                     unparsedAcc: Option[LongAccumulator] = None,
                     addHalfCoarse: Boolean = false,
                     parser: DepParser = FixtureDepParser,
                     batchSize: Int = 64): Dataset[TripleRow] = {
    import sentences.sparkSession.implicits._
    batched(sentences, parser, batchSize, "parser")(parser.parse) {
      case (row, Some((parse, tags))) =>
        val rels = PostProcess.processSentence(parse, Some(tags),
                                               addHalfCoarse = addHalfCoarse)
        def emit(listName: String, rs: Vector[Rel]): Iterator[TripleRow] =
          rs.iterator.map { r =>
            TripleRow(row.doc_id, row.sent_id, listName,
                      r.subj, r.pred, r.obj,
                      r.subjIdx, r.predIdx.get, r.objIdx)
          }
        emit("fine", rels.fine) ++ emit("coarse", rels.coarse) ++
          emit("amend_fine", rels.amendFine) ++ emit("amend_coarse", rels.amendCoarse) ++
          emit("possible", rels.possible) ++
          // ADD_HALF_COARSE families (empty under the shipped config —
          // schema parity with the reference's entry fields)
          emit("crossed", rels.crossed) ++ emit("amend_crossed", rels.amendCrossed)
      case (_, None) =>
        unparsedAcc.foreach(_.add(1))
        Iterator.empty
    }
  }

  // --------------------------------------------------------- entity link
  /** deterministic alias dictionary over the synthetic vocabulary
    * (modeled on the reference's entitylink.wikidict hook,
    * StanfordCoreNLP.py:139). Small by construction → broadcast side. */
  def synthAliases(spark: SparkSession): Dataset[AliasRow] = {
    import spark.implicits._
    val surfaces = (Templates.persons ++ Templates.orgs ++ Templates.places).distinct
    val rows = surfaces.zipWithIndex.flatMap { case (s, i) =>
      val id = f"E$i%05d"
      // identity alias + a 'title' alias variant for persons
      AliasRow(s, id, s) +: (if (Templates.persons.contains(s)) Seq(AliasRow(s + "先生", id, s)) else Nil)
    }
    spark.createDataset(rows)
  }

  /** canonicalization: broadcast-join both argument slots against the
    * alias dictionary; unmatched surfaces keep their form with null
    * entity ids. Zero shuffles (both joins broadcast). */
  def canonicalize(triples: Dataset[TripleRow], aliases: Dataset[AliasRow]): DataFrame = {
    val subjDict = broadcast(aliases.toDF("alias", "subj_entity_id", "subj_canonical"))
    val objDict = broadcast(aliases.toDF("alias", "obj_entity_id", "obj_canonical"))
    triples.toDF()
      .join(subjDict, triples("subj") === subjDict("alias"), "left").drop("alias")
      .join(objDict, triples("obj") === objDict("alias"), "left").drop("alias")
      .withColumn("subj_canonical", coalesce(col("subj_canonical"), col("subj")))
      .withColumn("obj_canonical", coalesce(col("obj_canonical"), col("obj")))
  }

  // ------------------------------------------------------------- edges
  /** entailment-graph edge table: predicates co-occurring on the same
    * canonicalized argument pair → (pred_src, pred_dst, weight).
    *
    * Skew handling: hot argument pairs (copula-family predicates
    * concentrate mass) are capped at `maxPredsPerPair` distinct predicates
    * (deterministic top-k by support then lexicographic) BEFORE the
    * pairwise expansion, bounding the per-group blowup at k² regardless of
    * input skew. The pairwise expansion itself is a local flatMap over the
    * grouped list — not a self-join — so the plan is:
    * shuffle(groupBy pair+pred) → window(same partitioning) →
    * shuffle(groupBy src,dst). */
  def entailmentEdges(canonical: DataFrame, maxPredsPerPair: Int = 32,
                      saltBuckets: Int = 8): DataFrame =
    edgesFromPairPred(pairPredAggregate(canonical), maxPredsPerPair, saltBuckets)

  /** Stage 1 of the edge build: the (arg pair, pred) SUPPORT aggregate.
    * This is the incrementally-maintainable half — supports are pure
    * counts, so a new corpus slice's aggregate folds in by summation
    * ([[mergePairPred]]) without rescanning the triple history. The
    * top-k cap and pairwise expansion (stage 2) are NOT additive (a
    * predicate can enter or leave a pair's top-k as supports grow), so
    * they are always re-derived from the merged aggregate — which is
    * triples-sized ÷ dedup factor, a tiny fraction of the corpus. */
  def pairPredAggregate(canonical: DataFrame): DataFrame =
    canonical
      .filter(col("subj_canonical").isNotNull && col("obj_canonical").isNotNull)
      .groupBy(col("subj_canonical").as("arg_s"), col("obj_canonical").as("arg_o"), col("pred"))
      .agg(count(lit(1)).as("support"))

  /** fold a NEW slice's pair-pred aggregate into the maintained one
    * (plain additive merge: one shuffle over the two aggregates). The
    * delta must come from NEW docs only — overlap handling is upstream
    * ([[mergeSliceIncrement]]). */
  def mergePairPred(existing: DataFrame, delta: DataFrame): DataFrame =
    existing.unionByName(delta)
      .groupBy(col("arg_s"), col("arg_o"), col("pred"))
      .agg(sum(col("support")).as("support"))

  /** the deterministic top-k cap per argument pair (salted two-phase
    * under skew) shared by the edge and edge-weight derivations.
    * saltBuckets > 1 selects the salted variant for skewed corpora:
    * phase 1 takes top-k within (pair, hash(pred) % S) — bounding any
    * single window partition to ~1/S of a hot pair's predicates —
    * phase 2 merges the ≤ k·S survivors. Result is identical to the
    * unsalted plan (row_number ordering is total: support desc, pred
    * asc). */
  private[graft] def cappedPairPred(pairPred: DataFrame, maxPredsPerPair: Int,
                                    saltBuckets: Int): DataFrame = {
    val spark = pairPred.sparkSession
    import spark.implicits._
    val preCapped =
      if (saltBuckets <= 1) pairPred
      else {
        val wSalt = Window.partitionBy($"arg_s", $"arg_o", $"salt")
          .orderBy($"support".desc, $"pred")
        pairPred
          .withColumn("salt", pmod(xxhash64($"pred"), lit(saltBuckets.toLong)))
          .withColumn("rk", row_number().over(wSalt))
          .filter($"rk" <= maxPredsPerPair)
          .drop("rk", "salt")
      }
    val w = Window.partitionBy($"arg_s", $"arg_o").orderBy($"support".desc, $"pred")
    preCapped
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= maxPredsPerPair)
      .drop("rk")
  }

  /** Stage 2 of the edge build: deterministic top-k cap per argument
    * pair (salted two-phase under skew) + local pairwise expansion +
    * final edge aggregation. See [[entailmentEdges]] for the plan notes. */
  def edgesFromPairPred(pairPred: DataFrame, maxPredsPerPair: Int = 32,
                        saltBuckets: Int = 8): DataFrame =
    edgesFromCapped(cappedPairPred(pairPred, maxPredsPerPair, saltBuckets))

  /** THE shared-argument-pair evidence core behind every edge and weight
    * surface. `slice` names the graph-key columns of the capped table:
    * Nil for the untyped graph, (type_s, type_o) for the per-type-pair
    * graphs. For every unordered predicate pair (pred_a < pred_b) that
    * co-occurs on at least one capped argument pair of a slice:
    *
    *   - `shared_pairs`  |pairs(a) ∩ pairs(b)|
    *   - `w_min`         Σ_shared min(support_a, support_b)
    *   - `w_a`/`w_b`     Σ_shared support_a / support_b
    *
    * Plan: one grouped shuffle on slice ++ (arg_s, arg_o), one local
    * flatMap over each group's (pred, support)-sorted list with i < j —
    * never a self-join, so per-group work is bounded at k² — and one
    * aggregation. The capped table holds one row per (arg pair, pred). */
  private def sharedEvidence(capped: DataFrame, slice: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val keys = slice.map(col)
    val k = slice.length
    val pairRows = StructType(slice.map(capped.schema(_)) ++ Seq(
      StructField("pred_a", StringType), StructField("pred_b", StringType),
      StructField("s_a", LongType), StructField("s_b", LongType)))
    capped
      .groupBy(keys ++ Seq(col("arg_s"), col("arg_o")): _*)
      .agg(collect_list(struct(col("pred"), col("support"))).as("preds"))
      .select(keys :+ col("preds"): _*)
      .flatMap { row =>
        val key = (0 until k).map(row.get)
        val preds = row.getSeq[Row](k).map(p => (p.getString(0), p.getLong(1))).sorted
        for { i <- preds.indices.iterator; j <- (i + 1) until preds.length }
          yield Row.fromSeq(key ++ Seq(preds(i)._1, preds(j)._1, preds(i)._2, preds(j)._2))
      }(org.apache.spark.sql.Encoders.row(pairRows))
      .groupBy(keys ++ Seq(col("pred_a"), col("pred_b")): _*)
      .agg(count(lit(1)).as("shared_pairs"),
           sum(least(col("s_a"), col("s_b"))).as("w_min"),
           sum(col("s_a")).as("w_a"), sum(col("s_b")).as("w_b"))
  }

  /** the co-occurrence edge table over an already-capped pair-pred
    * table: the evidence core's unordered pairs, min-support weight. */
  private[graft] def edgesFromCapped(capped: DataFrame): DataFrame =
    sharedEvidence(capped, Nil).select(col("pred_a").as("pred_src"),
      col("pred_b").as("pred_dst"), col("w_min").as("weight"),
      col("shared_pairs").as("n_arg_pairs"))

  /** both directions of every evidence-core pair — one narrow `explode`,
    * shared counts are symmetric, the scores are not — with the
    * per-(slice, pred) marginals `n_pairs` (argument pairs) and `w_total`
    * (Σ support) joined on each side. Marginal joins shuffle on pred —
    * pred-cardinality-sized, AQE broadcasts them when small. */
  private def directed(capped: DataFrame, slice: Seq[String]): DataFrame = {
    val keys = slice.map(col)
    def dir(src: String, dst: String) = struct(col(s"pred_$src").as("pred_src"),
      col(s"pred_$dst").as("pred_dst"), col(s"w_$src").as("w_src"),
      col(s"w_$dst").as("w_dst"))
    val marg = capped.groupBy(keys :+ col("pred"): _*)
      .agg(count(lit(1)).as("n_pairs"), sum(col("support")).as("w_total"))
    def side(s: String) = marg.select(keys ++ Seq(col("pred").as(s"pred_$s"),
      col("n_pairs").as(s"n_${s}_pairs"), col("w_total").as(s"w_${s}_total")): _*)
    sharedEvidence(capped, slice)
      .select(keys ++ Seq(col("shared_pairs"),
        explode(array(dir("a", "b"), dir("b", "a"))).as("d")): _*)
      .select(keys ++ Seq(col("d.*"), col("shared_pairs")): _*)
      .join(side("src"), slice :+ "pred_src")
      .join(side("dst"), slice :+ "pred_dst")
  }

  /** the count battery (cond_ppm = P(dst | src), log-free PMI ratio) of
    * [[directed]] rows against the per-slice total of argument pairs.
    * The totals table is slice-cardinality-sized and broadcast; for the
    * unsliced graph it is one row, joined as a broadcast crossJoin (the
    * SimilarityOps codebook pattern). Products ride DECIMAL(38,0). */
  private def countBattery(capped: DataFrame, slice: Seq[String]): DataFrame = {
    val keys = slice.map(col)
    val tot = broadcast(capped.select(keys ++ Seq(col("arg_s"), col("arg_o")): _*)
      .distinct().groupBy(keys: _*).agg(count(lit(1)).as("total_pairs")))
    val d = directed(capped, slice)
    (if (slice.isEmpty) d.crossJoin(tot) else d.join(tot, slice))
      .select(keys ++ Seq(col("pred_src"), col("pred_dst"), col("shared_pairs"),
        col("n_src_pairs"), col("n_dst_pairs"),
        expr("""cast((cast(shared_pairs as decimal(38,0)) * 1000000)
               |  div n_src_pairs as long)""".stripMargin).as("cond_ppm"),
        expr("""cast((cast(shared_pairs as decimal(38,0)) * total_pairs * 1000000)
               |  div (cast(n_src_pairs as decimal(38,0)) * n_dst_pairs) as long)"""
          .stripMargin).as("pmi_ppm")): _*)
  }

  /** the capped table, pinned. Every weight derivation fans the capped
    * table out to several consumers (pair expansion, per-pred marginals,
    * the total), and the run book and the stream path also feed the
    * edges and the typed battery from it. No two of those subtrees share
    * an identical exchange, so Spark's static exchange reuse cannot
    * dedupe them — without materialization the whole agg+cap subtree
    * re-executes per consumer (audited in PLANS.md). The capped table is
    * BOUNDED (≤ k rows per argument pair, pairpred-sized ÷ cap), so a
    * `localCheckpoint` — the GraphOps iteration pattern — trades that
    * re-execution for one bounded in-memory/disk materialization. The
    * defaults are THE cap of the run book ([[RunBook.graphStages]]) and the
    * stream path (`StreamingOps.writeEdgeSurfaces`). Loss story: lineage
    * is truncated, so a lost executor mid-derivation fails the job
    * instead of recomputing (same documented tradeoff as GraphOps'
    * default mode); the run book and the fold re-derive from the
    * checkpointed `canonical`/`pairpred` parquet on the next run, the
    * stream replays the uncommitted batch. */
  private[graft] def cappedCheckpointed(pairPred: DataFrame, maxPredsPerPair: Int = 32,
                                        saltBuckets: Int = 8,
                                        materialize: Boolean = true): DataFrame =
    pinned(cappedPairPred(pairPred, maxPredsPerPair, saltBuckets), materialize)

  /** `localCheckpoint(eager = false)` when `materialize`. CONSTRUCTION-EAGER
    * under AQE: localCheckpoint goes through queryExecution.toRdd, which
    * materializes the adaptive query stages when the DataFrame is BUILT
    * (eager = false only skips the final count job — measured in-repo;
    * AQE exchange reuse does NOT substitute, because each consumer prunes
    * different columns and the exchanges never canonicalize equal). That
    * is fine at every call site: the builders are invoked where execution
    * is imminent, and runStageDF's RESUME path never constructs a stage
    * thunk at all (it reads the stage under its recorded schema). */
  private def pinned(df: DataFrame, materialize: Boolean): DataFrame =
    if (materialize) df.localCheckpoint(eager = false) else df

  /** The entailment-graph LOCAL WEIGHT surface — the directional scores a
    * downstream EntGraph build consumes (the reference defers graph
    * construction to its EntGraph_Zh successor, README.md:52-56; this is
    * the local-similarity half that repo derives from exactly this
    * co-occurrence evidence). For every ordered predicate pair that
    * shares at least one capped argument pair:
    *
    *   - `shared_pairs`           |pairs(src) ∩ pairs(dst)|
    *   - `n_src_pairs`/`n_dst_pairs`  |pairs(src)|, |pairs(dst)|
    *   - `cond_ppm`  = ⌊shared · 10⁶ / n_src⌋           — P(dst | src)
    *     over the argument-pair space (DIRT/Berant-style directional
    *     conditional; asymmetric by construction)
    *   - `pmi_ppm`   = ⌊shared · total · 10⁶ / (n_src · n_dst)⌋ — the
    *     PMI ratio in log-free exact fixed point (PMI's log is monotone,
    *     so ranking/thresholding downstream is unchanged and the value
    *     stays bit-reproducible in any engine; products ride
    *     DECIMAL(38,0) — long arithmetic would wrap at petascale counts)
    *
    * All marginals are computed over the SAME capped pair-pred table as
    * [[edgesFromPairPred]] (the cap is the skew contract), so weights and
    * edges describe one consistent evidence space. Like the edge build,
    * this is re-derived from the additive `pairpred` aggregate — counts
    * fold in by summation ([[mergePairPred]]), the cap/marginals are
    * non-additive and always recomputed from the merged aggregate, which
    * is triples-sized ÷ dedup factor, a tiny fraction of the corpus.
    *
    * Plan shape: [[edgeWeightsFromCapped]] over this call's own cap,
    * pinned by default ([[cappedCheckpointed]]: the evidence core, the
    * per-pred marginals and the one-row total all read it;
    * `materializeCapped = false` restores the pure-lazy plan). The run
    * book does not call this builder: [[RunBook.graphStages]] caps once and
    * derives this surface, the edges and the typed battery from that one
    * pinned table. */
  def edgeWeightsFromPairPred(pairPred: DataFrame, maxPredsPerPair: Int = 32,
                              saltBuckets: Int = 8,
                              materializeCapped: Boolean = true): DataFrame =
    edgeWeightsFromCapped(cappedCheckpointed(pairPred, maxPredsPerPair,
      saltBuckets, materializeCapped))

  /** the weight derivation over an already-capped (ideally pinned)
    * pair-pred table — lets a caller that also needs the other surfaces
    * ([[RunBook.graphStages]], `StreamingOps.writeEdgeSurfaces`) derive them all
    * from one capped materialization instead of re-running the cap per
    * surface. */
  private[graft] def edgeWeightsFromCapped(capped: DataFrame): DataFrame =
    countBattery(capped, Nil)

  /** The SUPPORT-WEIGHTED sibling of [[edgeWeightsFromPairPred]]: the
    * distributional-inclusion score battery downstream EntGraph builds
    * actually rank with, where each shared argument pair contributes its
    * occurrence weight (`support`), not 1. For every ordered predicate
    * pair over the same capped space:
    *
    *   - `w_shared_src`/`w_src_total`/`w_dst_total`  Σ support of src
    *     over shared pairs / over all src pairs / over all dst pairs
    *   - `weeds_ppm` = ⌊10⁶ · w_shared_src / w_src_total⌋ — weighted
    *     Weeds precision (directional inclusion: how much of src's
    *     evidence mass lives where dst also occurs)
    *   - `lin_ppm`   = ⌊10⁶ · Σ_{shared}(w_src+w_dst) /
    *     (w_src_total + w_dst_total)⌋ — Lin-style shared-mass similarity
    *   - `binc_ppm`  = ⌊√(weeds_ppm · lin_ppm)⌋ — the Szpektor–Dagan
    *     balanced-inclusion combination, via the exact integer sqrt
    *     (floor ± 1 correction, [[graft.ops.TextOps.isqrt]]) so the
    *     value is bit-portable; the product is ≤ 10¹² < 2⁵²
    *
    * All rational scores ride DECIMAL(38,0) products — exact at
    * petascale support counts. Same additive-fold contract as the
    * unweighted surface: supports fold by summation in `pairpred`
    * ([[mergePairPred]]); cap, marginals and scores are recomputed from
    * the merged aggregate. Plan shape: the [[directed]] rows of the
    * unsliced graph — no scalar, equi-joins only. */
  def edgeWeightsSupport(pairPred: DataFrame, maxPredsPerPair: Int = 32,
                         saltBuckets: Int = 8,
                         materializeCapped: Boolean = true): DataFrame =
    directed(cappedCheckpointed(pairPred, maxPredsPerPair, saltBuckets,
        materializeCapped), Nil)
      .withColumn("weeds_ppm",
        expr("""cast((cast(w_src as decimal(38,0)) * 1000000)
               |  div w_src_total as long)""".stripMargin))
      .withColumn("lin_ppm",
        expr("""cast(((cast(w_src as decimal(38,0)) + w_dst) * 1000000)
               |  div (w_src_total + w_dst_total) as long)""".stripMargin))
      .select(col("pred_src"), col("pred_dst"), col("shared_pairs"),
        col("w_src").as("w_shared_src"), col("w_src_total"), col("w_dst_total"),
        col("weeds_ppm"), col("lin_ppm"),
        graft.ops.TextOps.isqrt(col("weeds_ppm") * col("lin_ppm")).as("binc_ppm"))

  // ------------------------------------------- typed entailment subgraphs
  /** one row per NER mention the annotator emits for a sentence — the
    * label side of the typed-subgraph evidence join (the reference keeps
    * these labels per entry, main_ner.py:9-41; [[nerPosTable]] keeps only
    * the surfaces, so this is the label-bearing projection, produced
    * through the same pluggable [[SentenceAnnotator]] boundary with the
    * same connection-per-partition / bounded-batch contract). */
  final case class MentionLabelRow(doc_id: String, sent_id: Int,
                                   word: String, label: String)

  def mentionLabelTable(sentences: Dataset[SentenceRow],
                        annotator: SentenceAnnotator = FixtureAnnotator,
                        batchSize: Int = 64): Dataset[MentionLabelRow] = {
    import sentences.sparkSession.implicits._
    batched(sentences, annotator, batchSize, "annotator")(annotator.annotate) { (row, ann) =>
      NerPos.nerPosPerSentence(row.sent, Seq(ann)).mentions
        .map(m => MentionLabelRow(row.doc_id, row.sent_id, m.word, m.label))
    }
  }

  /** the ADDITIVE type-evidence aggregate behind the typed entailment
    * subgraphs: per (canonical entity, NER label), how many linked
    * mentions carry that label. Entity-link mentions ([[Mentions.detect]]
    * / `detectJoin`) meet annotator labels ([[mentionLabelTable]]) on the
    * exact (doc, sentence, surface) key — one equi-join, both sides
    * mention-sized. Counts fold by summation ([[mergeTypeEvidence]]), the
    * same incremental contract as `pairpred`. */
  def entityTypeEvidence(mentions: Dataset[Mentions.MentionRow],
                         labels: Dataset[MentionLabelRow]): DataFrame =
    mentions.toDF()
      .select(col("doc_id"), col("sent_id"), col("mention").as("word"),
              col("canonical"))
      .join(labels.toDF(), Seq("doc_id", "sent_id", "word"))
      .groupBy(col("canonical"), col("label").as("ent_type"))
      .agg(count(lit(1)).as("n_mentions"))

  /** the type evidence of a sentence table: its entity-link mentions
    * ([[Mentions.detect]] over `aliases`) ⋈ its annotator labels
    * ([[mentionLabelTable]]) — the ONE chain the one-shot run, the fold,
    * the stream and the typed queries build their typed battery from. */
  def typeEvidence(sentences: Dataset[SentenceRow], aliases: Dataset[AliasRow]): DataFrame =
    entityTypeEvidence(Mentions.detect(sentences, aliases), mentionLabelTable(sentences))

  /** fold a fresh slice's type-evidence aggregate into the maintained one
    * (plain additive merge — the [[mergePairPred]] twin). */
  def mergeTypeEvidence(existing: DataFrame, delta: DataFrame): DataFrame =
    existing.unionByName(delta)
      .groupBy(col("canonical"), col("ent_type"))
      .agg(sum(col("n_mentions")).as("n_mentions"))

  /** the (non-additive) type ASSIGNMENT: each canonical entity takes its
    * modal mention label, deterministic tie-break (count desc, label
    * asc) — recomputed from the merged evidence aggregate on every fold,
    * exactly like the pair-pred cap (a label can overtake as evidence
    * grows, so assignment is never folded). */
  def entityTypesFromEvidence(evidence: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("canonical"))
      .orderBy(col("n_mentions").desc, col("ent_type"))
    evidence.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("canonical"), col("ent_type"))
  }

  /** the pair-pred aggregate with its argument TYPES attached — the
    * evidence space of the per-type-pair entailment graphs. Entities
    * without label evidence type as `defaultType` (common-noun arguments
    * — most of the space). Two dimension joins on the argument columns;
    * the type table is entity-cardinality-sized (AQE broadcasts it when
    * small; at dictionary scale it shuffles like any dimension join). */
  def typedPairPred(pairPred: DataFrame, entityTypes: DataFrame,
                    defaultType: String = "OTHER"): DataFrame =
    pairPred
      .join(entityTypes.select(col("canonical").as("arg_s"),
              col("ent_type").as("type_s")), Seq("arg_s"), "left")
      .join(entityTypes.select(col("canonical").as("arg_o"),
              col("ent_type").as("type_o")), Seq("arg_o"), "left")
      .withColumn("type_s", coalesce(col("type_s"), lit(defaultType)))
      .withColumn("type_o", coalesce(col("type_o"), lit(defaultType)))

  /** TYPED entailment-graph local weights — the Hosseini/Berant
    * formulation the downstream EntGraph build actually constructs
    * (/root/reference/README.md:52-56 defers to EntGraph_Zh, which builds
    * ONE graph per argument-type pair): the directional conditional +
    * log-free PMI battery of [[edgeWeightsFromCapped]], computed WITHIN
    * each (type_s, type_o) slice. Because an entity has exactly one
    * assigned type, the typed slices PARTITION the capped pair space —
    * the cap itself is identical to the untyped surface (same skew
    * contract, same evidence rows); only the marginals and totals are
    * keyed by the slice. Plan shape: the cap, then [[typedFromCapped]]
    * (the two dimension joins onto the capped rows, then the untyped
    * battery's [[countBattery]] keyed by (type_s, type_o); the per-slice
    * totals table is type-pair-cardinality-sized and broadcast). Typing
    * after the cap is exact because the cap ranks within (arg_s, arg_o)
    * and an argument's type is a function of the argument — PRECONDITION:
    * `entityTypes` holds at most one row per `canonical`
    * ([[entityTypesFromEvidence]] guarantees it; a second row would
    * duplicate the capped rows of that argument). Same fold contract:
    * `pairpred` and the type evidence fold additively,
    * cap/assignment/marginals recompute from the merged aggregates. */
  def typedEdgeWeights(pairPred: DataFrame, entityTypes: DataFrame,
                       maxPredsPerPair: Int = 32, saltBuckets: Int = 8,
                       materializeCapped: Boolean = true,
                       defaultType: String = "OTHER"): DataFrame =
    typedFromCapped(cappedPairPred(pairPred, maxPredsPerPair, saltBuckets),
      entityTypes, materializeCapped, defaultType)

  /** the typed battery over an already-capped pair-pred table. The type
    * dimension is joined TWICE in [[typedPairPred]] (arg_s and arg_o
    * sides) and the two join subtrees never canonicalize to a shared
    * exchange — without a pin the whole evidence derivation behind
    * `entityTypes` (mention detect ⋈ annotator labels → additive
    * aggregate → assignment window) executes once PER SIDE (r9 plan
    * audit), so the entity-cardinality-bounded type table is pinned.
    * The typed rows feed three consumers inside [[countBattery]], so
    * they are pinned too — the same bounded table as the cap. The
    * untyped `capped` is not pinned here: the typed join is its only
    * consumer. */
  private[graft] def typedFromCapped(capped: DataFrame, entityTypes: DataFrame,
                                     materialize: Boolean = true,
                                     defaultType: String = "OTHER"): DataFrame =
    countBattery(pinned(typedPairPred(capped, pinned(entityTypes, materialize),
      defaultType), materialize), Seq("type_s", "type_o"))

  /** the SPARSIFIED consumption surface downstream EntGraph globalization
    * reads: top-K entailment candidates per source predicate by balanced
    * inclusion (deterministic tie-break binc desc, dst asc), from the
    * [[edgeWeightsSupport]] battery. Window-rank-per-group — each group
    * sorts locally inside its exchange partition (the per-group
    * TakeOrderedAndProject shape); there is never a global sort. */
  def edgesTopK(weights: DataFrame, k: Int = 8): DataFrame =
    topK(weights, Seq("pred_src"), "binc_ppm", k)

  /** the TYPED twin of [[edgesTopK]]: downstream EntGraph globalization
    * consumes each per-argument-type-pair graph separately, so the
    * sparsification ranks within the (type_s, type_o, pred_src) group of
    * the [[typedEdgeWeights]] surface (by conditional ppm — the typed
    * battery's directional score — tie-break cond desc, dst asc). */
  def typedEdgesTopK(typedWeights: DataFrame, k: Int = 8): DataFrame =
    topK(typedWeights, Seq("type_s", "type_o", "pred_src"), "cond_ppm", k)

  /** the one top-K window behind both consumption surfaces: rank by
    * (score desc, pred_dst asc) within `group`, keep ranks ≤ k. */
  private def topK(weights: DataFrame, group: Seq[String], score: String,
                   k: Int): DataFrame = {
    val w = Window.partitionBy(group.map(col): _*)
      .orderBy(col(score).desc, col("pred_dst"))
    weights.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((group ++ Seq("pred_dst", score, "rank")).map(col): _*)
  }

  // ------------------------------------------------------------- metrics
  /** the reference's global stat dicts re-expressed as aggregations
    * (SURVEY.md §2.4): per-rule amendment counts + V_CMP complement bucket
    * (dudepparse.py:425-449, merge_dict :205-211 → partial/final agg is
    * free under Spark's map-side combine). */
  /** the un-aggregated per-sentence metric events — materialized by Verify
    * as an aux table so the driver's DuckDB oracle can re-aggregate and
    * hash-compare `extractionMetrics`. */
  def extractionMetricEvents(sentences: Dataset[SentenceRow]): DataFrame = {
    import sentences.sparkSession.implicits._
    sentences.mapPartitions { rows =>
      rows.flatMap { row =>
        FixtureParser.analyze(row.sent) match {
          case Some((parse, tags)) =>
            val (_, amendCounts, vcmpCounts) =
              PostProcess.processSentenceWithMetrics(parse, Some(tags))
            amendCounts.iterator.map { case (k, v) => ("amend_" + k, v.toLong) } ++
              vcmpCounts.iterator.map { case (k, v) => ("vcmp_" + k, v.toLong) }
          case None => Iterator(("unparsed_sentences", 1L))
        }
      }
    }.toDF("metric", "n")
  }

  def extractionMetrics(sentences: Dataset[SentenceRow]): DataFrame =
    extractionMetricEvents(sentences)
      .groupBy(col("metric")).agg(sum(col("n")).as("total"))

  // --------------------------------------------------------------- coref
  /** coref second pass (reference parse_coref, dudepparse.py:2005-2197):
    * substitute coref chains into sentences, re-extract, and keep ONLY
    * relations absent from the base pass (serialize_rel set difference).
    * Chains are deterministic fixtures (Coref.synthChains) exactly like
    * the parses; doc-local flatMap, zero shuffles. */
  /** per doc: every sentence the coref pass CHANGED, with the base and
    * corefed sentence-rel bundles — the shared core of [[corefTriples]]
    * (which emits the serialize-key diff) and [[corefRelTable]] (which
    * flattens BOTH sides for the relational oracle). */
  private def corefChanged(doc: Doc, addHalfCoarse: Boolean)
      : Iterator[(Int, graft.model.SentenceRels, graft.model.SentenceRels)] = {
    import graft.segment.Coref
    val sents = docSentences(doc)
    val chains = Coref.synthChains(sents)
    sents.zip(chains).zipWithIndex.iterator.flatMap { case ((sent, reps), sid) =>
      if (reps.isEmpty) Iterator.empty
      else {
        val corefed = Coref.substitute(sent, reps)
        if (corefed == sent) Iterator.empty // reference skips unchanged docs
        else baseAndCorefed(sent, corefed, addHalfCoarse).iterator
          .map { case (base, cor) => (sid, base, cor) }
      }
    }
  }

  /** a doc's text spans, segmented into its sentence sequence. */
  private def docSentences(doc: Doc): Vector[String] =
    doc.spans.iterator.filter(s => s.kind == "text" && s.text != null)
      .flatMap(s => Segmenter.segment(s.text)).toVector

  /** analyze a sentence and its corefed rewrite and extract both; None
    * when either cannot be analyzed. */
  private def baseAndCorefed(sent: String, corefed: String, addHalfCoarse: Boolean)
      : Option[(graft.model.SentenceRels, graft.model.SentenceRels)] =
    for ((bp, bt) <- FixtureParser.analyze(sent); (cp, ct) <- FixtureParser.analyze(corefed))
    yield (PostProcess.processSentence(bp, Some(bt), addHalfCoarse = addHalfCoarse),
           PostProcess.processSentence(cp, Some(ct), addHalfCoarse = addHalfCoarse))

  def corefTriples(docs: Dataset[Doc], addHalfCoarse: Boolean = false): Dataset[TripleRow] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { docIter =>
      docIter.flatMap { doc =>
        corefChanged(doc, addHalfCoarse).flatMap { case (sid, base, cor) =>
          emitCorefed(doc.doc_id, sid, base, cor)
        }
      }
    }
  }

  /** the coref pass's diff INPUTS as one flat keyed table: for every
    * changed sentence, the FULL base and corefed rel lists (side ∈
    * base|corefed, base-form list names) including the rule `tag` —
    * exactly the fields `Rel.serialize` keys on. [[corefTriples]]'s
    * output is then RELATIONALLY recomputable (corefed rows anti-joined
    * against base rows on doc/sent/list/tag/names/idxs), which is what
    * puts kg_coref under the driver's DuckDB oracle: Spark materializes
    * the two sides, the oracle independently recomputes the set diff. */
  final case class CorefRelRow(doc_id: String, sent_id: Int, side: String,
      rel_list: String, subj: Option[String], pred: Option[String],
      obj: Option[String], subj_idx: Option[Int], pred_idx: Option[Int],
      obj_idx: Option[Int], tag: String)

  def corefRelTable(docs: Dataset[Doc], addHalfCoarse: Boolean = false): Dataset[CorefRelRow] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { docIter =>
      docIter.flatMap { doc =>
        corefChanged(doc, addHalfCoarse).flatMap { case (sid, base, cor) =>
          def rows(side: String, sr: graft.model.SentenceRels) =
            Seq("fine" -> sr.fine, "coarse" -> sr.coarse,
                "amend_fine" -> sr.amendFine, "amend_coarse" -> sr.amendCoarse,
                "crossed" -> sr.crossed, "amend_crossed" -> sr.amendCrossed,
                "possible" -> sr.possible)
              .iterator.flatMap { case (nm, rels) =>
                rels.iterator.map(r => CorefRelRow(doc.doc_id, sid, side, nm,
                  r.names(0), r.names(1), r.obj, r.idxs(0), r.idxs(1),
                  r.objIdx, r.tag))
              }
          rows("base", base) ++ rows("corefed", cor)
        }
      }
    }
  }

  /** corefed-variant emission: the serialize-key set difference applied
    * to every relation family, incl. the (flag-gated) crossed lists —
    * reference dudepparse.py:2149-2167 builds *_corefed for all 7 lists. */
  private def emitCorefed(docId: String, sid: Int,
                          base: graft.model.SentenceRels,
                          cor: graft.model.SentenceRels): Iterator[TripleRow] = {
    import graft.segment.Coref
    def emit(name: String, b: Vector[Rel], c: Vector[Rel]) =
      Coref.newRels(b, c).iterator.map { r =>
        TripleRow(docId, sid, name, r.subj, r.pred, r.obj,
                  r.subjIdx, r.predIdx.get, r.objIdx)
      }
    emit("fine_corefed", base.fine, cor.fine) ++
      emit("coarse_corefed", base.coarse, cor.coarse) ++
      emit("amend_fine_corefed", base.amendFine, cor.amendFine) ++
      emit("amend_coarse_corefed", base.amendCoarse, cor.amendCoarse) ++
      emit("crossed_corefed", base.crossed, cor.crossed) ++
      emit("amend_crossed_corefed", base.amendCrossed, cor.amendCrossed) ++
      emit("possible_corefed", base.possible, cor.possible)
  }

  /** deterministic mock annotator for the synthetic corpus: tokenizes the
    * chunk's sentences and emits person↔pronoun chains (the fixture
    * stand-in for a CoreNLP coref call, like the parses). */
  def synthAnnotate(chunkSents: Vector[String]): graft.segment.CorefFetch.Ann = {
    import graft.segment.CorefFetch.{Ann, Chain, Mention}
    val persons = graft.synth.Templates.persons.toSet
    val toks = chunkSents.map(s => FixtureParser.tokenize(s).getOrElse(Vector(s)))
    val chains = Vector.newBuilder[Chain]
    var lastPerson = -1
    for (si <- chunkSents.indices) {
      val s = chunkSents(si)
      if (persons.exists(p => s.startsWith(p))) lastPerson = si
      else if (s.startsWith("他") && !s.startsWith("他们") && lastPerson >= 0)
        chains += Chain(Vector(Mention(lastPerson, 0, 1), Mention(si, 0, 1)), 0)
    }
    Ann(toks, chains.result())
  }

  /** coref second pass through the FULL front-end (chunk merge →
    * mock-annotate → fetch_coref alignment/substitution → re-extract →
    * set-diff) — the production-shaped path; `corefTriples` is the
    * direct-substitution fast path (equivalence tested). */
  def corefTriplesViaFetch(docs: Dataset[Doc], chunkThreshold: Int = 1536,
                           addHalfCoarse: Boolean = false): Dataset[TripleRow] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { docIter =>
      docIter.flatMap { doc =>
        val sents = docSentences(doc)
        synthFetch(sents, chunkThreshold).iterator.flatMap { chunks =>
          val corefedSents: Vector[Option[String]] = chunks.flatMap {
            case (None, (st, en)) => (st until en).map(_ => None: Option[String])
            case (Some(cs), _) => cs.map(Some(_))
          }
          corefedSents.zipWithIndex.iterator.flatMap {
            case (Some(corefed), sid) if corefed != sents(sid) =>
              baseAndCorefed(sents(sid), corefed, addHalfCoarse).iterator
                .flatMap { case (base, cor) => emitCorefed(doc.doc_id, sid, base, cor) }
            case _ => Iterator.empty
          }
        }
      }
    }
  }

  /** the synthetic coref front-end over one doc's sentences: chunk merge,
    * mock-annotate each chunk by INDEX (not text lookup — two chunks can
    * have equal text), fetch_coref alignment/substitution. Per chunk: its
    * corefed sentences (None = chunk failed) with its [start, end)
    * sentence range; None when the doc's coref failed. */
  private def synthFetch(sents: Vector[String], chunkThreshold: Int)
      : Option[Vector[(Option[Vector[String]], (Int, Int))]] = {
    import graft.segment.CorefFetch
    val (merged, offsets) = CorefFetch.mergeTexts(sents, chunkThreshold)
    val res = CorefFetch.fetchCoref(merged, offsets, sents,
      (ci, _) => synthAnnotate(sents.slice(offsets(ci)._1, offsets(ci)._2)))
    if (res.corefFailed) None else res.corefed.map(_.zip(offsets))
  }

  // ----------------------------------------- coref ⋈ nerpos (distributed)
  final case class NerPosRow(doc_id: String, sent_id: Int, sent: String,
                             mention_words: Seq[String], n_mentions: Int,
                             misplaced: Int)
  final case class CorefedSentence(doc_id: String, sent_id: Int, corefed: String)

  /** per-sentence NER/POS model-output table (reference main_ner.py:102-110
    * attaches these columns per sentence), produced through the pluggable
    * [[SentenceAnnotator]] seam ([[batched]]); a live deployment passes
    * [[HttpSentenceAnnotator]] pointed at its server (the reference's
    * client-per-slice shape, main_ner.py:76-82). */
  def nerPosTable(sentences: Dataset[SentenceRow],
                  annotator: SentenceAnnotator = FixtureAnnotator,
                  batchSize: Int = 64): Dataset[NerPosRow] = {
    import sentences.sparkSession.implicits._
    batched(sentences, annotator, batchSize, "annotator")(annotator.annotate) { (row, ann) =>
      val res = NerPos.nerPosPerSentence(row.sent, Seq(ann))
      Iterator.single(NerPosRow(row.doc_id, row.sent_id, row.sent,
                                res.mentions.map(_.word), res.mentions.length,
                                res.misplacedSpans))
    }
  }

  /** per-sentence corefed-text model-output table from the full coref
    * front-end (chunk merge → annotate → fetch_coref). Emits one row per
    * sentence of every successfully-corefed chunk. */
  def corefedSentenceTable(docs: Dataset[Doc], chunkThreshold: Int = 1536): Dataset[CorefedSentence] = {
    import docs.sparkSession.implicits._
    docs.flatMap { doc =>
      synthFetch(docSentences(doc), chunkThreshold).iterator.flatten.flatMap {
        case (Some(cs), (st, _)) =>
          cs.iterator.zipWithIndex.map { case (c, k) => CorefedSentence(doc.doc_id, st + k, c) }
        case (None, _) => Iterator.empty
      }
    }
  }

  /** the reference's in-entry assembly of the two model outputs
    * (main_ner.py:405-423 writes splitted_text_corefed next to the ner/pos
    * columns of the SAME entry) as a DISTRIBUTED equi-join on
    * (doc_id, sent_id) — the shape this stage has when coref and nerpos
    * are produced by separate jobs over separate slices. */
  def corefNerPosJoin(nerpos: Dataset[NerPosRow],
                      corefed: Dataset[CorefedSentence]): DataFrame =
    nerpos.toDF()
      .join(corefed.toDF().withColumnRenamed("corefed", "corefed_sent"),
            Seq("doc_id", "sent_id"), "left")

  // ----------------------------------------------------------- toy sample
  /** stable per-triple key for the deterministic toy sample — identical
    * expression on the DuckDB-oracle side (concat of all-coalesced
    * columns). The reference's toy sample sink used a wall-clock seed
    * (merge_parsed_results.py:76-78); a content-hash filter is
    * reproducible AND oracle-checkable. */
  def tripleSampleKey: org.apache.spark.sql.Column =
    concat_ws("|",
      col("doc_id"), col("sent_id").cast("string"), col("rel_list"),
      coalesce(col("subj"), lit("∅")), col("pred"), coalesce(col("obj"), lit("∅")),
      coalesce(col("subj_idx").cast("string"), lit("∅")),
      col("pred_idx").cast("string"),
      coalesce(col("obj_idx").cast("string"), lit("∅")))

  /** the ~1.2% (3/256) deterministic Bernoulli-style sample filter. */
  def toySampleFilter: org.apache.spark.sql.Column =
    substring(md5(tripleSampleKey), 1, 2) <= "02"

  // ------------------------------------------------------ span invariant
  /** the docs whose span sequence (kind, text, media_ref, order) differs
    * between the input docs table and a pipeline output docs table — the
    * [[spanInvariantReport]] rows not preserved. Must be empty — the
    * per-row invariant from the driver contract. */
  def spanInvariantViolations(docsIn: Dataset[Doc], docsOut: Dataset[Doc]): DataFrame =
    spanInvariantReport(docsIn, docsOut).filter(!col("preserved"))

  /** explode the docs table to one row per span and REASSEMBLE it —
    * a genuine distributed round trip (posexplode → shuffle on doc_id →
    * collect_list → order by (offset, original position)) of the span
    * sequences. The span-invariant query compares its output against the
    * input, so the invariant is checked through a real exchange, not row
    * identity. The positional tiebreak makes the round trip total even for
    * docs with DUPLICATE span offsets (e.g. re-split corpus-reader chunks
    * that share original-chunk lineage ids). */
  def reassembleDocs(docs: Dataset[Doc]): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    // posexplode_outer keeps docs whose span array is EMPTY (collect_list
    // skips the null span → empty array back), so the round trip is total
    docs.toDF()
      .select(col("doc_id"), posexplode_outer(col("spans")).as(Seq("pos", "span")))
      .groupBy(col("doc_id"))
      // collect_list skips NULLs, but struct(null-span) would not be null
      // — wrap in when() so the empty-array doc reassembles to []
      .agg(sort_array(collect_list(when(col("span").isNotNull,
        struct(col("span.offset").as("o"), col("pos").as("p"), col("span").as("s"))))).as("x"))
      .select(col("doc_id"), transform(col("x"), e => e("s")).as("spans"))
      .as[Doc]
  }

  /** per-doc span-invariant report (doc_id, preserved) — the positive form
    * used as a driver-visible query. */
  def spanInvariantReport(docsIn: Dataset[Doc], docsOut: Dataset[Doc]): DataFrame = {
    val a = docsIn.toDF("doc_id", "spans_in")
    val b = docsOut.toDF("doc_id", "spans_out")
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), (col("spans_in") <=> col("spans_out")).as("preserved"))
  }

  // ------------------------------------------------- fold root + pins
  /** the fold-root preconditions, callable BEFORE any corpus work — a
    * rejected --incremental invocation must not have scanned or written
    * anything (Main checks this up front; [[RunBook.incrementalFold]]
    * re-checks). */
  def validateFoldRoot(spark: SparkSession, root: String,
                       aliasSpec: Option[String] = None): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (st <- Seq("docs", "triples", "canonical"))
      require(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$st/_SUCCESS")),
        s"--incremental: $root/$st is not a completed stage — the out dir " +
          "must be an existing (non-coref) run root")
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/coref_triples/_SUCCESS")),
      s"--incremental: $root was built with --coref; folding base-only " +
        "extraction into a base+coref store would mix entry shapes — " +
        "rebuild coref roots with a one-shot run")
    // the fold canonicalizes its fresh slice under THIS dictionary; the
    // root's canonical store pins the dict it was built under (path +
    // content hash) in its meta fingerprint's `aliases=` segment — folding
    // under a DIFFERENT dict would silently mix two entity spaces into one
    // store, so mismatches refuse up front. Roots whose fingerprint
    // carries no `aliases=` segment (programmatic/test callers that manage
    // their own dict consistency) can't be verified and are allowed.
    aliasSpec.foreach { spec =>
      // the STORED pin may predate the marker: accept any legitimate
      // interpretation (the content hash inside the pin makes this safe)
      val rootSpec = new CheckpointStore(root, spark).stageFingerprint("canonical")
        .flatMap("aliases=([^,]*)".r.findFirstMatchIn(_))
        .map(m => pinInterpretations(m.group(1)))
      rootSpec.foreach { rss =>
        require(rss.exists(rs => aliasPinMatches(rs, spec)),
          s"--incremental: $root/canonical was built under aliases=${rss.head} " +
            s"but this fold specifies aliases=$spec — a changed dictionary " +
            "cannot fold into the same entity space; restore the original " +
            "dict or rebuild with a one-shot run")
      }
    }
  }

  /** do two alias-dictionary pins denote the same dictionary? Pins are
    * `<path>@x<contenthash>` (or `synth`); a pin written before content
    * hashing carries only the path and can only be compared by path —
    * both the batch fold root and the stream `_stream_config` use this
    * one rule (the caller re-stamps the legacy pin with the hashed form
    * on first match). The hash suffix is detected END-ANCHORED (`@x` +
    * hex at end of string), never by substring/first-'@': dictionary
    * paths legitimately contain '@' (user@host, s3a://key@bucket/) and
    * must compare whole. */
  private val HashedPin = "(?s)^(.*)@x[0-9a-f]+$".r

  /** alias pins ride inside comma-separated fingerprints whose later
    * segments (withCoref=, incremental) follow the pin: encode the two
    * structural characters so a dictionary path containing ',' (or '%')
    * can neither truncate the captured pin nor desync the decode. The
    * encoding is VERSIONED with an `e:` marker, and applied ONLY when
    * the pin actually needs it — a clean pin (no ','/'%', the
    * overwhelmingly common case) passes through RAW, so its stored
    * fingerprint is byte-identical across every code version and
    * `isComplete`'s literal comparison keeps resuming pre-encoding
    * roots (an unconditional marker would silently invalidate every
    * existing checkpoint root on upgrade). A pin that itself starts
    * with the marker is force-encoded so the round trip stays exact.
    * Legacy unmarked pins decode as identity — a literal '%2C' in a
    * raw path must read as itself — and readers that must also accept
    * the round-6 unmarked-but-encoded form go through
    * [[pinInterpretations]]. */
  private val EncodedPinMarker = "e:"
  private[graft] def encodePin(pin: String): String =
    if (pin.contains(',') || pin.contains('%') || pin.startsWith(EncodedPinMarker))
      EncodedPinMarker + pin.replace("%", "%25").replace(",", "%2C")
    else pin
  private[graft] def decodePin(enc: String): String =
    if (enc.startsWith(EncodedPinMarker))
      enc.stripPrefix(EncodedPinMarker).replace("%2C", ",").replace("%25", "%")
    else enc // legacy unversioned pin: identity, NEVER percent-decoded

  /** fingerprints compare LITERALLY ([[CheckpointStore.isComplete]]);
    * this normalizer maps the one version-dependent segment
    * (`aliases=<pin>`) to its decoded pin, so a root stamped by the
    * short-lived unconditional-marker code (`aliases=e:/clean/path@xh`)
    * still resumes under today's raw form instead of silently
    * recomputing. Safe even across the unmarked-encoded ambiguity: two
    * fingerprints can only normalize equal when their pins decode equal,
    * and a pin's content hash pins the dictionary ROWS — equal hash ⇒
    * equal canonicalization input regardless of how the path reads. */
  private[pipeline] def normalizeFingerprint(fp: String): String =
    "aliases=([^,]*)".r.replaceAllIn(fp, m =>
      scala.util.matching.Regex.quoteReplacement(
        "aliases=" + decodePin(m.group(1))))

  /** every reading a STORED pin may legitimately have: the current
    * decode, plus — for an unmarked pin carrying percent escapes — the
    * round-6 interpretation (that version encoded without the marker,
    * so its stored 'a%2Cb' meant 'a,b'). Accepting the extra reading is
    * safe ONLY because pins carry the dictionary's content hash, which
    * [[aliasPinMatches]] compares whole — so the alternative is offered
    * strictly for HASHED pins; a hashless legacy pin compares path-only,
    * where a wrong interpretation could match a genuinely different
    * dictionary file. */
  private[graft] def pinInterpretations(enc: String): Seq[String] = {
    val cur = decodePin(enc)
    if (!enc.startsWith(EncodedPinMarker) &&
        HashedPin.pattern.matcher(enc).matches() &&
        (enc.contains("%2C") || enc.contains("%25")))
      Seq(cur, enc.replace("%2C", ",").replace("%25", "%"))
    else Seq(cur)
  }

  def aliasPinMatches(prev: String, cur: String): Boolean = {
    def hashed(pin: String) = HashedPin.pattern.matcher(pin).matches()
    def path(pin: String) = pin match { case HashedPin(p) => p; case other => other }
    if (hashed(prev) && hashed(cur)) prev == cur
    else path(prev) == path(cur)
  }
}
