package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.pipeline.Pipeline
import graft.sources.CorpusReaders

/** Layers the two workloads do not run end to end, measured in their
  * traced runs: the incremental fold and the `SparkEntry.queries` pass. */
object Extras {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `graft.Main --incremental` of `slice` into the complete root `out`
    * (the span `fold.main`), then probes of the fold's phases: the same
    * public calls `Pipeline.incrementalFold` makes, each run on its own
    * into a `noop` sink. Probes are attributable costs, not a partition
    * of the fold's wall time. */
  def fold(spark: SparkSession, t: Tracer, slice: String, out: String): Unit = {
    t.span("fold.main")(RunBook.main(slice, out, "--incremental"))
    val dict = Pipeline.synthAliases(spark)
    def history(stage: String) = spark.read.parquet(s"$out/$stage").drop("_bucket")
    t.span("fold.validate")(Pipeline.validateFoldRoot(spark, out, Some("synth")))
    val sliceDocs = CorpusReaders.toDocs(CorpusReaders.readWebhose(spark, slice).docs)
    val sliceTriples = Pipeline.extractTriples(Pipeline.segmentDocs(sliceDocs))
    t.span("fold.slice_extract")(noop(sliceTriples.toDF()))
    t.span("fold.history_scan")(noop(Seq("docs", "triples", "canonical")
      .map(history(_).select(col("doc_id")).distinct()).reduce(_ union _)))
    val merged = Pipeline.mergePairPred(Pipeline.pairPredAggregate(history("canonical")),
      Pipeline.pairPredAggregate(Pipeline.canonicalize(sliceTriples, dict)))
    t.span("fold.pairpred_merge")(noop(merged))
    // the typed battery the fold also re-derives is left out of this
    // probe; its cost shows as pipeline.typed_edge_weights
    t.span("fold.derive") {
      noop(Pipeline.edgesFromPairPred(merged))
      noop(Pipeline.edgeWeightsFromPairPred(merged))
    }
  }

  /** query name → the layer it exercises. */
  def family(q: String): String = q match {
    case "kg_cooc_components" | "kg_cooc_full" | "kg_entity_rank" | "kg_entity_rank_full" => "ops.GraphOps"
    case q if q.startsWith("kg_") => "pipeline.kg"
    case q if q.startsWith("dedup_") => "ops.DedupOps"
    case q if q.startsWith("ann_") => "ops.SimilarityOps"
    case q if q.startsWith("text_") => "ops.TextOps"
    case q if q.startsWith("mm_") => "ops.MultimodalOps"
    case "q_sessionize" | "q_stream_windows" => "streaming.StreamingOps"
    case _ => "SparkEntry.sql"
  }

  val Families: Seq[String] = Seq("ops.DedupOps", "ops.TextOps", "ops.SimilarityOps",
    "ops.GraphOps", "ops.MultimodalOps", "streaming.StreamingOps", "pipeline.kg", "SparkEntry.sql")

  /** the eight queries that took longest in a warm local[4] pass. */
  val Slowest: Seq[String] = Seq("dedup_cross_verify", "dedup_clusters",
    "kg_typed_edge_weights_incr", "dedup_embed_clusters", "kg_entity_rank_full",
    "kg_typed_edges_topk", "kg_entity_rank", "dedup_ngram")

  /** every query but the `src_*` reader queries, which write their
    * fixtures to a fixed path outside the working directory. */
  def queryNames: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.filterNot(_.startsWith("src_")).sorted

  /** one pass: each query built and counted inside its own span.
    * Returns name → row count, -1 for a query that threw. */
  def queries(spark: SparkSession, t: Tracer, dir: String): Map[String, Long] = {
    queryNames.map { q =>
      q -> t.span(s"query.$q") {
        try graft.SparkEntry.queries(q)(spark, dir).count()
        catch { case e: Exception =>
          System.err.println(s"[perfbench] query $q failed: $e"); -1L }
      }
    }.toMap
  }
}
