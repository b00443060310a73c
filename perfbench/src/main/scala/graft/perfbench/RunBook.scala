package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.{CheckpointStore, Mentions, Pipeline}
import graft.sources.CorpusReaders

/** `graft.Main --reader webhose` replayed through the same public calls,
  * in the same order (Main → `Pipeline.runFromDocs`), so each stage can
  * be timed on its own. With a tracer, every stage span holds a `compute`
  * child (the stage's plan into a `noop` sink) and a `checkpoint` child
  * (the `CheckpointStore` call the run book makes, which computes again
  * and writes). Without one, the calls run exactly as in Main. */
final class RunBook(spark: SparkSession, input: String, out: String,
                    tracer: Option[Tracer]) {
  import spark.implicits._

  private val fp = s"reader=webhose,input=$input"
  private val store = new CheckpointStore(out, spark,
    fingerprint = s"$fp,aliases=${Pipeline.encodePin("synth")},withCoref=false")

  private def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))

  /** one run-book stage; the compute pass runs only when traced and only
    * when the stage is not already complete (a resumed stage reads back). */
  private def stage[T](name: String, plan: => DataFrame)(checkpoint: => T): T =
    span(s"pipeline.$name") {
      if (tracer.isDefined && !store.isComplete(name))
        span("compute")(plan.write.format("noop").mode("overwrite").save())
      span("checkpoint")(checkpoint)
    }

  private lazy val reader = span("sources.CorpusReaders.readWebhose") {
    new CheckpointStore(out, spark).recoverFoldCrash()
    CorpusReaders.readWebhose(spark, input).cached()
  }
  private lazy val docsIn = CorpusReaders.toDocs(reader.docs)

  /** `cached()` only marks the reader's output, so the first job on it —
    * the `docs` checkpoint, as in Main — scans the corpus and fills the
    * cache. The compute pass reads through its own, uncached reader, so
    * it leaves that cost where the untraced run pays it. */
  private def uncachedDocs = CorpusReaders.toDocs(CorpusReaders.readWebhose(spark, input).docs)

  lazy val docs = stage("docs", uncachedDocs.toDF()) {
    new CheckpointStore(out, spark, fingerprint = fp).runStage("excluded")(reader.excluded)
    store.recoverFoldCrash()
    store.runStage("docs", bucketCol = Some("doc_id"))(docsIn)
  }
  lazy val sentences = stage("sentences", Pipeline.segmentDocs(docs).toDF()) {
    store.runStage("sentences", Seq("docs"))(Pipeline.segmentDocs(docs))
  }
  lazy val triples = stage("triples", Pipeline.extractTriples(sentences).toDF()) {
    store.runStage("triples", Seq("sentences"), bucketCol = Some("doc_id"))(
      Pipeline.extractTriples(sentences))
  }

  /** reader → docs → sentences → triples in Main's order, each stage
    * forced before the next opens its span, so no span nests another. */
  private def extraction(): Unit = { reader; docs; sentences; triples }

  /** docs → triples: Main up to the end of the extraction half. */
  def extractionHalf(): Unit = { extraction(); reader.uncache() }

  /** the rest of Main on a root whose extraction half is complete:
    * canonical → edges → both weight tables → stats.json. */
  def derivationHalf(): Unit = {
    extraction()
    val dict = Pipeline.synthAliases(spark)
    val canon = stage("canonical", Pipeline.canonicalize(triples, dict)) {
      store.runStageDF("canonical", Seq("triples"), bucketCol = Some("doc_id"))(
        Pipeline.canonicalize(triples, dict))
    }
    val edges = stage("edges", Pipeline.entailmentEdges(canon)) {
      store.runStageDF("edges", Seq("canonical"), bucketCol = Some("pred_src"))(
        Pipeline.entailmentEdges(canon))
    }
    def weights = Pipeline.edgeWeightsFromPairPred(Pipeline.pairPredAggregate(canon))
    stage("edge_weights", weights) {
      store.runStageDF("edge_weights", Seq("canonical"), bucketCol = Some("pred_src"))(weights)
    }
    def typed = Pipeline.typedEdgeWeights(Pipeline.pairPredAggregate(canon),
      Pipeline.entityTypesFromEvidence(Pipeline.entityTypeEvidence(
        Mentions.detect(sentences, dict), Pipeline.mentionLabelTable(sentences))))
    stage("typed_edge_weights", typed) {
      store.runStageDF("typed_edge_weights", Seq("canonical"), bucketCol = Some("pred_src"))(typed)
    }
    reader.uncache()
    span("pipeline.stats")(RunBook.writeStats(spark, out, docs.count(), edges.count(), canon))
  }
}

object RunBook {
  /** Main's stats.json, byte for byte (`Main.writeStatsJson` is private). */
  def writeStats(spark: SparkSession, out: String, nDocs: Long, nEdges: Long,
                 triples: DataFrame): Unit = {
    val totals = triples.groupBy("rel_list").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      .map { case (k, n) => s"""    "$k": $n""" }
    val stats =
      s"""{
         |  "docs": $nDocs,
         |  "edges": $nEdges,
         |  "rel_totals": {
         |${totals.mkString(",\n")}
         |  }
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "stats.json"), stats.getBytes(UTF_8))
  }

  def main(input: String, out: String, extra: String*): Unit =
    graft.Main.main(Array("--reader", "webhose", "--input", input, "--out", out) ++ extra)

  /** the `rows` a stage's completion meta records. */
  def metaRows(out: String, stage: String): Long = {
    val p = java.nio.file.Paths.get(out, stage, "_graft_meta.json")
    if (!java.nio.file.Files.exists(p)) 0L
    else """"rows":(\d+)""".r.findFirstMatchIn(Checks.readText(p)).map(_.group(1).toLong).getOrElse(0L)
  }
}
