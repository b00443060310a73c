package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types._
import graft.segment.Segmenter

/** Corpus-specific JSONL readers — the reference's three preprocessing
  * mains re-expressed as schema-first Spark sources
  * (/root/reference/preprocess_corpus.py:166-355):
  *
  *  - webhose  (main_webhose, :166-236): one JSON object per line with a
  *    `text` payload (the reference reads one file per article; JSONL is
  *    the same payload shape line-per-article), keyed by `uuid`;
  *  - clue     (main_clue, :238-315): JSONL keyed `news_id`, payload in
  *    `content`;
  *  - newsspike (main_newsspike, :318-370): JSONL arriving PRE-split
  *    (`splitted_text` + `split_mapping`); the reader re-splits and
  *    THREADS the persisted mapping through (re-chunked articles keep
  *    original-chunk lineage).
  *
  * Every reader emits the same preprocessed-doc table and an excluded-docs
  * side output (entries whose admitted-sentence list is empty — the
  * reference's *_excluded.jsonl sink, :219-224 — or whose id is missing
  * or empty). Schema-first reads (no
  * inference pass over 100 TB); one narrow map per doc, no shuffle.
  */
object CorpusReaders {

  /** preprocessed document row: sentences + per-sentence original-chunk
    * lineage (the reference's `splitted_text` / `split_mapping` fields). */
  final case class PreprocessedDoc(doc_id: String,
                                   splitted_text: Vector[String],
                                   split_mapping: Vector[Int])

  /** an entry routed to the excluded sink (no admissible sentences, or no
    * id). */
  final case class ExcludedDoc(doc_id: String, raw_text: String)

  /** concrete routed row — Spark cannot encode/deserialize the abstract
    * `Either` across a persist boundary, so the shared map carries an
    * Option pair instead (exactly one side set). */
  final case class Routed(ok: Option[PreprocessedDoc], ex: Option[ExcludedDoc])

  final case class ReaderOutput(docs: Dataset[PreprocessedDoc],
                                excluded: Dataset[ExcludedDoc],
                                private[sources] val routed: Option[Dataset[Routed]] = None) {
    /** persist the SHARED routed dataset both views derive from, so
      * consuming docs AND excluded costs one scan+segmentation pass.
      * Call `uncache()` when both sinks are written. */
    def cached(): ReaderOutput = { routed.foreach(_.persist()); this }
    def uncache(): ReaderOutput = { routed.foreach(_.unpersist()); this }
  }

  /** split → normalize → admit-or-exclude, shared by all readers. An
    * entry without an id (missing or empty) is excluded unsegmented: two
    * such entries would share the doc_id `''` and merge downstream. */
  def preprocess(docId: String, chunks: Seq[String],
                 mapping: Option[Seq[Int]] = None): Either[ExcludedDoc, PreprocessedDoc] = {
    val normed =
      if (docId.isEmpty) Vector.empty
      else Segmenter.tokNormWithMapping(
        Segmenter.splitStr(chunks, mapping.getOrElse(chunks.indices)))
    if (normed.isEmpty) Left(ExcludedDoc(docId, chunks.mkString("。")))
    else Right(PreprocessedDoc(docId, normed.map(_._1), normed.map(_._2)))
  }

  /** NOTE: `docs` and `excluded` are two views over one routed map —
    * consuming BOTH runs the scan + segmentation twice unless the caller
    * persists (`ReaderOutput.cached`) or consumes only one. At corpus
    * scale, prefer `cached()` inside one job that writes both sinks. */
  private def split[I](input: Dataset[I])(f: I => Either[ExcludedDoc, PreprocessedDoc]): ReaderOutput = {
    val spark = input.sparkSession
    import spark.implicits._
    val routed = input.map { i =>
      f(i) match {
        case Right(d) => Routed(Some(d), None)
        case Left(e) => Routed(None, Some(e))
      }
    }
    ReaderOutput(
      docs = routed.flatMap(_.ok),
      excluded = routed.flatMap(_.ex),
      routed = Some(routed))
  }

  /** the keyed-text readers' one core: JSON records keyed by `idCol`
    * whose payload is the `textCol` string (other fields, e.g. the
    * title, are not read); `perFile` parses each file under `path`
    * (recursively) as one multi-line record. */
  private def readKeyedText(spark: SparkSession, path: String, idCol: String,
                            textCol: String, perFile: Boolean = false): ReaderOutput = {
    import spark.implicits._
    val schema = StructType(Seq(StructField(idCol, StringType), StructField(textCol, StringType)))
    val reader =
      if (perFile) spark.read.option("multiLine", true).option("recursiveFileLookup", "true")
      else spark.read
    val raw = reader.schema(schema).json(path)
      .na.fill("", Seq(idCol, textCol))
      .as[(String, String)]
    split(raw) { case (id, text) => preprocess(id, Seq(text)) }
  }

  /** webhose articles: `{uuid, title, text}` JSONL; payload = text
    * (preprocess_corpus.py:195 reads data_entry['text']). */
  def readWebhose(spark: SparkSession, path: String): ReaderOutput =
    readKeyedText(spark, path, "uuid", "text")

  /** webhose DIRECTORY mode — the reference's actual on-disk layout: one
    * JSON object per article file in a nested directory tree, read with
    * json.load per file (preprocess_corpus.py:166-194). Payload and
    * routing are identical to the JSONL shape (CorpusReaderSpec proves
    * dir mode == JSONL mode on equal payloads). */
  def readWebhoseDir(spark: SparkSession, dir: String): ReaderOutput =
    readKeyedText(spark, dir, "uuid", "text", perFile = true)

  /** clue news2016zh: `{news_id, title, content}` JSONL; payload = content
    * (preprocess_corpus.py:273). */
  def readClue(spark: SparkSession, path: String): ReaderOutput =
    readKeyedText(spark, path, "news_id", "content")

  /** newsspike: pre-split `{id, splitted_text, split_mapping}` JSONL; the
    * persisted mapping is threaded through the re-split so every emitted
    * sentence keeps its ORIGINAL chunk id (preprocess_corpus.py:342-355). */
  def readNewsspike(spark: SparkSession, path: String): ReaderOutput = {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("splitted_text", ArrayType(StringType)),
      StructField("split_mapping", ArrayType(IntegerType))))
    val raw = spark.read.schema(schema).json(path)
      .na.fill("", Seq("id"))
      .as[(String, Seq[String], Seq[Int])]
    split(raw) { case (id, chunks0, mapping0) =>
      val chunks = Option(chunks0).getOrElse(Seq.empty)
      val mapping = Option(mapping0).getOrElse(chunks.indices.toSeq)
      preprocess(id, chunks, Some(mapping))
    }
  }

  /** per-doc routing report — the driver-visible surface of a reader:
    * which field became doc_id, which entries were excluded, how many
    * sentences were admitted, and the max original-chunk lineage id
    * (newsspike's split_mapping threads through visibly). ONE pass over
    * the shared routed dataset (not a union of the two views, which
    * would scan + segment the corpus twice). */
  def routingReport(out: ReaderOutput): org.apache.spark.sql.DataFrame = {
    val spark = out.docs.sparkSession
    import spark.implicits._
    def okRow(d: PreprocessedDoc) =
      (d.doc_id, "ok", d.splitted_text.length,
       if (d.split_mapping.isEmpty) -1 else d.split_mapping.max)
    val rows = out.routed match {
      case Some(r) => r.map { row =>
        row.ok.map(okRow)
          .orElse(row.ex.map(e => (e.doc_id, "excluded", 0, -1)))
          .get // exactly one side is set by construction
      }
      case None => // ReaderOutput assembled without the shared map
        out.docs.map(okRow).union(out.excluded.map(e => (e.doc_id, "excluded", 0, -1)))
    }
    rows.toDF("doc_id", "status", "n_sentences", "max_chunk")
  }

  /** preprocessed docs → the engine's interleaved-docs contract: one text
    * span per admitted sentence, offset = original-chunk lineage (media-
    * free corpora). Feeds RunBook.runFromDocs so a reference user can
    * run their corpus through the full checkpointed pipeline. */
  def toDocs(docs: Dataset[PreprocessedDoc]): Dataset[graft.model.Doc] = {
    import docs.sparkSession.implicits._
    docs.map { d =>
      graft.model.Doc(d.doc_id,
        d.splitted_text.zip(d.split_mapping).map {
          case (s, chunk) => graft.model.Span("text", s, null, chunk)
        })
    }
  }
}
