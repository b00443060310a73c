package graft.pipeline

import graft.synth.{FixtureParser, Templates}

/** Pluggable sentence-annotation boundary — one of the two live-NLP
  * [[ModelConnection]] seams (the reference's CoreNLP client, requests
  * issued per document, main_ner.py:76-82). */
trait SentenceAnnotator extends ModelConnection {
  /** annotate a batch; MUST return exactly one token sequence per input
    * sentence, aligned by index. */
  def annotate(sentences: Seq[String]): Seq[Seq[NerPos.AnnToken]]
}

/** the deterministic in-sandbox annotator: tokens from the fixture
  * tokenizer, entity labels from the synthetic vocabulary, char spans by
  * walking the surface — the fixture stand-in for the CoreNLP call that
  * the differential batteries pin down. */
object FixtureAnnotator extends SentenceAnnotator {
  // label vocabularies built once per JVM, not once per sentence
  private val persons = Templates.persons.toSet
  private val orgs = Templates.orgs.toSet
  private val places = Templates.places.toSet

  def annotate(sentences: Seq[String]): Seq[Seq[NerPos.AnnToken]] =
    sentences.map(annTokens)

  private[pipeline] def annTokens(sent: String): Seq[NerPos.AnnToken] = {
    val toks = FixtureParser.tokenize(sent).getOrElse(Vector(sent))
    var off = 0
    toks.map { w =>
      val ner = if (persons(w)) "PERSON" else if (orgs(w)) "ORGANIZATION"
                else if (places(w)) "GPE" else "O"
      val begin = sent.indexOf(w, off)
      val b = if (begin >= 0) begin else off
      off = b + w.length
      NerPos.AnnToken(w, "X", ner, b, b + w.length)
    }
  }
}

/** a concrete remote-server client for the annotator seam: POSTs one
  * JSON batch per `annotate` call ([[HttpBatch]]) and decodes the aligned
  * reply — the shape a CoreNLP-server adapter takes (the real server's
  * field names differ; an adapter maps `characterOffsetBegin/End` →
  * `begin/end`).
  *
  * Wire contract (documented, mock-served in PipelineSpec):
  *   request  {"sentences": ["…", …]}
  *   response {"sentences": [[{"word":…,"pos":…,"ner":…,
  *                             "begin":N,"end":N}, …], …]}
  * Every token field is required with its type: a null or string offset
  * fails loudly instead of becoming char 0. `timeoutMs` mirrors the
  * reference client's 90 s default (main_ner.py:80). */
final class HttpSentenceAnnotator(endpoint: String, timeoutMs: Long = 90000L)
    extends SentenceAnnotator {
  def annotate(sentences: Seq[String]): Seq[Seq[NerPos.AnnToken]] = {
    val out = HttpBatch.post(endpoint, timeoutMs, "annotator", "sentences", sentences)
    (0 until out.size()).map { i =>
      val toks = out.get(i)
      require(toks.isArray, s"annotator reply sentence[$i] is not an array: $toks")
      (0 until toks.size()).map { j =>
        val t = toks.get(j)
        def field(name: String, ok: com.fasterxml.jackson.databind.JsonNode => Boolean,
                  kind: String) = {
          val v = t.get(name)
          require(v != null && ok(v),
            s"annotator reply token[$i][$j] '$name' is not $kind: $v")
          v
        }
        def text(name: String) = field(name, _.isTextual, "a string").asText()
        def int(name: String) = field(name, _.canConvertToInt, "an integer").asInt()
        NerPos.AnnToken(text("word"), text("pos"), text("ner"), int("begin"), int("end"))
      }
    }
  }
}
