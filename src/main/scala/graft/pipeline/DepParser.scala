package graft.pipeline

import graft.model.DepParse
import graft.synth.FixtureParser
import scala.jdk.CollectionConverters._

/** Pluggable dependency-parse boundary — one of the two live-NLP
  * [[ModelConnection]] seams. Extraction runs over the parser's
  * (word, head, deprel) columns plus the separately attached CoreNLP POS
  * map (main_ner.py:36-40). A per-sentence `None` means "the parser
  * cannot analyze this sentence" (the reference prints and skips such
  * mismatches, dudepparse.py:1894-1897) — recorded in the caller's
  * unparsed accumulator, never silently dropped. */
trait DepParser extends ModelConnection {
  /** parse a batch; MUST return exactly one result per input sentence,
    * aligned by index. None = sentence the parser cannot analyze. The
    * result pairs the dependency parse with the sentence's POS-tag map
    * (word → tags — the reference's corenlp_pos_tags shape,
    * main_ner.py:36-40). */
  def parse(sentences: Seq[String]): Seq[Option[(DepParse, Map[String, Seq[String]])]]
}

/** the deterministic in-sandbox parser: template-recovered fixtures, the
  * stand-in for DDParser inference that the differential batteries pin
  * down exact against the reference. */
object FixtureDepParser extends DepParser {
  def parse(sentences: Seq[String]): Seq[Option[(DepParse, Map[String, Seq[String]])]] =
    sentences.map(FixtureParser.analyze)
}

/** a concrete remote-server client for the parser seam: POSTs one JSON
  * batch per `parse` call ([[HttpBatch]]) and decodes the aligned reply —
  * the shape a DDParser-server adapter takes (a real server wraps
  * `DDParser.parse_seg`/`parse` and emits its word/head/deprel columns
  * verbatim; dudepparse.py:1899 consumes exactly those three).
  *
  * Wire contract (documented, mock-served in PipelineSpec):
  *   request  {"sentences": ["…", …]}
  *   response {"parses": [{"word":[…], "head":[…], "deprel":[…],
  *                         "pos": {"<word>": ["<tag>", …], …}}
  *                        | null, …]}
  * `null` marks a sentence the server cannot parse; `pos` is the
  * sentence's word → POS-tags map (the reference's corenlp_pos_tags
  * entry shape), absent or null when the server tags nothing.
  * word/head/deprel must be equal-length. Every field is required with
  * its type — a number where a word or tag belongs, or a `pos` that is
  * not an object of string arrays, fails loudly instead of being coerced
  * to text or read as no tags. `timeoutMs` mirrors the reference
  * client's 90 s default (main_ner.py:80). */
final class HttpDepParser(endpoint: String, timeoutMs: Long = 90000L)
    extends DepParser {
  def parse(sentences: Seq[String]): Seq[Option[(DepParse, Map[String, Seq[String]])]] = {
    val out = HttpBatch.post(endpoint, timeoutMs, "parser", "parses", sentences)
    (0 until out.size()).map { i =>
      val node = out.get(i)
      if (node == null || node.isNull) None
      else {
        // strict: asText() would render a number or an object as a word
        def texts(a: com.fasterxml.jackson.databind.JsonNode, what: String) =
          (0 until a.size()).map { j =>
            val v = a.get(j)
            require(v.isTextual, s"parser reply $what[$j] is not a string: $v")
            v.asText()
          }
        def strings(field: String): IndexedSeq[String] = {
          val a = node.get(field)
          require(a != null && a.isArray, s"parser reply missing array '$field'")
          texts(a, s"'$field'")
        }
        val words = strings("word")
        val headsNode = node.get("head")
        require(headsNode != null && headsNode.isArray,
          "parser reply missing array 'head'")
        // strict: asInt() would silently coerce a malformed head (null,
        // string, object) to 0 = ROOT, attaching every word to the root
        // without an error — exactly the silent-wrong-attachment mode
        // this boundary promises to fail loudly on
        val heads = (0 until headsNode.size()).map { j =>
          val h = headsNode.get(j)
          require(h != null && h.canConvertToInt,
            s"parser reply head[$j] is not an integer: $h")
          h.asInt()
        }
        val deprels = strings("deprel")
        require(words.length == heads.length && words.length == deprels.length,
          s"parser reply ragged: ${words.length} words, ${heads.length} heads, " +
            s"${deprels.length} deprels")
        val posNode = node.get("pos")
        val pos: Map[String, Seq[String]] =
          if (posNode == null || posNode.isNull) Map.empty
          else {
            require(posNode.isObject, s"parser reply 'pos' is not an object: $posNode")
            posNode.properties().asScala.map { e =>
              val what = s"'pos' of '${e.getKey}'"
              require(e.getValue.isArray, s"parser reply $what is not an array: ${e.getValue}")
              e.getKey -> texts(e.getValue, what)
            }.toMap
          }
        Some((DepParse(words, heads, deprels), pos))
      }
    }
  }
}
