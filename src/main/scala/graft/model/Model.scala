package graft.model

/** Core value types of the KG-construction engine.
  *
  * Data model re-derived from the reference pipeline's JSONL entry shapes
  * (see /root/reference/dudepparse.py:56-76 for the relation tuple shape and
  * /root/reference/dudepparse.py:1888-1899 for the per-sentence inputs).
  * Schema-first: every stage has a fixed case-class schema instead of the
  * reference's dynamic JSON dicts.
  */

/** One token of a dependency parse. `head` is 1-based, 0 = root
  * (DDParser convention, reference dudepparse.py:460 example). */
final case class Tok(word: String, head: Int, deprel: String)

/** A full dependency parse of one sentence: three aligned arrays
  * (reference `ddp_lbls` field, dudepparse.py:1946). */
final case class DepParse(
    words: IndexedSeq[String],
    heads: IndexedSeq[Int],
    deprels: IndexedSeq[String]) {
  def length: Int = words.length
  def toks: IndexedSeq[Tok] =
    words.indices.map(i => Tok(words(i), heads(i), deprels(i)))
}

/** One argument slot of a raw extractor relation: (token index from 0,
  * surface string). Reference shape `[S_id, S]` (extract.py:131). */
final case class Arg(idx: Int, surface: String)

/** Raw extractor output: n-ary argument list + tag.
  * Tag ∈ {SVO, DOB, ATT_N, ADV_V, V_CMP, F, Phrase}; arity 1-4.
  * Reference shape `(([S_id,S],[V_id,V],[O_id,O]), 'SVO')`. */
final case class RawRel(args: List[Option[Arg]], tag: String)

/** Reformatted relation — the shape all amendment rules and the output
  * serialization operate on: parallel surface-name and index lists.
  * Reference shape `((S,V,O), tag, (S_id,V_id,O_id))`
  * (dudepparse.py:57-76). Arity 3 for SVO, 4 for DOB, 2 for pair rels,
  * 1 for Phrase. */
final case class Rel(names: Vector[Option[String]], tag: String, idxs: Vector[Option[Int]]) {
  def subj: Option[String] = names(0)
  def pred: String = names(1).getOrElse("")
  def obj: Option[String] = if (names.length > 2) names(2) else None
  def subjIdx: Option[Int] = idxs(0)
  def predIdx: Option[Int] = idxs(1)
  def objIdx: Option[Int] = if (idxs.length > 2) idxs(2) else None

  /** Dedup key, mirroring reference `serialize_rel` (dudepparse.py:41-46). */
  def serialize: String = {
    require(names.length == 3 && idxs.length == 3, s"serialize on arity ${names.length}")
    def n(o: Option[String]) = o.map(_.toString).getOrElse("None")
    def i(o: Option[Int]) = o.map(_.toString).getOrElse("None")
    s"${n(names(0))}::${n(names(1))}::${n(names(2))}::::$tag::::${i(idxs(0))}::${i(idxs(1))}::${i(idxs(2))}"
  }
}

object Rel {
  def svo(s: Option[String], v: String, o: Option[String],
          si: Option[Int], vi: Int, oi: Option[Int], tag: String = "SVO"): Rel =
    Rel(Vector(s, Some(v), o), tag, Vector(si, Some(vi), oi))
}

/** Per-sentence extraction result bundle — the relation lists the
  * reference attaches to each document entry (dudepparse.py:1944-1951),
  * here per sentence (every rule in the reference is per-sentence).
  * `crossed`/`amendCrossed` are the ADD_HALF_COARSE half-projection lists
  * (dudepparse.py:1722,1774-1783) — empty under the reference's shipped
  * config, populated when processSentence runs with addHalfCoarse=true. */
final case class SentenceRels(
    fine: Vector[Rel],
    coarse: Vector[Rel],
    amendFine: Vector[Rel],
    amendCoarse: Vector[Rel],
    possible: Vector[Rel],
    crossed: Vector[Rel] = Vector.empty,
    amendCrossed: Vector[Rel] = Vector.empty)

/** One span of an interleaved text+media document (driver input_hint
  * schema). kind ∈ {text, image, audio, video, ...}; text is the
  * sentence-bearing payload for kind='text'; media_ref is null for text
  * spans; offset is the monotonically increasing order key. */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** An input document row: interleaved text + media spans. */
final case class Doc(doc_id: String, spans: Seq[Span])

/** A sentence produced by segmentation, keyed back to its document and
  * source span (lineage for the span-sequence invariant). */
final case class SentenceRow(doc_id: String, span_offset: Int, sent_id: Int, sent: String)

/** A sentence plus its (fixture-provided) parse and POS tags — exactly the
  * reference's `--ready_ddp 1` operating mode (dudepparse.py:1891-1899)
  * where the parse is input data, not computation. */
final case class SentenceCtx(
    doc_id: String,
    sent_id: Int,
    sent: String,
    toks: Seq[Tok],
    pos_tags: Map[String, Seq[String]])

/** One output triple row (the engine's canonical triple table). `rel_list`
  * ∈ {fine, coarse, amend_fine, amend_coarse, possible}. */
final case class TripleRow(
    doc_id: String,
    sent_id: Int,
    rel_list: String,
    subj: Option[String],
    pred: String,
    obj: Option[String],
    subj_idx: Option[Int],
    pred_idx: Int,
    obj_idx: Option[Int])

/** Alias-dictionary row for the entity-linking stage (modeled on the
  * reference's CoreNLP `entitylink.wikidict` hook,
  * StanfordCoreNLP.py:139). */
final case class AliasRow(alias: String, entity_id: String, canonical: String)
