package graft.amend

import graft.model.{DepParse, RawRel, Rel, SentenceRels}
import graft.extract.{DepTree, Extractor}

/** Post-extraction pipeline: reformat → n-ary split → token normalize →
  * amendments → stopword filters → negation marking → SVO-only pruning →
  * coarsification. Faithful port of the reference's `post_processing`
  * (/root/reference/dudepparse.py:1718-1786), restructured per-sentence
  * (every reference step is per-sentence; document grouping there is pure
  * list plumbing).
  */
object PostProcess {

  /** raw extractor shape → (names, tag, idxs) shape
    * (reference reformat_cur_rels, dudepparse.py:56-76). */
  def reformat(rels: Seq[RawRel]): Vector[Rel] =
    rels.map { raw =>
      val names = raw.args.map(_.map(_.surface)).toVector
      val idxs = raw.args.map(_.map(_.idx)).toVector
      Rel(names, raw.tag, idxs)
    }.toVector

  /** DOB 4-ary → two SVO binaries + the original DOB kept
    * (reference translate_nary_to_binaries, dudepparse.py:235-249). */
  def translateNaryToBinaries(rels: Vector[Rel]): Vector[Rel] =
    rels.flatMap { rel =>
      if (rel.tag != "DOB") Vector(rel)
      else {
        val r1 = Rel(Vector(rel.names(0), rel.names(1), rel.names(2)), "SVO",
                     Vector(rel.idxs(0), rel.idxs(1), rel.idxs(2)))
        val r2 = Rel(Vector(rel.names(0), rel.names(1), rel.names(3)), "SVO",
                     Vector(rel.idxs(0), rel.idxs(1), rel.idxs(3)))
        Vector(r1, r2, rel)
      }
    }

  /** strip '·' from SVO predicates (reference Token_Normalizer with
    * remove_from_args=False, dudepparse.py:335-375). */
  def tokenNormalize(rels: Vector[Rel]): Vector[Rel] =
    rels.map { rel =>
      if (rel.tag == "SVO" && rel.names(1).exists(_.contains("·")))
        rel.copy(names = rel.names.updated(1, rel.names(1).map(_.replace("·", ""))))
      else rel
    }

  /** stopword / digit / length / Chinese-char triple filter (reference
    * filter_triples_stopwords, dudepparse.py:267-332). Includes the
    * reference's subject-retested-in-object-branch quirk (line 310). */
  def filterTriplesStopwords(rels: Vector[Rel], argLenThreshold: Int = 20,
                             mustIncludeChinese: Boolean = true): Vector[Rel] = {
    import Amender.{stopWordList, noChineseChar}
    def allDigits(s: String): Boolean =
      s != null && s.nonEmpty && s.forall(c => (c >= '0' && c <= '9') || c == '.')

    rels.flatMap { rel =>
      if (rel.tag != "SVO") Some(rel)
      else {
        val subj = rel.names(0).orNull
        val pred = rel.names(1).getOrElse("")
        val obj = rel.names(2).orNull
        var skip = false
        var subjNull = false
        var objNull = false

        if (subj != null && subj.length > argLenThreshold) skip = true
        if (subj != null && stopWordList.contains(subj)) skip = true
        else if (allDigits(subj) || (mustIncludeChinese && noChineseChar(subj))) skip = true
        else if (subj != null && subj.trim.isEmpty) subjNull = true

        if (obj != null && obj.length > argLenThreshold) skip = true
        if (obj != null && stopWordList.contains(obj)) skip = true
        // QUIRK (spec): the reference re-tests the SUBJECT's Chinese-ness
        // here (dudepparse.py:310), not the object's.
        else if (allDigits(obj) || (mustIncludeChinese && noChineseChar(subj))) skip = true
        else if (obj != null && obj.trim.isEmpty) objNull = true

        if (pred.trim.isEmpty) skip = true
        if (subjNull && objNull) skip = true

        if (skip) None
        else if (subjNull && rel.names(2).nonEmpty)
          Some(Rel(Vector(None, rel.names(1), rel.names(2)), rel.tag,
                   Vector(None, rel.idxs(1), rel.idxs(2))))
        else if (objNull && rel.names(0).nonEmpty)
          Some(Rel(Vector(rel.names(0), rel.names(1), None), rel.tag,
                   Vector(rel.idxs(0), rel.idxs(1), None)))
        else Some(rel)
      }
    }
  }

  /** negation marking: odd count of negating ADV/CMP dependents across the
    * predicate's morphemes → '否·' prefix (reference check_nct,
    * dudepparse.py:1550-1594; the tense/modal/copular conversions are
    * disabled there and omitted here). */
  def checkNct(rels: Vector[Rel], r: DepParse): Vector[Rel] = {
    if (rels.isEmpty) return rels
    import Amender.{negAdvList, negCmpList}
    val n = r.length
    // ancestors-including-self per token as a bitmask (sentences are
    // short; >64 tokens falls back to the direct walk) — replaces the
    // reference's per-(rel, token) head-path walk (dudepparse.py:1538-47)
    val masks: Array[Long] =
      if (n <= 64) {
        val m = new Array[Long](n)
        def maskOf(i: Int): Long = {
          if (m(i) != 0L) m(i)
          else {
            val h = r.heads(i)
            val v = (1L << i) | (if (h == 0) 0L else maskOf(h - 1))
            m(i) = v
            v
          }
        }
        (0 until n).foreach(maskOf)
        m
      } else null
    def onPath(desc: Int, ante: Int): Boolean =
      if (masks != null) ((masks(desc) >>> ante) & 1L) == 1L
      else Amender.traceAntecedent(desc, ante, r)

    rels.map { rel =>
      if (rel.tag != "SVO") rel
      else {
        val hedIdx = rel.idxs(1).get
        val vbToks = rel.pred.split("·", -1).toSet
        val hedWord = r.words(hedIdx)
        val vbIdxsFrom1 = scala.collection.mutable.BitSet.empty
        var tokId = 0
        while (tokId < n) {
          if (onPath(tokId, hedIdx)) {
            if ((vbToks.contains(r.words(tokId)) && r.words(tokId) != hedWord) || tokId == hedIdx)
              vbIdxsFrom1 += (tokId + 1)
          }
          tokId += 1
        }
        var negCount = 0
        tokId = 0
        while (tokId < n) {
          if (vbIdxsFrom1.contains(r.heads(tokId)) &&
              ((r.deprels(tokId) == "ADV" && negAdvList.contains(r.words(tokId))) ||
               (r.deprels(tokId) == "CMP" && negCmpList.contains(r.words(tokId)))))
            negCount += 1
          tokId += 1
        }
        if (negCount % 2 == 1)
          rel.copy(names = rel.names.updated(1, Some("否·" + rel.pred)))
        else rel
      }
    }
  }

  /** ---- dormant reference capabilities, flag-gated (the reference ships
    * these conversions disabled: CONVERT_COPULAR/TENSE/MODAL = False,
    * dudepparse.py:1551-1553; ported faithfully for completeness and
    * switched off by default to match live output). ---- */

  private val pastMts = Set("了", "过")
  private val pastAdvs = Set("曾经", "曾", "从前", "以前", "昨天", "上周", "近日", "去年")
  private val futureAdvs = Set("将", "将要", "将会", "必将", "明天", "下周", "明年", "后天")
  private val modalMap = Map(
    "能" -> "能", "能够" -> "能", "该" -> "该", "应该" -> "该", "会" -> "会", "要" -> "要",
    "需要" -> "要", "敢" -> "敢", "敢于" -> "敢", "可以" -> "能", "必须" -> "要", "肯" -> "会")
  private val copPredSetNct = Set(
    "是", "也是", "就是", "而是", "正是", "才是", "都是", "仍是", "既是", "又是", "却是", "只是",
    "算是", "竟是", "便是", "无疑是", "乃是", "并且是")

  /** tense detection over the predicate head's ADV/MT dependents
    * (reference check_rel_pred_tense, dudepparse.py:1489-1516). */
  def predTense(rel: Rel, r: DepParse): String = {
    val headFrom1 = rel.idxs(1).get + 1
    var past = false; var future = false
    for (tok <- r.words.indices if r.heads(tok) == headFrom1) {
      if (r.deprels(tok) == "ADV") {
        if (futureAdvs.contains(r.words(tok))) future = true
        if (pastAdvs.contains(r.words(tok))) past = true
      } else if (r.deprels(tok) == "MT" && pastMts.contains(r.words(tok))) past = true
    }
    if (future) "future" else if (past) "past" else "present"
  }

  /** modal markers over the predicate head's ADV dependents
    * (reference check_rel_pred_modal, dudepparse.py:1519-1535). */
  def predModal(rel: Rel, r: DepParse): Option[String] = {
    val headFrom1 = rel.idxs(1).get + 1
    val modals = scala.collection.mutable.LinkedHashSet.empty[String]
    for (tok <- r.words.indices
         if r.heads(tok) == headFrom1 && r.deprels(tok) == "ADV")
      modalMap.get(r.words(tok)).foreach(modals += _)
    if (modals.isEmpty) None else Some(modals.map(m => s"【$m】").mkString)
  }

  /** the conversions the reference gates off: copular fold
    * (obj absorbed into pred), tense prefix 【过去式】/【将来式】, modal
    * prefix (dudepparse.py:1598-1653). Apply AFTER negation marking. */
  def convertNct(rels: Vector[Rel], r: DepParse,
                 copular: Boolean = false, tense: Boolean = false,
                 modal: Boolean = false): Vector[Rel] = {
    var out = rels
    if (copular) out = out.map { rel =>
      if (rel.tag == "SVO" && copPredSetNct.contains(rel.pred) && rel.names(2).nonEmpty)
        Rel(Vector(rel.names(0), Some(rel.pred + "·" + rel.names(2).get), None), rel.tag, rel.idxs)
      else rel
    }
    if (tense) out = out.map { rel =>
      if (rel.tag != "SVO") rel
      else predTense(rel, r) match {
        case "past" => rel.copy(names = rel.names.updated(1, Some("【过去式】·" + rel.pred)))
        case "future" => rel.copy(names = rel.names.updated(1, Some("【将来式】·" + rel.pred)))
        case _ => rel
      }
    }
    if (modal) out = out.map { rel =>
      if (rel.tag != "SVO") rel
      else predModal(rel, r) match {
        case Some(m) => rel.copy(names = rel.names.updated(1, Some(m + "·" + rel.pred)))
        case None => rel
      }
    }
    out
  }

  /** keep SVO triples only, deterministically capped (reference
    * only_keep_svo, dudepparse.py:215-231; random.sample pinned to
    * first-k). */
  def onlyKeepSvo(rels: Vector[Rel], entryThreshold: Int = 3000): Vector[Rel] = {
    val svo = rels.filter(_.tag == "SVO")
    if (svo.length <= entryThreshold) svo else svo.take(entryThreshold)
  }

  /** re-project amended-relation arguments to coarse subtree spans, with
    * revert guards (reference coarsify, dudepparse.py:1667-1715;
    * keep_same_flag=True + both arg flags is the live config; the
    * single-sided keepSame=false calls are the dormant ADD_HALF_COARSE
    * "crossed" projections, dudepparse.py:1774-1778). Predicate chunking
    * keeps empty chunks: an empty chunk always reverts (Python `'' in s`
    * is true). */
  def coarsify(coarseExtractor: Extractor, rels: Vector[Rel],
               subjFlag: Boolean = true, objFlag: Boolean = true,
               keepSame: Boolean = true): Vector[Rel] = {
    rels.flatMap { rel =>
      val chunks = rel.pred.split("·", -1)
      var newSubj = rel.names(0)
      var newObj = rel.names(2)
      if (subjFlag) rel.idxs(0).foreach { si =>
        val orig = rel.names(0).getOrElse("")
        var cand = coarseExtractor.processSubTerm(coarseExtractor.tree.pyAt(si))
        if (chunks.exists(ch => ch != "的" && ch != "在" && cand.contains(ch))) cand = orig
        if (!cand.contains(orig)) cand = orig
        newSubj = Some(cand)
      }
      if (objFlag) rel.idxs(2).foreach { oi =>
        val orig = rel.names(2).getOrElse("")
        var cand = coarseExtractor.processSubTerm(coarseExtractor.tree.pyAt(oi))
        if (chunks.exists(ch => ch != "的" && ch != "在" && cand.contains(ch))) cand = orig
        if (!cand.contains(orig)) cand = orig
        newObj = Some(cand)
      }
      if (keepSame || newSubj != rel.names(0) || newObj != rel.names(2))
        Some(Rel(Vector(newSubj, rel.names(1), newObj), rel.tag, rel.idxs))
      else None
    }
  }

  /** processSentence + the reference's per-rule amendment counters and
    * V_CMP complement bucket (dudepparse.py:425-426,449) for the metrics
    * aggregation — both are fields the amendment pass fills anyway. */
  def processSentenceWithMetrics(parse: DepParse,
                                 posTags: Option[Map[String, Seq[String]]],
                                 ignorePostag: Boolean = false,
                                 addHalfCoarse: Boolean = false)
      : (SentenceRels, Map[String, Int], Map[String, Int]) = {
    // one tree, two read-only extractors over it (the reference builds two
    // identical trees, extract.py:71-73/:387-391 — pure duplication)
    val tree = new DepTree(parse)
    val fineRaw = new Extractor(tree, coarse = false).parse()
    val coarseExtractor = new Extractor(tree, coarse = true)
    val coarseRaw = coarseExtractor.parse()
    val fine0 = tokenNormalize(translateNaryToBinaries(reformat(fineRaw)))
    val coarse0 = tokenNormalize(translateNaryToBinaries(reformat(coarseRaw)))
    val am = Amender.amendSentence(parse, fine0, coarse0, posTags, ignorePostag)
    (finishSentence(parse, coarseExtractor, am, addHalfCoarse), am.amendCounts, am.vcmpCounts)
  }

  /** Full per-sentence post-processing (reference post_processing,
    * dudepparse.py:1718-1786, live flags: KEEP_ONLY_SVO=True,
    * MUST_INCLUDE_CHINESE=True, ADD_HALF_COARSE=False).
    * `addHalfCoarse=true` enables the dormant crossed-projection lists
    * (dudepparse.py:1774-1783): each fine / amend_fine relation is
    * re-projected on ONE argument side at a time (subj-only, then
    * obj-only), keeping only relations the projection actually changed. */
  def processSentence(parse: DepParse,
                      posTags: Option[Map[String, Seq[String]]],
                      ignorePostag: Boolean = false,
                      addHalfCoarse: Boolean = false): SentenceRels =
    processSentenceWithMetrics(parse, posTags, ignorePostag, addHalfCoarse)._1

  /** shared tail of post_processing after the amendment stage. */
  private def finishSentence(parse: DepParse, coarseExtractor: Extractor,
                             am: Amender.AmendResult,
                             addHalfCoarse: Boolean): SentenceRels = {
    var fine = am.prunedFine
    var coarse = am.prunedCoarse
    var amendFine = am.amendFine
    var amendCoarse = am.amendCoarse
    var possible = am.possibleFine

    fine = filterTriplesStopwords(fine)
    coarse = filterTriplesStopwords(coarse)
    amendFine = filterTriplesStopwords(amendFine)
    amendCoarse = filterTriplesStopwords(amendCoarse)
    possible = filterTriplesStopwords(possible)

    fine = checkNct(fine, parse)
    coarse = checkNct(coarse, parse)
    amendFine = checkNct(amendFine, parse)
    amendCoarse = checkNct(amendCoarse, parse)

    fine = onlyKeepSvo(fine)
    coarse = onlyKeepSvo(coarse)
    amendFine = onlyKeepSvo(amendFine)
    amendCoarse = onlyKeepSvo(amendCoarse)

    amendCoarse = coarsify(coarseExtractor, amendCoarse)

    // dormant ADD_HALF_COARSE path (dudepparse.py:1774-1783): half-crossed
    // projections of the POST-filter fine / amend_fine lists, subj-side
    // results before obj-side (the reference's x+y concatenation order)
    val (crossed, amendCrossed) =
      if (!addHalfCoarse) (Vector.empty[graft.model.Rel], Vector.empty[graft.model.Rel])
      else {
        val c1 = coarsify(coarseExtractor, fine, subjFlag = true, objFlag = false, keepSame = false)
        val c2 = coarsify(coarseExtractor, fine, subjFlag = false, objFlag = true, keepSame = false)
        val a1 = coarsify(coarseExtractor, amendFine, subjFlag = true, objFlag = false, keepSame = false)
        val a2 = coarsify(coarseExtractor, amendFine, subjFlag = false, objFlag = true, keepSame = false)
        (c1 ++ c2, a1 ++ a2)
      }

    SentenceRels(fine, coarse, amendFine, amendCoarse, possible, crossed, amendCrossed)
  }
}
