package graft.perfbench

import graft.amend.PostProcess
import graft.extract.{DepTree, Extractor}
import graft.segment.Segmenter
import graft.sources.CorpusReaders
import graft.synth.FixtureParser

/** The pure-JVM extraction core, single-threaded and without Spark, over
  * a workload's own articles: the per-sentence baseline the Spark stages
  * wrap. Each layer runs one warm-up pass and then `passes` timed passes;
  * the median pass is reported. */
object Core {

  def measure(texts: IndexedSeq[String], passes: Int = 5): Map[String, Double] = {
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    def time(f: => Unit): Long = {
      f
      median((1 to passes).map { _ => val t = System.nanoTime(); f; System.nanoTime() - t })
    }
    var sink = 0L // keeps results observable so no pass is dead code

    val sents = texts.flatMap(Segmenter.segment)
    val parsed = sents.flatMap(FixtureParser.analyze)
    val trees = parsed.map { case (p, _) => new DepTree(p) }
    val n = sents.size.toDouble
    val np = parsed.size.toDouble

    val readerNs = time(texts.indices.foreach { i =>
      sink += CorpusReaders.preprocess(s"d$i", Seq(texts(i))).fold(_ => 0, _.splitted_text.size) })
    val segNs = time(texts.foreach(t => sink += Segmenter.segment(t).size))
    val parseNs = time(sents.foreach(s => sink += FixtureParser.analyze(s).size))
    val treeNs = time(parsed.foreach { case (p, _) => sink += new DepTree(p).n })
    val extractNs = time(trees.foreach { t =>
      sink += new Extractor(t, coarse = false).parse().size + new Extractor(t, coarse = true).parse().size })
    var triples = 0L
    val postNs = time {
      triples = 0L
      parsed.foreach { case (p, tags) =>
        val r = PostProcess.processSentence(p, Some(tags))
        triples += r.fine.size + r.coarse.size + r.amendFine.size + r.amendCoarse.size + r.possible.size
      }
    }
    require(sink != Long.MinValue)
    Map(
      "sources.CorpusReaders.ns_per_doc" -> readerNs / texts.size.toDouble,
      "segment.Segmenter.ns_per_sent" -> segNs / n,
      "synth.FixtureParser.ns_per_sent" -> parseNs / n,
      "extract.DepTree.ns_per_sent" -> treeNs / np,
      "extract.Extractor.ns_per_sent" -> extractNs / np,
      "amend.PostProcess.ns_per_sent" -> postNs / np,
      "amend.triples_per_sent" -> triples / np)
  }
}
