package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import graft.segment.Segmenter
import graft.sources.CorpusReaders
import graft.tools.DumpSplitTexts

/** Corpus-specific readers (webhose / clue / newsspike field mappings) and
  * the mapping-threaded splitter they rely on. The mapping-threaded
  * split_str variant is differential-tested against the reference
  * (golden_splitmap.json via tools/ref_oracle/splitmaprun.py). */
class CorpusReaderSpec extends SparkSpecBase {
  import spark.implicits._

  test("mapping-threaded splitStr matches the reference on 60 multi-chunk batteries") {
    val mapper = new ObjectMapper()
    val stream = getClass.getResourceAsStream("/golden_splitmap.json")
    assert(stream != null, "golden_splitmap.json missing")
    val golden = mapper.readTree(stream)
    val batteries = DumpSplitTexts.mappedBatteries
    assert(golden.size() == batteries.length)
    for (i <- batteries.indices) {
      val (chunks, mapping) = batteries(i)
      val ours = Segmenter.splitStr(chunks, mapping)
      val g = golden.get(i)
      val goldSents = (0 until g.get("sentences").size()).map(j => g.get("sentences").get(j).asText())
      val goldIdxs = (0 until g.get("idxs").size()).map(j => g.get("idxs").get(j).asInt())
      assert(ours.map(_._1) == goldSents, s"battery #$i sentences")
      assert(ours.map(_._2) == goldIdxs, s"battery #$i mapping lineage")
    }
  }

  private def writeJsonl(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-corpus").toString
    Files.write(Paths.get(s"$dir/part-0.jsonl"),
                lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("webhose reader: text payload, uuid key, excluded sink for empty docs") {
    val dir = writeJsonl(Seq(
      """{"uuid":"w1","title":"标题","text":"这是第一句话呀。这是第二句话呀！"}""",
      """{"uuid":"w2","title":"t","text":"short。"}""", // no admissible sentence
      """{"uuid":"w3","title":"t","text":"只有一句很长的中文句子在这里呀。"}"""))
    val out = CorpusReaders.readWebhose(spark, dir)
    val docs = out.docs.collect().map(d => d.doc_id -> d).toMap
    assert(docs.keySet == Set("w1", "w3"))
    assert(docs("w1").splitted_text == Segmenter.segment("这是第一句话呀。这是第二句话呀！"))
    assert(docs("w1").split_mapping.forall(_ == 0)) // single-chunk lineage
    val excluded = out.excluded.collect().map(_.doc_id).toSet
    assert(excluded == Set("w2"))
  }

  test("clue reader: content payload, news_id key") {
    val dir = writeJsonl(Seq(
      """{"news_id":"c1","title":"标题","content":"内容的第一句话呀。内容的第二句话呀。"}""",
      """{"news_id":"c2","title":"t","content":""}"""))
    val out = CorpusReaders.readClue(spark, dir)
    val docs = out.docs.collect()
    assert(docs.map(_.doc_id).toSet == Set("c1"))
    assert(docs.head.splitted_text == Segmenter.segment("内容的第一句话呀。内容的第二句话呀。"))
    assert(out.excluded.collect().map(_.doc_id).toSet == Set("c2"))
  }

  test("newsspike reader: persisted split_mapping survives a re-split") {
    // chunk 7 re-splits into two sentences; BOTH must keep original id 7
    val dir = writeJsonl(Seq(
      """{"id":"n1","splitted_text":["前面完整的一个句子呀。","两个句子在一个块里呀。第二个句子也在这里呀。"],"split_mapping":[3,7]}"""))
    val out = CorpusReaders.readNewsspike(spark, dir)
    val docs = out.docs.collect()
    assert(docs.length == 1)
    val d = docs.head
    assert(d.splitted_text.length == 3, d.splitted_text.toString)
    assert(d.split_mapping == Vector(3, 7, 7), d.split_mapping.toString)
    // and the lineage survives into the sentences table as span_offset
    val sents = graft.pipeline.Pipeline.segmentDocs(CorpusReaders.toDocs(out.docs))
      .collect().sortBy(_.sent_id)
    assert(sents.map(_.span_offset).toSeq == Seq(3, 7, 7))
    assert(sents.map(_.sent).toSeq == d.splitted_text)
  }

  test("webhose directory mode (one JSON file per article) == JSONL mode on equal payloads") {
    val payloads = Seq(
      ("w1", "这是第一句话呀。这是第二句话呀！"),
      ("w2", "short。"),
      ("w3", "只有一句很长的中文句子在这里呀。"))
    def obj(id: String, text: String) =
      s"""{"uuid":"$id","title":"t","text":"$text"}"""
    // JSONL shape
    val jsonlDir = writeJsonl(payloads.map { case (id, t) => obj(id, t) })
    // directory-of-files shape, nested tree (reference os.walk semantics)
    val treeDir = Files.createTempDirectory("graft-whd").toString
    Files.createDirectories(Paths.get(s"$treeDir/x/y"))
    Files.write(Paths.get(s"$treeDir/a.json"), obj("w1", payloads(0)._2).getBytes("UTF-8"))
    Files.write(Paths.get(s"$treeDir/x/b.json"), obj("w2", payloads(1)._2).getBytes("UTF-8"))
    Files.write(Paths.get(s"$treeDir/x/y/c.json"), obj("w3", payloads(2)._2).getBytes("UTF-8"))
    val fromJsonl = CorpusReaders.readWebhose(spark, jsonlDir)
    val fromTree = CorpusReaders.readWebhoseDir(spark, treeDir)
    assert(fromTree.docs.collect().sortBy(_.doc_id).toSeq ==
           fromJsonl.docs.collect().sortBy(_.doc_id).toSeq)
    assert(fromTree.excluded.collect().sortBy(_.doc_id).toSeq ==
           fromJsonl.excluded.collect().sortBy(_.doc_id).toSeq)
  }

  test("cached() reader output survives the persist boundary (both sinks, one scan)") {
    val dir = writeJsonl(Seq(
      """{"uuid":"p1","title":"","text":"这是第一句话呀。这是第二句话呀！"}""",
      """{"uuid":"p2","title":"","text":"nope."}"""))
    val out = CorpusReaders.readWebhose(spark, dir).cached()
    try {
      // both views consume the PERSISTED routed map — this deserializes
      // the routed rows from the cache (the round-3 Either encoder bug)
      assert(out.docs.collect().map(_.doc_id).toSet == Set("p1"))
      assert(out.excluded.collect().map(_.doc_id).toSet == Set("p2"))
      assert(CorpusReaders.routingReport(out).count() == 2)
    } finally out.uncache()
  }

  test("routingReport routes ok/excluded and carries lineage max_chunk") {
    val dir = writeJsonl(Seq(
      """{"id":"n1","splitted_text":["前面完整的一个句子呀。","两个句子在一个块里呀。第二个句子也在这里呀。"],"split_mapping":[3,7]}""",
      """{"id":"n2","splitted_text":["en only."],"split_mapping":[5]}"""))
    val rep = CorpusReaders.routingReport(CorpusReaders.readNewsspike(spark, dir))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(rep == Set(("n1", "ok", 3, 7), ("n2", "excluded", 0, -1)), rep.toString)
  }

  test("readers consume gzipped JSONL transparently (production corpus shape)") {
    val dir = Files.createTempDirectory("graft-corpus-gz").toString
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/part-0.jsonl.gz"))
    out.write("""{"uuid":"g1","title":"","text":"这是压缩语料的第一句话呀。这是第二句话呀！"}"""
      .getBytes("UTF-8"))
    out.close()
    val docs = CorpusReaders.readWebhose(spark, dir).docs.collect()
    assert(docs.length == 1 && docs.head.doc_id == "g1")
    assert(docs.head.splitted_text == Segmenter.segment("这是压缩语料的第一句话呀。这是第二句话呀！"))
  }

  test("reader output runs the FULL checkpointed pipeline (runFromDocs)") {
    val text = graft.synth.SynthDocs.genDoc(1L).spans
      .filter(_.kind == "text").map(_.text).mkString
    val mapper = new ObjectMapper()
    val dir = writeJsonl(Seq(
      s"""{"uuid":"w1","title":"","text":${mapper.writeValueAsString(text)}}""",
      s"""{"uuid":"w2","title":"","text":${mapper.writeValueAsString(text)}}"""))
    val docs = CorpusReaders.toDocs(CorpusReaders.readWebhose(spark, dir).docs)
    val root = java.nio.file.Files.createTempDirectory("graft-reader-run").toString
    val r1 = graft.pipeline.RunBook.runFromDocs(spark, root, docs, fingerprint = "webhose-fixture")
    assert(r1.triples.count() > 0)
    assert(r1.docsOut.count() == 2)
    // resume from checkpoints returns identical data
    val r2 = graft.pipeline.RunBook.runFromDocs(spark, root, docs, fingerprint = "webhose-fixture")
    assert(r2.triples.count() == r1.triples.count())
  }

  test("reader output feeds the extraction pipeline end to end") {
    // payload = a synthetic doc's text spans (sentences the fixture
    // parser can analyze), shipped through the webhose JSONL shape
    val text = graft.synth.SynthDocs.genDoc(0L).spans
      .filter(_.kind == "text").map(_.text).mkString
    val mapper = new ObjectMapper()
    val dir = writeJsonl(Seq(
      s"""{"uuid":"w1","title":"","text":${mapper.writeValueAsString(text)}}"""))
    val sents = graft.pipeline.Pipeline.segmentDocs(
      CorpusReaders.toDocs(CorpusReaders.readWebhose(spark, dir).docs))
    val triples = graft.pipeline.Pipeline.extractTriples(sents).collect()
    assert(triples.nonEmpty, "no triples extracted from reader output")
  }
}
