package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import graft.synth.SynthDocs

/** Seeded, deterministic benchmark inputs.
  *
  * A corpus is a range of content indices `[from, until)`. Content index
  * `c` is always the same article: the text spans of
  * `SynthDocs.genDoc(c)` (8 template sentences), or an empty text for
  * every 100th index, which the reader routes to the excluded sink. The
  * seed moves the doc ids (`seed * IdSpace + c`, so two seeds never share
  * an id) and the order articles appear in the files, never the content:
  * every output the checks hash is a function of the content indices
  * alone, so one recorded value serves every seed. */
object Inputs {

  val IdSpace = 1000000000L
  /** permutation stride; prime and larger than any corpus, so
    * `p -> (p * Stride + seed) mod n` is a bijection on [0, n). */
  private val Stride = 1000003L

  def docId(seed: Long, c: Long): String = f"${seed * IdSpace + c}%019d"

  /** the content index a doc id was generated from. */
  def contentIndex(docId: String): Long = Math.floorMod(docId.toLong, IdSpace)

  def isEmptyArticle(c: Long): Boolean = c % 100 == 0

  def articleText(c: Long): String =
    if (isEmptyArticle(c)) ""
    else SynthDocs.genDoc(c).spans.iterator
      .filter(s => s.kind == "text" && s.text != null).map(_.text).mkString

  private def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** one webhose-format article: `{uuid, title, text}`. */
  def articleJson(seed: Long, c: Long): String =
    s"""{"uuid":${jsonString(docId(seed, c))},"title":${jsonString(s"article $c")},"text":${jsonString(articleText(c))}}"""

  /** content indices of `[from, until)` in the seed's file order. */
  def order(seed: Long, from: Long, until: Long): Iterator[Long] = {
    val n = until - from
    Iterator.range(0L, n).map(p => from + Math.floorMod(p * Stride + seed, n))
  }

  /** writes `[from, until)` as `files` JSONL files under `dir`; returns
    * the number of empty articles written. */
  def writeCorpus(dir: Path, seed: Long, from: Long, until: Long, files: Int = 8): Long = {
    require(math.abs(seed) < Long.MaxValue / IdSpace - 1, s"seed $seed out of range")
    Files.createDirectories(dir)
    val n = until - from
    val per = (n + files - 1) / files
    val it = order(seed, from, until)
    var empty = 0L
    for (f <- 0 until files) {
      val w = Files.newBufferedWriter(dir.resolve(f"part-$f%03d.jsonl"), UTF_8)
      try {
        var k = 0L
        while (k < per && it.hasNext) {
          val c = it.next()
          if (isEmptyArticle(c)) empty += 1
          w.write(articleJson(seed, c)); w.write('\n')
          k += 1
        }
      } finally w.close()
    }
    empty
  }
}
