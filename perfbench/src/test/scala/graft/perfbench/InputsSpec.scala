package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = Files.createTempDirectory("perfbench-inputs")
  override def afterAll(): Unit = PerfBench.deleteTree(tmp)

  private def corpus(seed: Long, from: Long, until: Long): (Path, Long) = {
    val dir = Files.createTempDirectory(tmp, "corpus")
    (dir, Inputs.writeCorpus(dir, seed, from, until, files = 3))
  }

  private def files(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  private def ids(dir: Path): Seq[String] = files(dir).flatMap(p =>
    Files.readAllLines(p).asScala.map("\"uuid\":\"([0-9-]+)\"".r.findFirstMatchIn(_).get.group(1)))

  test("the same seed gives byte-identical input files") {
    val (a, ea) = corpus(7, 0, 500)
    val (b, eb) = corpus(7, 0, 500)
    assert(ea == eb)
    assert(files(a).map(_.getFileName) == files(b).map(_.getFileName))
    files(a).zip(files(b)).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(x), Files.readAllBytes(y)), s"$x differs")
    }
  }

  test("different seeds give disjoint doc ids over the same content") {
    val (a, _) = corpus(1, 0, 500)
    val (b, _) = corpus(2, 0, 500)
    val (ia, ib) = (ids(a), ids(b))
    assert(ia.size == 500 && ia.distinct.size == 500)
    assert(ia.toSet.intersect(ib.toSet).isEmpty)
    assert(ia.map(Inputs.contentIndex).sorted == ib.map(Inputs.contentIndex).sorted)
    assert(ia.map(Inputs.contentIndex).toSet == (0L until 500L).toSet)
    assert(ia != ib.map(id => Inputs.docId(1, Inputs.contentIndex(id))), "file order is seeded too")
  }

  test("every 100th article is empty and counted") {
    val (_, empties) = corpus(3, 0, 500)
    assert(empties == 5)
    assert(Inputs.articleText(200).isEmpty && Inputs.articleText(201).nonEmpty)
  }
}
