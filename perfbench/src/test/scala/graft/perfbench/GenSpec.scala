package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator is the benchmark's only source of inputs: a seed must fix
  * every byte, and a different seed must give different inputs. */
class GenSpec extends AnyFunSuite {

  private def hashes(seed: Long): Seq[String] = Seq(
    Gen.hashPages(Gen.webPages(seed, 300)),
    Gen.hashPages(Gen.heavyPages(seed, 60)),
    Gen.hashTables(Gen.documents(seed, 300), Gen.embeddings(seed, 100)))

  test("the same seed gives identical input bytes") {
    assert(hashes(7) == hashes(7))
  }

  test("a different seed gives different input bytes") {
    hashes(7).zip(hashes(8)).foreach { case (a, b) => assert(a != b) }
  }

  test("neighbouring seeds give unrelated layouts") {
    // positions of the deep and hostile pages: seeds whose generator
    // streams overlapped would repeat them
    val layouts = (1L to 30L).map(seed =>
      Gen.heavyPages(seed, 60).map(p => Gen.openRun(p.html) >= 100))
    assert(layouts.distinct.size == layouts.size)
  }

  test("measured properties follow the workload definitions") {
    val web = Gen.props(Gen.webPages(7, 2000))
    assert(web.deepShare == 0.0)
    assert(web.pdfShare > 0.03 && web.pdfShare < 0.09)
    assert(web.hotDomainShare > 0.06 && web.hotDomainShare < 0.14)
    val heavy = Gen.heavyPages(7, 400)
    assert(Gen.props(heavy).deepShare > 0.15)
    assert(heavy.exists(p => Gen.openRun(p.html) >= Gen.FailingFontRange._1))
    // the PDF count is fixed, not drawn
    assert(Gen.props(heavy).pdfShare == Gen.props(Gen.heavyPages(8, 400)).pdfShare)
    assert(heavy.map(_.url).distinct.size == heavy.size)
  }
}
