package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.Fidelity
import graft.model.DocMeta

class FidelitySpec extends AnyFunSuite {

  test("S2 priority table (config.py:78-92) that q_priority_order reads") {
    val p = Fidelity.processingPriorities
    assert(p.get("pptx").contains(1))
    assert(p.get("pdf").contains(3))
    assert(p.get("zip").contains(7))
    assert(!p.contains("weird")) // q_priority_order filters it out
  }

  test("X23 MB formatting: 2dp of bytes/1024^2") {
    assert(Fidelity.formatMb(1048576L) == 1.0)
    assert(Fidelity.formatMb(1572864L) == 1.5)
    assert(Fidelity.formatMb(123456789L) == 117.74)
  }

  test("formatEpochUs renders like Python str(datetime), incl. non-zero micros (ADVICE r3)") {
    assert(Fidelity.formatEpochUs(1700000000000000L) == "2023-11-14 22:13:20")
    assert(Fidelity.formatEpochUs(1700000000000001L) == "2023-11-14 22:13:20.000001")
    assert(Fidelity.formatEpochUs(1700000000123456L) == "2023-11-14 22:13:20.123456")
    assert(Fidelity.formatEpochUs(1700000000999999L) == "2023-11-14 22:13:20.999999")
    // negative epoch micros floor-divide into the previous second
    assert(Fidelity.formatEpochUs(-1L) == "1969-12-31 23:59:59.999999")
  }

  test("M2 metadata comment: prepended, only non-empty fields") {
    val meta = DocMeta("T", "", "D", "", "en", 2)
    val out = Fidelity.metadataComment(meta)
    assert(out.startsWith("\n<!-- DOCUMENT METADATA:\n"))
    assert(out.contains("Title: T\n"))
    assert(out.contains("Description: D\n"))
    assert(!out.contains("Author"))
    assert(out.contains("Pages: 2\n"))
    assert(out.endsWith("-->\n"))
  }
}
