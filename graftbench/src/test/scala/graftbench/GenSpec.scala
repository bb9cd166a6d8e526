package graftbench

import java.io.ByteArrayInputStream
import java.util.zip.GZIPInputStream

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val cfg = Gen.Config(seed = 7, files = 3, recordsPerFile = 200)

  test("the same seed gives the same records and digest") {
    val a = Gen.generate(cfg)
    val b = Gen.generate(cfg)
    assert(a.digest == b.digest)
    assert(a.expected == b.expected)
    assert(a.files.flatMap(_.records).zip(b.files.flatMap(_.records))
      .forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("another seed gives another digest") {
    assert(Gen.generate(cfg).digest != Gen.generate(cfg.copy(seed = 8)).digest)
  }

  test("planted records come at exact shares and the totals add up") {
    val g = Gen.generate(cfg)
    assert(g.records == 600)
    assert(g.controlRecords == 12 && g.truncatedRecords == 6 && g.nonJsonRecords == 6)
    assert(g.dataRecords == 576)
    val exp = g.expected
    assert(exp.groups.values.map(_.rows).sum == exp.events)
    assert(exp.events < g.eventsIn)
    assert(g.pDates == Set("2026-03-14", "2026-03-15"))
  }

  test("records are gzipped JSON, except the truncated ones") {
    val g = Gen.generate(cfg.copy(truncated = false))
    g.files.flatMap(_.records).foreach { r =>
      val text = new String(new GZIPInputStream(new ByteArrayInputStream(r)).readAllBytes(), "UTF-8")
      assert(text.startsWith("{\"messageType\":") || text.startsWith("this is not"))
    }
  }
}
