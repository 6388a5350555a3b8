package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are the benchmark's only source of inputs: a seed must
  * pin them byte for byte, and another seed must move them. */
class GenSpec extends AnyFunSuite {

  private def payloads(seed: Long): Seq[Seq[Byte]] =
    (0L until 4L).map(k => Gen.Scrape(seed).payload(k).toSeq)

  private def preload(seed: Long) = Gen.Store(seed).samples(0, 3)

  private def queries(seed: Long) =
    (0L until 12L).map(k => Gen.dashboardQuery(Gen.Store(seed), seed, k))

  test("the same seed gives byte-identical remote-write payloads") {
    assert(payloads(7) == payloads(7))
  }

  test("another seed gives other payloads") {
    assert(payloads(7) != payloads(8))
  }

  test("the same seed gives the same preload and query stream") {
    assert(preload(7) == preload(7))
    assert(queries(7) == queries(7))
  }

  test("another seed gives another preload and query stream") {
    assert(preload(7) != preload(8))
    assert(queries(7) != queries(8))
  }

  test("payloads of both remote-write versions decode to their batch") {
    val s = Gen.Scrape(7)
    assert(s.samples(0).size == s.batch)
    val v1 = graft.streaming.RemoteWrite.decodeRequest(s.payload(0)).samples
    val v2 = graft.streaming.RemoteWrite.decodeRequest(s.payload(1)).samples
    assert(v1.toSet == s.samples(0).toSet)
    assert(v2.toSet == s.samples(1).toSet)
  }
}
