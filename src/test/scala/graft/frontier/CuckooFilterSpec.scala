package graft.frontier

import org.scalatest.funsuite.AnyFunSuite

/** Cuckoo filter contract (Fan et al. 2014 construction): zero false
  * negatives at and beyond design load, fpp far under the bloom default,
  * deterministic serialized state, stash-backed overfill
  * behavior, and LSM interop through the SeenSet filter codec. */
class CuckooFilterSpec extends AnyFunSuite {

  private def urls(n: Int, tag: String): Vector[String] =
    (0 until n).map(i => s"https://h${i % 97}.example/$tag/p$i.html").toVector

  test("no false negatives at design load; fpp well under the bloom default") {
    val n = 100000
    val in = urls(n, "in")
    val cf = CuckooFilter.create(n)
    in.foreach(cf.put)
    assert(in.forall(cf.mightContain), "false negative on an inserted url")
    val probe = urls(200000, "absent")
    val fp = probe.count(cf.mightContain)
    // theoretical bound 2*4/2^16 ~ 1.2e-4; allow 4x slack on 200k probes
    assert(fp <= (200000 * 1.2e-4 * 4).toInt,
      s"fpp too high: $fp false positives over 200k probes")
  }

  test("overfill parks victims in the stash: still zero false negatives at 130% load") {
    val cap = 4096
    val in = urls((cap * 1.3).toInt, "of")
    val cf = CuckooFilter.create(cap)
    in.foreach(cf.put)
    assert(in.forall(cf.mightContain), "overfull filter false-negatived")
  }

  test("serialization round-trips exactly and is insert-order deterministic") {
    val in = urls(30000, "s")
    def build(): CuckooFilter = {
      val cf = CuckooFilter.create(30000)
      in.foreach(cf.put)
      cf
    }
    val a = build().serialized
    val b = build().serialized
    assert(java.util.Arrays.equals(a, b),
      "same insert order must produce identical bytes (replay-exactness)")
    val back = CuckooFilter.deserialize(a)
    assert(in.forall(back.mightContain))
    assert(back.size == build().size)
    // deserialized filter keeps working
    back.put("https://new.example/x.html")
    assert(back.mightContain("https://new.example/x.html"))
  }

  test("payload sniffing: cuckoo magic vs spark bloom bytes") {
    val cf = CuckooFilter.create(64)
    cf.put("https://a.example/")
    assert(CuckooFilter.isCuckooPayload(cf.serialized))
    val bf = org.apache.spark.util.sketch.BloomFilter.create(64, 0.01)
    bf.putString("https://a.example/")
    assert(!CuckooFilter.isCuckooPayload(SeenSet.serialize(bf)))
    // codec dispatches both ways
    assert(SeenSet.deserializeFilter(cf.serialized).mightContain("https://a.example/"))
    assert(SeenSet.deserializeFilter(SeenSet.serialize(bf)).mightContain("https://a.example/"))
  }
}
