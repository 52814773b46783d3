package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property coverage for the manifest lake's Bloom index scalar core
  * (the distributed build in `buildBlooms` and the driver probe in
  * `pruneFilesPoint` both reduce to these):
  *  1. no false negatives — EVER, for any inserted Long/Int/String
  *     value (a fn loses committed rows; a fp only wastes an open);
  *  2. int/long canonical agreement — a probe with 42L must find rows
  *     written as int32 (parquet narrows types; the manifest must
  *     not care);
  *  3. bounded false-positive rate at the committed sizing
  *     (10 bits/key, k=7 ⇒ ~0.8 %; asserted ≤ 3 % with slack);
  *  4. the empty filter contains nothing.
  * Insertion here runs the sizing and bit-setting routine both builds
  * call ([[ManifestLake.BloomHash]]`.words`/`.setBits`) and probes with
  * the driver's `mightContain`, so this spec pins the shared scalar
  * contract.
  */
class BloomPropertySpec extends AnyFunSuite {
  import ManifestLake.{BloomHash, BloomK, FileBloom}

  private def build(values: Seq[Any]): FileBloom = {
    val arr = new Array[Long](BloomHash.words(values.length.toLong))
    values.foreach(v => BloomHash.setBits(arr, BloomK, BloomHash.canonical(v)))
    FileBloom("c", BloomK, arr)
  }

  private def run(prop: Prop, name: String): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(r.passed, s"$name: $r")
  }

  private val valueGen: Gen[Any] = Gen.oneOf(
    Gen.choose(Long.MinValue, Long.MaxValue).map(l => l: Any),
    Gen.choose(Int.MinValue, Int.MaxValue).map(i => i: Any),
    Gen.alphaNumStr.map(s => s: Any))

  test("no false negatives for any inserted value") {
    run(Prop.forAll(Gen.listOf(valueGen)) { vs =>
      val bf = build(vs)
      vs.forall(bf.mightContain)
    }, "no-false-negatives")
  }

  test("int and long probes agree through the canonical hash") {
    run(Prop.forAll(Gen.choose(Int.MinValue, Int.MaxValue)) { i =>
      val asInt = build(Seq(i))
      val asLong = build(Seq(i.toLong))
      asInt.bits.sameElements(asLong.bits) &&
        asInt.mightContain(i.toLong) && asLong.mightContain(i)
    }, "int-long-agreement")
  }

  test("false-positive rate stays near the 10-bit/key design point") {
    val inserted = (0L until 2000L).map(v => v * 2 + 1)
    val bf = build(inserted)
    val probes = (0L until 2000L).map(_ * 2) // all absent
    val fps = probes.count(bf.mightContain)
    assert(fps <= probes.length * 3 / 100,
      s"fp rate ${fps.toDouble / probes.length} exceeds 3%")
  }

  test("the empty filter contains nothing") {
    val bf = FileBloom("c", BloomK, new Array[Long](1))
    assert((0L until 100L).forall(v => !bf.mightContain(v)))
  }
}
