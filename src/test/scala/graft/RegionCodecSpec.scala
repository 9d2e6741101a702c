package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.scalacheck.Prop.forAll
import org.scalacheck.{Arbitrary, Gen}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.kvbin.{KVBin, KVBinNet, RegionInfo}

/** The one kvbin region entry survives both of its encodings — an
  * `_index` line and the REGIONS/COMMIT wire frame — field for field,
  * over the byte and stat shapes that break naive codecs: empty keys,
  * keys ending in 0x00, runs of 0xFF, and extreme stat bounds. */
class RegionCodecSpec extends AnyFunSuite {

  private def check(p: org.scalacheck.Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  private val keyGen: Gen[Array[Byte]] = Gen.oneOf(
    Gen.const(Array.emptyByteArray),
    Gen.listOf(Arbitrary.arbitrary[Byte]).map(b => (b :+ 0.toByte).toArray),
    Gen.chooseNum(1, 12).map(n => Array.fill(n)(0xFF.toByte)),
    Gen.zip(Gen.listOf(Arbitrary.arbitrary[Byte]), Gen.chooseNum(1, 6))
      .map { case (b, n) => (b ++ Seq.fill(n)(0xFF.toByte)).toArray },
    Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray))

  private val statGen: Gen[Long] = Gen.frequency(
    1 -> Gen.const(Long.MinValue), 1 -> Gen.const(Long.MaxValue),
    1 -> Gen.const(0L), 4 -> Arbitrary.arbitrary[Long])

  private val regionGen: Gen[RegionInfo] = for {
    id <- Gen.chooseNum(0, 99999).map(i => f"part-$i%05d-0a1b2c-$i.kv")
    mn <- keyGen
    mx <- keyGen
    n <- Gen.chooseNum(0L, Long.MaxValue)
    bytes <- Gen.oneOf(Gen.const(-1L), Gen.chooseNum(0L, Long.MaxValue))
    nStats <- Gen.chooseNum(0, 3)
    stats <- Gen.listOfN(nStats, Gen.zip(statGen, statGen))
  } yield RegionInfo(id, mn, mx, n, bytes, stats)

  /** Field-for-field equality; arrays by content (the case class's
    * `equals` compares them by reference). */
  private def same(a: RegionInfo, b: RegionInfo): Boolean =
    a.id == b.id && a.minKey.sameElements(b.minKey) &&
      a.maxKey.sameElements(b.maxKey) && a.nKeys == b.nKeys &&
      a.bytes == b.bytes && a.stats == b.stats

  test("index line → parse returns the region (bytes is not on the line)") {
    check(forAll(regionGen) { r =>
      val (meta, parsed) =
        KVBin.parseIndex(Seq("#stats=a:vlen,b:klen,c:vlen", KVBin.regionLine(r)))
      meta("api_version") == "V1" && parsed.size == 1 &&
        same(parsed.head, r.copy(bytes = -1L))
    })
  }

  test("an index without a #stats header parses no stat ranges") {
    check(forAll(regionGen) { r =>
      val parsed = KVBin.parseIndex(Seq(KVBin.regionLine(r)))._2
      parsed.size == 1 && same(parsed.head, r.copy(bytes = -1L, stats = Nil))
    })
  }

  test("writeRegion → readRegion returns the region") {
    check(forAll(Gen.listOf(regionGen)) { rs =>
      val buf = new ByteArrayOutputStream()
      val out = new DataOutputStream(buf)
      rs.foreach(KVBinNet.writeRegion(out, _))
      out.flush()
      val in = new DataInputStream(new ByteArrayInputStream(buf.toByteArray))
      val back = rs.map(_ => KVBinNet.readRegion(in))
      in.available() == 0 && back.zip(rs).forall { case (a, b) => same(a, b) }
    })
  }
}
