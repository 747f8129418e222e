package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SharedSpark

/**
 * Property hardening for the round-12 pure kernels: TGA RLE
 * round-trips on arbitrary pixel streams (runs, literals, both row
 * orders), G.711 expansion structure over the FULL byte domain, and
 * the URL canonicalizer's variant-collapse contract on generated
 * resources. All JVM-only except the canonicalizer, a Column
 * expression evaluated on the shared session.
 */
class Round12PropertySpec extends AnyFunSuite with SharedSpark {

  private def checkProp(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("TGA: raw and RLE encodings of arbitrary pixel streams round-trip in both row orders") {
    val gen = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 16)
      // biased toward runs so RLE's run packets are exercised, with
      // literal stretches from the free bytes
      bytes <- Gen.listOfN(w * h * 3, Gen.frequency(
        3 -> Gen.const(42.toByte), 2 -> Gen.const(7.toByte),
        2 -> Gen.choose(Byte.MinValue, Byte.MaxValue)))
      rle <- Gen.oneOf(true, false)
      td <- Gen.oneOf(true, false)
    } yield (w, h, bytes.toArray, rle, td)
    checkProp(Prop.forAll(gen) { case (w, h, px, rle, td) =>
      val enc = MultimodalOps.encodeTga24(px, w, h, rle = rle, topDown = td)
      MultimodalOps.decodeTgaPixels(enc).exists(_.sameElements(px)) &&
        MultimodalOps.parseHeader(enc)
          .contains(MultimodalOps.MediaHeader("tga", w, h, 3, 0))
    })
  }

  test("TGA: truncation at any prefix refuses, never throws") {
    val px = Array.tabulate(10 * 6 * 3)(i => ((i / 6) * 13).toByte)
    val enc = MultimodalOps.encodeTga24(px, 10, 6, rle = true)
    for (n <- 0 until enc.length)
      assert(MultimodalOps.decodeTgaPixels(enc.take(n)).isEmpty, s"prefix $n")
  }

  test("QOI: arbitrary pixel streams round-trip (3ch and 4ch, every op mix)") {
    val gen = for {
      w <- Gen.choose(1, 20)
      h <- Gen.choose(1, 14)
      ch <- Gen.oneOf(3, 4)
      // biased mixture: long runs (RUN), near-previous values
      // (DIFF/LUMA via small palette), arbitrary bytes (RGB/RGBA),
      // zeros (the INDEX slot-0 quirk)
      bytes <- Gen.listOfN(w * h * ch, Gen.frequency(
        4 -> Gen.const(100.toByte), 2 -> Gen.const(101.toByte),
        2 -> Gen.const(0.toByte),
        2 -> Gen.choose(Byte.MinValue, Byte.MaxValue)))
    } yield (w, h, ch, bytes.toArray)
    checkProp(Prop.forAll(gen) { case (w, h, ch, px) =>
      val enc = MultimodalOps.encodeQoi(px, w, h, ch)
      MultimodalOps.decodeQoiPixels(enc).exists(_.sameElements(px)) &&
        MultimodalOps.parseHeader(enc)
          .contains(MultimodalOps.MediaHeader("qoi", w, h, ch, 0))
    })
  }

  test("QOI: truncation at any prefix refuses, never throws") {
    val px = Array.tabulate(9 * 7 * 3)(i => (((i / 9) * 5 + (i % 3) * 7) % 256).toByte)
    val enc = MultimodalOps.encodeQoi(px, 9, 7)
    for (n <- 0 until enc.length)
      assert(MultimodalOps.decodeQoiPixels(enc.take(n)).isEmpty, s"prefix $n")
  }

  test("PCX: arbitrary rasters round-trip (gray and RGB, >=0xC0 literals)") {
    val gen = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 14)
      planes <- Gen.oneOf(1, 3)
      // high-byte bias exercises the forced-1-run rule for >=0xC0
      bytes <- Gen.listOfN(w * h * planes, Gen.frequency(
        3 -> Gen.const(0xC8.toByte), 3 -> Gen.const(55.toByte),
        2 -> Gen.choose(Byte.MinValue, Byte.MaxValue)))
    } yield (w, h, planes, bytes.toArray)
    checkProp(Prop.forAll(gen) { case (w, h, planes, px) =>
      val enc = MultimodalOps.encodePcx(px, w, h, planes)
      MultimodalOps.decodePcxPixels(enc).exists(_.sameElements(px)) &&
        MultimodalOps.parseHeader(enc)
          .contains(MultimodalOps.MediaHeader("pcx", w, h, planes, 0))
    })
  }

  test("PCX: truncation at any prefix refuses, never throws") {
    val px = Array.tabulate(7 * 5 * 3)(i => (((i / 6) * 11 + 180) % 256).toByte)
    val enc = MultimodalOps.encodePcx(px, 7, 5)
    for (n <- 0 until enc.length)
      assert(MultimodalOps.decodePcxPixels(enc.take(n)).isEmpty, s"prefix $n")
  }

  test("PNM: arbitrary rasters round-trip through P5 and P6") {
    val gen = for {
      w <- Gen.choose(1, 32)
      h <- Gen.choose(1, 24)
      ch <- Gen.oneOf(1, 3)
      bytes <- Gen.listOfN(w * h * ch, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (w, h, ch, bytes.toArray)
    checkProp(Prop.forAll(gen) { case (w, h, ch, px) =>
      MultimodalOps.decodePnmPixels(MultimodalOps.encodePnm(px, w, h, ch))
        .exists(_.sameElements(px))
    })
  }

  test("G.711 structure over the full byte domain: bounds, injectivity per half, zero codes") {
    val mu = (0 until 256).map(MultimodalOps.mulawExpand)
    val al = (0 until 256).map(MultimodalOps.alawExpand)
    assert(mu.forall(v => v >= -32124 && v <= 32124))
    assert(al.forall(v => v >= -32256 && v <= 32256))
    // each half of the code space maps injectively (mu-law's two zero
    // codes live in OPPOSITE halves, so halves stay collision-free)
    assert(mu.take(128).distinct.size == 128)
    assert(mu.drop(128).distinct.size == 128)
    assert(al.take(128).distinct.size == 128)
    assert(al.drop(128).distinct.size == 128)
    // mu-law hits 0 exactly twice (0x7f, 0xff); A-law never (min |8|)
    assert(mu.count(_ == 0) == 2)
    assert(al.count(_ == 0) == 0 && al.map(math.abs).min == 8)
  }

  test("canonicalUrl collapses generated scheme/www/utm/slash/fragment variants") {
    // pure-kernel check via a tiny local DataFrame-free evaluation is
    // not possible (Column API), so evaluate through a one-row Spark
    // plan on the shared session
    import org.apache.spark.sql.functions.col
    val hostGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)
    val pathGen = Gen.listOf(Gen.alphaNumChar).map(cs => "/" + cs.take(10).mkString)
    val gen = for {
      host <- hostGen
      path <- pathGen
      q <- Gen.oneOf("", "?x=1")
    } yield (host, path, q)
    checkProp(Prop.forAll(gen) { case (host, path, q) =>
      val variants = Seq(
        s"https://$host.example.com$path$q",
        s"http://www.$host.example.com$path$q",
        s"HTTP://${host.toUpperCase}.EXAMPLE.COM$path$q",
        s"https://$host.example.com$path/$q".replace("/?", "/?"),
        s"https://$host.example.com$path$q#frag",
        s"https://$host.example.com$path" +
          (if (q.isEmpty) "?utm_source=a" else s"$q&utm_campaign=z"))
      import spark.implicits._
      val canon = variants.toDF("u")
        .select(TextOps.canonicalUrl(col("u"))).collect().map(_.getString(0))
      // the trailing-slash variant only equals the others when path
      // is non-root; assert the NON-slash variants all collapse
      val core = canon.patch(3, Nil, 1)
      core.distinct.length == 1 && core.head.startsWith(host)
    })
  }
}
