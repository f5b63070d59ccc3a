package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Folding and right-sizing of [[BloomBuf]]: a fold is exactly the filter
  * built at half the size, and the persisted (compacted) image is the
  * smallest fold within [[BloomBuf.PersistFpp]]. Property samples draw
  * from fixed seeds, so every run checks the same value sets. */
class BloomBufSpec extends AnyFunSuite {

  private val Full = BloomBuf.DefaultBits
  private val K = BloomBuf.DefaultK

  private def forSamples[A](gen: Gen[A], n: Int)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  /** Internal (Catalyst) values of one type — what the aggregate hashes. */
  private val typed: Seq[(DataType, Gen[Any])] = Seq(
    LongType -> Gen.choose(Long.MinValue, Long.MaxValue),
    IntegerType -> Gen.choose(Int.MinValue, Int.MaxValue),
    StringType -> Gen.alphaNumStr.map(UTF8String.fromString),
    DateType -> Gen.choose(-100000, 100000),
    DecimalType(12, 2) -> Gen.choose(-(1L << 36), 1L << 36)
      .map(u => Decimal(BigDecimal(u, 2), 12, 2)),
    // past 18 digits a decimal hashes by its unscaled bytes, not a long
    DecimalType(30, 4) -> Gen.choose(Long.MinValue, Long.MaxValue)
      .map(u => Decimal(BigDecimal(BigInt(u) * 1000003, 4), 30, 4)))

  private def valueSets(n: Int): Seq[(DataType, Gen[Seq[Any]])] =
    typed.map { case (dt, g) =>
      dt -> Gen.choose(0, n).flatMap(Gen.listOfN(_, g)).map(_.distinct)
    }

  private def built(bits: Int, hs: Seq[(Long, Long)]): BloomBuf = {
    val b = new BloomBuf(bits, K)
    hs.foreach { case (h1, h2) => b.add(h1, h2) }
    b
  }

  private def fpp(b: BloomBuf): Double = math.pow(b.fill, b.k)

  /** Every size from `b.bits` down to 64, each the fold of the last. */
  private def folds(b: BloomBuf): Seq[BloomBuf] =
    Iterator.iterate(b)(_.folded)
      .take(Integer.numberOfTrailingZeros(b.bits) - 5).toSeq

  test("property: each fold of a 2^20-bit filter is bit for bit the filter built at that size") {
    valueSets(3000).foreach { case (dt, gen) =>
      forSamples(gen, 8) { vs =>
        val hs = vs.map(BloomBuf.hashes(_, dt))
        val fs = folds(built(Full, hs))
        assert(fs.last.bits == 64)
        fs.foreach { f =>
          val direct = built(f.bits, hs)
          assert(f.k == K && f.words.sameElements(direct.words),
            s"$dt: the fold to ${f.bits} bits differs from a direct build")
        }
      }
    }
  }

  test("property: a compacted image answers maybe for every inserted value and stops at the smallest fold within the target") {
    valueSets(20000).foreach { case (dt, gen) =>
      forSamples(gen, 6) { vs =>
        val hs = vs.map(BloomBuf.hashes(_, dt))
        val full = built(Full, hs)
        val img = full.compacted.toBytes
        val c = BloomBuf.fromBytes(img)
        assert(vs.forall(BloomBuf.mightContain(img, _, dt)),
          s"$dt: a compacted image said no for an inserted value")
        if (c.bits < Full) assert(fpp(c) <= BloomBuf.PersistFpp,
          s"$dt: ${vs.size} values at ${c.bits} bits, fpp ${fpp(c)}")
        if (c.bits > 64) assert(fpp(c.folded) > BloomBuf.PersistFpp,
          s"$dt: ${vs.size} values stopped at ${c.bits} bits, one fold early")
      }
    }
  }

  test("the aggregate persists the compacted image; its partial buffer keeps 2^20 bits") {
    val agg = BloomSketch(Literal(0L))
    val b = agg.createAggregationBuffer()
    (0L until 100L).foreach { v =>
      val (h1, h2) = BloomBuf.hashes(v, LongType); b.add(h1, h2)
    }
    val img = agg.eval(b).asInstanceOf[Array[Byte]]
    assert(img.sameElements(b.compacted.toBytes))
    // 100 keys: 2^11 bits, 8 header bytes + 256 data bytes
    assert(img.length == 264, s"100-key image is ${img.length} bytes")
    assert(agg.serialize(b).length == 8 + Full / 8)
  }

  test("an empty (all-null) filter compacts to 64 bits and answers no") {
    val agg = BloomSketch(Literal(null, LongType))
    val empty = agg.createAggregationBuffer()
    val c = BloomBuf.fromBytes(agg.eval(empty).asInstanceOf[Array[Byte]])
    assert(c.bits == 64 && c.k == K)
    assert((0L until 1000L).forall { v =>
      val (h1, h2) = BloomBuf.hashes(v, LongType); !c.mightContain(h1, h2)
    })
  }

  test("about 100k distinct values keep the full 2^20 bits") {
    val hs = (0L until 100000L).map(BloomBuf.hashes(_, LongType))
    val full = built(Full, hs)
    assert(full.compacted.bits == Full)
    assert(fpp(full.folded) > BloomBuf.PersistFpp)
  }

  test("fromBytes(toBytes) round-trips at every size") {
    forSamples(valueSets(2000).head._2, 4) { vs =>
      folds(built(Full, vs.map(BloomBuf.hashes(_, LongType)))).foreach { b =>
        val img = b.toBytes
        assert(img.length == 8 + b.bits / 8)
        val back = BloomBuf.fromBytes(img)
        assert(back.bits == b.bits && back.k == b.k &&
          back.words.sameElements(b.words), s"${b.bits} bits")
      }
    }
  }
}
