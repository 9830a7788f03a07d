package graft

import org.apache.spark.sql.types.IntegerType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{IntArrayData, PackTokens, TokenGen, UInt16ArrayData, UnpackTokens}

/** The token chain in general long arithmetic for every seqId, one `%`
  * per step — the reference [[TokenGen]]'s fast path must reproduce bit
  * for bit. */
object TokenGenReference {
  private final val M = 2147483648L
  private final val A = 1103515245L
  private final val C = 12345L

  def tokens(seqId: Long, nTok: Int): Array[Int] = {
    val s = ((seqId % M) * 131071L + 524287L) % M
    val out = new Array[Int](if (nTok < 0) 0 else nTok)
    var j = 1
    while (j <= out.length) {
      val u = (s + j * 48271L) % M
      val v = u ^ (u >>> 15)
      out(j - 1) = (((v * A + C) % M) % TokenGen.Vocab).toInt
      j += 1
    }
    out
  }
}

/** Property checks (fixed seeds, deterministic) for the token kernels:
  * the strength-reduced generator against [[TokenGenReference]], the
  * fused packed generator against `PackTokens ∘ compute` — outcome AND
  * exception — and the zero-copy unpack view against [[IntArrayData]]. */
class TokenGenPropSpec extends AnyFunSuite {
  private val Cases = 10000

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  private val seqIdGen: Gen[Long] = Gen.frequency(
    4 -> Gen.choose(-(1L << 31), -1L),
    2 -> Gen.choose(Long.MinValue, -1L),
    4 -> Gen.choose(0L, 1L << 31),
    3 -> Gen.choose(0L, 1L << 53),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, Long.MinValue + 1, Long.MaxValue - 1,
      0L, -1L, 1L << 31, -(1L << 31), (1L << 31) - 1, 1L << 53, -(1L << 53)))

  private val nTokGen: Gen[Int] = Gen.frequency(
    1 -> Gen.choose(Int.MinValue, -1),
    1 -> Gen.oneOf(0, 1, 2048, 4096),
    4 -> Gen.choose(0, 600))

  private lazy val cases: Seq[(Long, Int)] =
    sample(Gen.zip(seqIdGen, nTokGen), Cases, 20260417L)

  private def ints(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[Int] =
    (0 until a.numElements()).map(a.getInt)

  test(s"compute matches the reference chain on $Cases generated (seqId, nTok)") {
    cases.foreach { case (id, n) =>
      assert(ints(TokenGen.compute(id, n)) === TokenGenReference.tokens(id, n).toSeq,
        s"seqId=$id nTok=$n")
    }
  }

  test(s"computePacked ≡ PackTokens.compute ∘ compute, throwing included ($Cases cases)") {
    def outcome(f: => Array[Byte]): Either[(Class[_], String), Seq[Byte]] =
      try Right(f.toSeq)
      catch { case e: IllegalArgumentException => Left((e.getClass, e.getMessage)) }
    var threw = 0
    cases.foreach { case (id, n) =>
      val fused = outcome(TokenGen.computePacked(id, n))
      val twoStep = outcome(PackTokens.compute(TokenGen.compute(id, n)))
      assert(fused === twoStep, s"seqId=$id nTok=$n")
      if (fused.isLeft) threw += 1
    }
    // the negative-seed path does reach tokens outside uint16
    assert(threw > 0)
  }

  test(s"UnpackTokens(PackTokens(a)) == a on $Cases random uint16 arrays") {
    val arrays = sample(Gen.frequency(
      1 -> Gen.const(List.empty[Int]),
      1 -> Gen.oneOf(List(0), List(65535), List(0, 1, 255, 256, 65535)),
      8 -> Gen.listOf(Gen.choose(0, 65535))), Cases, 7L)
    arrays.foreach { a =>
      val back = UnpackTokens.compute(PackTokens.compute(new IntArrayData(a.toArray)))
      assert(ints(back) === a)
    }
  }

  test("the unpack view reads like IntArrayData: get, copy, toIntArray, array") {
    val arrays = sample(Gen.listOf(Gen.choose(0, 65535)), 2000, 11L).map(_.toArray)
    arrays.foreach { a =>
      val bytes = PackTokens.compute(new IntArrayData(a))
      val view = UnpackTokens.compute(bytes)
      val old = new IntArrayData(a)
      assert(view.isInstanceOf[UInt16ArrayData])
      assert(view.numElements() === old.numElements())
      assert(view.toIntArray().toSeq === old.toIntArray().toSeq)
      assert(view.array.toSeq === old.array.toSeq)
      assert(view.toString === old.toString)
      a.indices.foreach { i =>
        assert(view.get(i, IntegerType) === old.get(i, IntegerType))
        assert(view.getLong(i) === old.getLong(i))
        assert(!view.isNullAt(i))
      }
      val c = view.copy()
      assert(c.toIntArray().toSeq === old.copy().toIntArray().toSeq)
      // the copy owns its bytes: it survives a change to the original
      if (bytes.nonEmpty) {
        bytes(0) = (bytes(0) ^ 1).toByte
        assert(c.toIntArray().toSeq === a.toSeq)
      }
    }
  }
}
