package graft

import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.functions.{TextHashes, VecKernels}

/** Property-style kernel checks over seeded random inputs — the oracle
  * gate covers the corpus distribution; these cover the corners
  * (unicode, empty strings, degenerate arrays, adversarial tokens).
  */
class KernelPropertySpec extends SparkSpec {

  private val rnd = new scala.util.Random(421)
  private val pieces = Array("data", "a", "", "über", "a-b", "123", "x9", "zz")

  private def randText(): String =
    Seq.fill(rnd.nextInt(12))(pieces(rnd.nextInt(pieces.length))).mkString(" ")

  private val N = 300

  test("wordNGramHashes is sorted, distinct, size-bounded, count-matches") {
    (1 to N).foreach { _ =>
      val t = randText()
      val a = TextHashes.wordNGramHashes(UTF8String.fromString(t), 3)
      val xs = (0 until a.numElements()).map(a.getLong)
      assert(xs === xs.sorted, s"text=$t")
      assert(xs.distinct.size === xs.size, s"text=$t")
      val nToks = t.split("\\s+", -1).length
      assert(xs.size <= math.max(0, nToks - 2), s"text=$t")
      val g = TextHashes.wordNGrams(UTF8String.fromString(t), 3)
      assert(a.numElements() === g.numElements(), s"text=$t")
    }
  }

  test("sortedIntersectCountLong == set intersection size") {
    (1 to N).foreach { _ =>
      val xs = Seq.fill(rnd.nextInt(30))(rnd.nextInt(100).toLong - 50)
      val ys = Seq.fill(rnd.nextInt(30))(rnd.nextInt(100).toLong - 50)
      val a = new GenericArrayData(xs.distinct.sorted.toArray)
      val b = new GenericArrayData(ys.distinct.sorted.toArray)
      assert(TextHashes.sortedIntersectCountLong(a, b) ===
        (xs.toSet & ys.toSet).size.toLong, s"xs=$xs ys=$ys")
    }
  }

  test("termCounts: header is token count, per-term counts exact") {
    val terms = new GenericArrayData(Array[Any](
      UTF8String.fromString("data"), UTF8String.fromString("a")))
    (1 to N).foreach { _ =>
      val t = randText()
      val out = TextHashes.termCounts(UTF8String.fromString(t), terms)
      val toks = t.toLowerCase.split("\\s+", -1)
      assert(out.getLong(0) === toks.length.toLong, s"text=$t")
      assert(out.getLong(1) === toks.count(_ == "data").toLong, s"text=$t")
      assert(out.getLong(2) === toks.count(_ == "a").toLong, s"text=$t")
    }
  }

  test("quantize: bounds, sign preservation, max-abs hits +/-127") {
    (1 to N).foreach { _ =>
      val xs = Seq.fill(1 + rnd.nextInt(16))(rnd.nextFloat() * 20.0f - 10.0f)
      val a = new GenericArrayData(xs.toArray)
      val q = VecKernels.quantize(a)
      val qs = (0 until q.numElements()).map(q.getLong)
      assert(qs.forall(v => v >= -127 && v <= 127), s"xs=$xs")
      val maxAbs = xs.map(math.abs).max
      if (maxAbs > 0) {
        val i = xs.indexWhere(v => math.abs(v) == maxAbs)
        assert(math.abs(qs(i)) === 127L, s"xs=$xs qs=$qs")
        xs.zip(qs).foreach { case (x, qv) =>
          if (x > 0) assert(qv >= 0, s"xs=$xs") else if (x < 0) assert(qv <= 0, s"xs=$xs")
        }
      } else assert(qs.forall(_ === 0L))
    }
  }

  test("winnowFingerprints: non-empty iff text >= k, values in field") {
    (1 to N).foreach { _ =>
      val t = randText()
      val fp = TextHashes.winnowFingerprints(UTF8String.fromString(t), 8, 4)
      val n = fp.numElements()
      if (t.length >= 8) assert(n >= 1, s"text=$t") else assert(n === 0, s"text=$t")
      (0 until n).foreach(i =>
        assert(fp.getLong(i) >= 0 && fp.getLong(i) < 1000000007L, s"text=$t"))
    }
  }

  test("signBits: word-wise MSB-first fold, bit set iff element positive") {
    (1 to N).foreach { _ =>
      val n = rnd.nextInt(70) + 1
      val v = Array.fill(n)((rnd.nextFloat() - 0.5f) * (if (rnd.nextBoolean()) 1f else 0f))
      val sig = VecKernels.signBits(new GenericArrayData(v.map(Float.box)))
      assert(sig.numElements() === (n + 31) / 32)
      val words = (0 until sig.numElements()).map(sig.getLong)
      // reference fold: acc*2 + bit, 32 dims per word, zero-padded tail
      val expected = words.indices.map { w =>
        (0 until 32).foldLeft(0L) { (acc, j) =>
          val i = 32 * w + j
          acc * 2 + (if (i < n && v(i) > 0f) 1L else 0L)
        }
      }
      assert(words === expected)
      words.foreach(w => assert(w >= 0L && w <= 0xFFFFFFFFL))
    }
  }

  test("cosF is symmetric and bounded for nonzero vectors") {
    (1 to N).foreach { _ =>
      val gen = () => Seq.fill(8)(rnd.nextFloat() * 10.0f - 5.0f)
      var xs = gen(); while (!xs.exists(_ != 0.0f)) xs = gen()
      var ys = gen(); while (!ys.exists(_ != 0.0f)) ys = gen()
      val a = new GenericArrayData(xs.toArray)
      val b = new GenericArrayData(ys.toArray)
      val c1 = VecKernels.cosF(a, b)
      val c2 = VecKernels.cosF(b, a)
      assert(c1 === c2)
      assert(c1 >= -1.0000001 && c1 <= 1.0000001, s"xs=$xs ys=$ys")
    }
  }

  test("round6 equals Spark's round(x, 6), NaN, ±Inf, -0.0 and half-way values included") {
    import org.apache.spark.sql.functions.{col, round}
    import spark.implicits._
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      Double.MaxValue, Double.MinValue, Double.MinPositiveValue, 5e-7, -5e-7, 1.2345675, -2.5e-6)
    // k·1e-6 + 5e-7: on the 7th-decimal half-way point of the rounding grid
    val halfway = Seq.fill(N)((rnd.nextInt(2000001) - 1000000) * 1e-6 + 5e-7)
    val scaled = Seq.fill(N)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(16) - 8))
    val bits = Seq.fill(N)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    val xs = (special ++ halfway ++ scaled ++ bits).zipWithIndex.toDF("x", "i")
    val want = xs.select(col("i"), round(col("x"), 6))
    // the local relation folds the projection on the driver (interpreted
    // Round); the repartitioned twin runs it in generated code
    Seq(want, xs.repartition(2).select(col("i"), round(col("x"), 6))).foreach { df =>
      val got = df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      (special ++ halfway ++ scaled ++ bits).zipWithIndex.foreach { case (x, i) =>
        assert(java.lang.Double.doubleToLongBits(VecKernels.round6(x)) ===
          java.lang.Double.doubleToLongBits(got(i)), s"x=$x")
      }
    }
  }

  test("minhashSigs: componentwise-min monotone under shingle union") {
    (1 to N).foreach { _ =>
      val sA = Seq.fill(1 + rnd.nextInt(8))(randText()).distinct
        .map(x => UTF8String.fromString(x): Any)
      val sB = Seq.fill(1 + rnd.nextInt(8))(randText()).distinct
        .map(x => UTF8String.fromString(x): Any)
      val sigA = TextHashes.minhashSigs(new GenericArrayData(sA.toArray))
      val sigU = TextHashes.minhashSigs(new GenericArrayData((sA ++ sB).toArray))
      (0 until 12).foreach { p =>
        assert(sigU.getLong(p) <= sigA.getLong(p))
      }
    }
  }
}
