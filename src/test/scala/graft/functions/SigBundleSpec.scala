package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** r7 optimization equivalence pins: the fused signature bundle, the
  * branch-free simhash, the merge-based intersect/jaccard, and the loop
  * pair enumerator must be VALUE-IDENTICAL to the expressions they
  * replaced — these kernels feed oracle-checked queries whose results may
  * not change. Deterministic seeded sampling (see KernelPropertiesSpec). */
class SigBundleSpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 80)(f: A => Unit): Unit =
    graft.SeededGen.forAll(gen, n)(f)

  private def arr(tokens: Seq[String]) =
    new GenericArrayData(tokens.map(t => UTF8String.fromString(t)).toArray[Any])

  private val token: Gen[String] = Gen.choose(0, 300).map(i => s"w$i")
  private def tokensGen(min: Int, max: Int): Gen[List[String]] =
    Gen.choose(min, max).flatMap(n => Gen.listOfN(n, token))

  private def longs(a: ArrayData): Seq[Long] =
    (0 until a.numElements()).map(a.getLong)

  test("fused bundle == individual expressions (all families, defaults)") {
    forAll(tokensGen(0, 250)) { toks =>
      val t = arr(toks)
      val b = SigBundleExpr.bundle(t, 5, 128, 40, 21,
        runMinhash = true, runSimhash = true, runWinnow = true, 42L)
      assert(longs(b.getArray(0)) ==
        longs(ShingleHashesExpr.shingles(t, 5, 42L).asInstanceOf[ArrayData]))
      assert(longs(b.getArray(1)) ==
        longs(MinHashSigExpr.signature(
          ShingleHashesExpr.shingles(t, 5, 42L).asInstanceOf[ArrayData],
          128, 42L).asInstanceOf[ArrayData]))
      assert(b.getLong(2) == SimHash64Expr.simhash(t, 42L))
      assert(longs(b.getArray(3)) ==
        longs(WinnowExpr.fingerprints(t, 40, 21, 42L).asInstanceOf[ArrayData]))
    }
  }

  test("fused bundle partial-family field layout (minhash off)") {
    val t = arr(Seq("a", "b", "c", "d", "e", "f"))
    val b = SigBundleExpr.bundle(t, 5, 128, 20, 11,
      runMinhash = false, runSimhash = true, runWinnow = true, 42L)
    assert(b.numFields == 2)
    assert(b.getLong(0) == SimHash64Expr.simhash(t, 42L))
    assert(longs(b.getArray(1)) ==
      longs(WinnowExpr.fingerprints(t, 20, 11, 42L).asInstanceOf[ArrayData]))
  }

  test("branch-free simhash == reference ±1-vote definition") {
    forAll(tokensGen(0, 200)) { toks =>
      val t = arr(toks)
      val got = SimHash64Expr.simhash(t, 42L)
      // reference form: per-bit ±1 votes, sign sets the bit
      val acc = new Array[Int](64)
      toks.foreach { tok =>
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(UTF8String.fromString(tok), 42L)
        (0 until 64).foreach { b =>
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        }
      }
      var want = 0L
      (0 until 64).foreach { b => if (acc(b) > 0) want |= (1L << b) }
      assert(got == want)
    }
  }

  private val sortedLongs: Gen[Array[Long]] =
    Gen.choose(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 40L))).map(_.distinct.sorted.toArray)

  test("merge intersect count == array_intersect cardinality on sorted-" +
    "distinct arrays (and jaccard reproduces the column formula)") {
    forAll(Gen.zip(sortedLongs, sortedLongs)) { case (a, b) =>
      val ad = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(a)
      val bd = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(b)
      val want = a.toSet.intersect(b.toSet).size.toLong
      assert(SortedIntersectCountExpr.count(ad, bd) == want)
      val inter = want.toDouble
      val uni = (a.length + b.length).toDouble - inter
      val wantJ = if (uni > 0) inter / uni else 0.0
      assert(SortedJaccardExpr.jaccard(ad, bd) == wantJ)
    }
  }

  test("merge intersect skips duplicate runs (sorted non-distinct input)") {
    val a = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(1L, 1L, 2L, 3L, 3L))
    val b = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(1L, 3L, 3L, 4L))
    assert(SortedIntersectCountExpr.count(a, b) == 2L) // {1, 3}
  }
}
