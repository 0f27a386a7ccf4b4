package graft.dedup

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** `DedupPipeline.bucketPairs` against a brute-force reference written
  * straight from the candidate policy, and its O(cap) streaming bound. */
class BucketPairsSpec extends AnyFunSuite {
  type Row = (Int, Long, Long, Long)

  /** The policy, group by group: at most `cap` rows (and not the star
    * pass) → every unordered pair of rows; otherwise star edges from the
    * group's min doc to every row with another doc; every edge within
    * `maxH` bits of aux. */
  private def reference(rows: Seq[Row], cap: Int, starPass: Int,
      maxH: Int): Seq[(Int, Long, Long)] =
    rows.groupBy(r => (r._1, r._2)).toSeq.flatMap { case ((pass, _), g) =>
      def near(a: Row, b: Row) = java.lang.Long.bitCount(a._4 ^ b._4) <= maxH
      if (pass == starPass || g.size > cap) {
        val mn = g.minBy(_._3)
        g.filter(r => r._3 != mn._3 && near(mn, r)).map(r => (pass, mn._3, r._3))
      } else
        g.indices.flatMap(i => (i + 1 until g.size).map(j => (g(i), g(j))))
          .filter { case (a, b) => near(a, b) }
          .map { case (a, b) => (pass, a._3 min b._3, a._3 max b._3) }
    }

  /** A sorted stream of a few groups over every pass, sizes on both sides
    * of the cap, colliding doc ids (duplicate rows) and a 6-bit aux that is
    * a function of the doc, as a fingerprint is. */
  private val streams: Gen[(Seq[Row], Int, Int)] = for {
    seed <- Gen.choose(0L, Long.MaxValue)
    cap <- Gen.choose(1, 5)
    maxH <- Gen.choose(0, 6)
  } yield {
    val rnd = new scala.util.Random(seed)
    val rows = Seq.fill(rnd.nextInt(12)) {
      val (pass, key) = (rnd.nextInt(3), rnd.nextInt(6).toLong)
      Seq.fill(1 + rnd.nextInt(2 * cap + 2)) {
        val doc = rnd.nextInt(20).toLong
        (pass, key, doc, (doc * 0x9E3779B97F4A7C15L) >>> 58)
      }
    }.flatten.sortBy(r => (r._1, r._2, r._3))
    (rows, cap, maxH)
  }

  test("bucketPairs == brute-force policy on random sorted streams") {
    graft.SeededGen.forAll(streams, 400) { case (rows, cap, maxH) =>
      val got = DedupPipeline.bucketPairs(rows.iterator, cap,
        alwaysStarPass = 2, maxH).toVector
      assert(got.sorted == reference(rows, cap, 2, maxH).sorted,
        s"cap=$cap maxH=$maxH rows=$rows")
    }
  }

  test("an over-cap group streams: first edge within smallCap + 2 rows") {
    val cap = 16
    for (pass <- Seq(0, 2)) {
      var read = 0
      val rows = Iterator.range(0, 1000000).map { i =>
        read += 1
        (pass, 7L, i.toLong, 0L)
      }
      val out = DedupPipeline.bucketPairs(rows, cap, alwaysStarPass = 2,
        DedupPipeline.AnyHamming)
      assert(out.next() == ((pass, 0L, 1L)))
      assert(read <= cap + 2, s"pass $pass read $read rows before its first edge")
      assert(out.size == 1000000 - 2)
      assert(read == 1000000)
    }
  }
}
