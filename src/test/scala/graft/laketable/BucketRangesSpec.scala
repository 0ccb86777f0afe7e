package graft.laketable

import org.scalatest.funsuite.AnyFunSuite

class BucketRangesSpec extends AnyFunSuite {

  test("range count: the partitions rounded up to a power of two, never more " +
    "than numBuckets") {
    // fewer buckets than tasks: one range per bucket
    assert(BucketRanges.count(numBuckets = 4, partitions = 8) == 4)
    assert(BucketRanges.count(6, 5) == 6)
    assert(BucketRanges.count(64, 4) == 4)
    assert(BucketRanges.count(64, 1) == 1)
    assert(BucketRanges.count(64, 0) == 1)
    assert(BucketRanges.count(64, 2) == 2)
    assert(BucketRanges.count(64, 3) == 4)
    assert(BucketRanges.count(64, 5) == 8)
    assert(BucketRanges.count(64, 6) == 8)
    assert(BucketRanges.count(64, 33) == 64)
    assert(BucketRanges.count(64, 1000) == 64)
  }

  test("the counts the range count can take nest: each range lies inside one " +
    "range of every coarser count") {
    for (n <- Seq(1, 4, 6, 7, 16, 64, 100)) {
      val counts = (1 to 2 * n).map(p => BucketRanges.count(n, p)).distinct
      for (fine <- counts; coarse <- counts if coarse < fine) {
        val (f, c) = (BucketRanges(n, fine), BucketRanges(n, coarse))
        (0 until fine).foreach { r =>
          assert(c.rangeOf(f.lo(r)) == c.rangeOf(f.hi(r)), s"$n: range $r of $fine over $coarse")
        }
      }
    }
  }

  test("ranges tile the buckets contiguously, sizes within one") {
    for (n <- Seq(1, 4, 7, 16, 64); r <- 1 to n) {
      val br = BucketRanges(n, r)
      assert(br.lo(0) == 0 && br.hi(r - 1) == n - 1, s"$n/$r")
      (0 until r - 1).foreach(i => assert(br.hi(i) + 1 == br.lo(i + 1), s"$n/$r at $i"))
      val sizes = (0 until r).map(i => br.hi(i) - br.lo(i) + 1)
      assert(sizes.min >= 1 && sizes.max - sizes.min <= 1, s"$n/$r sizes $sizes")
      (0 until n).foreach { b =>
        val i = br.rangeOf(b)
        assert(br.lo(i) <= b && b <= br.hi(i), s"$n/$r bucket $b in range $i")
      }
    }
    assertThrows[IllegalArgumentException](BucketRanges(4, 5))
    assertThrows[IllegalArgumentException](BucketRanges(4, 0))
  }

  private def files(spans: (Int, Int)*): Seq[DataFileEntry] =
    spans.map { case (lo, hi) => DataFileEntry(s"data/$lo-$hi.parquet", lo, hi, 1L, 0) }

  test("replaced buckets: the touched ranges at a fixed range count, grown to " +
    "the old file span that holds them after the count changes") {
    val four = BucketRanges(16, 4)
    val base = files((0, 3), (0, 3), (4, 7), (8, 11), (8, 11), (12, 15))
    assert(four.replacedBuckets(base, Set(1)) == (4 to 7).toSet)
    assert(four.replacedBuckets(base, Set.empty) == Set.empty)
    assert(four.replacedBuckets(Nil, Set(3)) == (12 to 15).toSet)
    // at 8 ranges, a touched range inside one old file grows to that file
    val eight = BucketRanges(16, 8)
    assert(eight.replacedBuckets(base, Set(2)) == (4 to 7).toSet)
    // at 2 ranges, a touched range covers whole old files and stays itself
    val two = BucketRanges(16, 2)
    assert(two.replacedBuckets(base, Set(0)) == (0 to 7).toSet)
    // spans left by several counts: each touched range grows to the one
    // file span that holds it, and no further
    val mixed = files((0, 7), (8, 9), (10, 11), (12, 15), (12, 12))
    assert(eight.replacedBuckets(mixed, Set(1)) == (0 to 7).toSet)
    assert(eight.replacedBuckets(mixed, Set(4)) == (8 to 9).toSet)
    assert(BucketRanges(16, 16).replacedBuckets(mixed, Set(12)) == (12 to 15).toSet)
    assert(four.replacedBuckets(mixed, Set(2)) == (8 to 11).toSet)
    // a non-nested count (never chosen by `count`) can chain across the table:
    // range 0 of 3 ([0,5]) meets (4,7), which spans range 1, which meets (8,11), ...
    assert(BucketRanges(16, 3).replacedBuckets(base, Set(0)) == (0 to 15).toSet)
  }
}
