package graft.laketable

import graft.PropSupport
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

class BucketRangesSpec extends AnyFunSuite with PropSupport {

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

  /** The replaced-bucket fixpoint commits ran before listed spans were known
    * to nest, kept as the oracle of the one overlap pass: the `touched`
    * ranges, grown by every range that a file of `files` meeting them spans,
    * until no file straddles the edge.
    */
  private def fixpoint(ranges: BucketRanges, files: Seq[DataFileEntry],
      touched: Set[Int]): Set[Int] = {
    @scala.annotation.tailrec
    def grow(rs: Set[Int]): Set[Int] = {
      val buckets = rs.flatMap(r => ranges.lo(r) to ranges.hi(r))
      val spanned = files.filter(f => (f.lo to f.hi).exists(buckets))
        .flatMap(f => ranges.rangeOf(f.lo) to ranges.rangeOf(f.hi)).toSet
      if (spanned.subsetOf(rs)) buckets else grow(rs ++ spanned)
    }
    grow(touched)
  }

  test("one overlap pass drops what the replaced-bucket fixpoint did, and commits " +
    "keep listed spans equal or disjoint and each bucket in at most 2 files") {
    forAllSeeded(200)(Gen.zip(Gen.choose(1, 128), Gen.long)) { case (n, seed) =>
      val rnd = new scala.util.Random(seed)
      var listed = Seq.empty[DataFileEntry]
      var next = 0
      def file(ranges: BucketRanges, r: Int): DataFileEntry = {
        next += 1
        DataFileEntry(s"data/$next.parquet", ranges.lo(r), ranges.hi(r), 1L, 0)
      }
      for (step <- 1 to 24) {
        val ranges = BucketRanges(n, BucketRanges.count(n, 1 + rnd.nextInt(2 * n)))
        val at = s"$n buckets, seed $seed, step $step at ${ranges.count} ranges"
        // a batch writes one file per touched range and kind: upserts,
        // delete keys or both; only the upserts are listed
        val density = rnd.nextDouble()
        val touched = (0 until ranges.count).filter(_ => rnd.nextDouble() < density)
        val kinds = touched.map(r => r -> (1 + rnd.nextInt(3))).toMap
        val upserts = touched.filter(r => (kinds(r) & 1) != 0).map(file(ranges, _))
        val deletes = touched.filter(r => (kinds(r) & 2) != 0).map(file(ranges, _))
        val replaced = DataFileEntry.overlapping(listed, upserts ++ deletes)
        // (c) the fixpoint's buckets cover the same files, and are the
        // buckets of the written and replaced spans (lineage `buckets`)
        val oracle = fixpoint(ranges, listed, touched.toSet)
        assert(replaced == listed.filter(f => (f.lo to f.hi).exists(oracle)), at)
        assert((upserts ++ deletes ++ replaced).flatMap(f => f.lo to f.hi).toSet == oracle, at)
        // survivors of a replaced span land in the new ranges that meet it,
        // unless the batch overwrote every row there
        val survivorRanges = (0 until ranges.count).filter(r =>
          replaced.exists(f => f.lo <= ranges.hi(r) && ranges.lo(r) <= f.hi))
        val survivors = survivorRanges.filter(_ => rnd.nextInt(4) > 0).map(file(ranges, _))
        val dropped = replaced.map(_.path).toSet
        listed = listed.filterNot(f => dropped(f.path)) ++ upserts ++ survivors
        // (a) listed spans are pairwise equal or disjoint
        TableFiles.assertSpansNest(listed)
        // (b) no bucket is held by more than 2 files
        (0 until n).foreach(b => assert(listed.count(_.holds(b)) <= 2, s"$at: bucket $b"))
      }
    }
  }
}
