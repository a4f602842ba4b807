package graft

import graft.sketch._
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM sketch tests mirroring the reference's unit level (SURVEY §5):
  * accuracy bands across fill levels, empty-sketch zero, serde round-trips,
  * corrupt-input failure, merge/partition equivalence. */
class SketchSpec extends AnyFunSuite {

  test("murmur3 x64-128: deterministic, offset-consistent, tail-sensitive") {
    val data = Array.tabulate[Byte](64)(i => (i * 7 + 3).toByte)
    // hashing a slice == hashing a copy of the slice, for every tail length
    for (len <- 0 to 40) {
      val slice = java.util.Arrays.copyOfRange(data, 5, 5 + len)
      assert(Murmur3x64.hash128(data, 5, len, 9001L) == Murmur3x64.hash128(slice, 9001L))
    }
    // distinct lengths give distinct hashes (tail handling exercises all 16 paths)
    val hs = (0 to 40).map(len => Murmur3x64.hash128(data, 0, len, 9001L))
    assert(hs.distinct.size == hs.size)
    // seed changes the hash
    assert(Murmur3x64.hash64("abc".getBytes, 9001L) != Murmur3x64.hash64("abc".getBytes, 9002L))
  }

  test("distinct sketch: exact below nomK, including empty") {
    val sk = new DistinctSketch(1024)
    assert(sk.estimate == 0.0)
    (1 to 1000).foreach(i => sk.update(s"item-$i"))
    (1 to 1000).foreach(i => sk.update(s"item-$i")) // duplicates: no effect
    assert(sk.estimate == 1000.0)
    assert(sk.compact().isExact)
  }

  test("distinct sketch: accuracy within ±5% across fill levels (cpc.rs:116-134 analog)") {
    val k = 4096
    for (n <- Seq(10000, 100000, 1000000)) {
      val sk = new DistinctSketch(k)
      var i = 0
      while (i < n) { sk.updateLong(i.toLong); i += 1 }
      val est = sk.estimate
      assert(est > 0.95 * n && est < 1.05 * n, s"n=$n est=$est")
    }
  }

  test("distinct sketch: serde round-trip x3 preserves state (check_cycle analog)") {
    val sk = new DistinctSketch(256)
    (1 to 5000).foreach(i => sk.update(s"v$i"))
    var c = sk.compact()
    for (_ <- 1 to 3) {
      val c2 = DistinctSketch.deserialize(c.serialize())
      assert(c2.theta == c.theta && c2.hashes.toSeq == c.hashes.toSeq && c2.nomK == c.nomK)
      c = c2
    }
  }

  test("distinct sketch: garbage deserialization fails loudly") {
    intercept[Exception](DistinctSketch.deserialize(Array[Byte](9, 1, 2, 3)))
    intercept[Exception](DistinctSketch.deserialize(Array[Byte](1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 127, -1, -1, -1)))
  }

  test("distinct sketch: canonical compacts are bit-identical under any partitioning") {
    val n = 300000
    val k = 1024
    def sketchOf(items: Iterator[Long]): DistinctSketch.Compact = {
      val sk = new DistinctSketch(k)
      items.foreach(sk.updateLong)
      sk.compact()
    }
    val single = sketchOf((0L until n).iterator)
    // modulo thirds and contiguous thirds (the reference's two split styles,
    // src/main.rs:260-335)
    val mod = DistinctSketch.union((0 until 3).map(r => sketchOf((0L until n).iterator.filter(_ % 3 == r))))
    val contig = DistinctSketch.union((0 until 3).map(r => sketchOf(((r * n / 3).toLong until ((r + 1) * n / 3).toLong).iterator)))
    assert(mod.theta == single.theta && mod.hashes.toSeq == single.hashes.toSeq)
    assert(contig.theta == single.theta && contig.hashes.toSeq == single.hashes.toSeq)
  }

  test("theta set algebra: union/intersect/aNotB within ±5% (theta.rs:197-270 analog)") {
    val k = 4096
    def sketchRange(lo: Int, hi: Int): DistinctSketch.Compact = {
      val sk = new DistinctSketch(k)
      (lo until hi).foreach(i => sk.updateLong(i.toLong))
      sk.compact()
    }
    val a = sketchRange(0, 100000)      // |A| = 100k
    val b = sketchRange(50000, 150000)  // |B| = 100k, |A∩B| = 50k
    val u = DistinctSketch.union(Seq(a, b)).estimate
    val i = DistinctSketch.intersect(a, b).estimate
    val d = DistinctSketch.aNotB(a, b).estimate
    assert(u > 0.95 * 150000 && u < 1.05 * 150000, s"union=$u")
    assert(i > 0.93 * 50000 && i < 1.07 * 50000, s"intersect=$i")
    assert(d > 0.93 * 50000 && d < 1.07 * 50000, s"aNotB=$d")
  }

  test("theta intersection: empty merge = universe (None) like ThetaIntersection") {
    val inter = new DistinctSketch.Intersection
    assert(inter.sketch.isEmpty)
    val sk = new DistinctSketch(64)
    sk.update("x")
    inter.merge(sk.compact())
    assert(inter.sketch.isDefined && inter.sketch.get.estimate == 1.0)
  }

  test("freq sketch: exact under capacity; lb<=true<=ub always (hh.rs:296-410 analog)") {
    val sk = FreqSketch.forTopK(3) // lgMaxK = floor(log2 3)+2 = 3 -> maxMapSize 6
    assert(sk.lgMaxK == 3)
    // under capacity -> exact
    val small = new FreqSketch(10)
    val truth = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (i <- 1 to 100; j <- 1 to (i % 7) + 1) { small.update(s"k$i"); truth(s"k$i") += 1 }
    assert(small.isExact)
    truth.foreach { case (it, c) => assert(small.lowerBound(it) == c && small.upperBound(it) == c) }
    // over capacity -> bounds hold
    val big = new FreqSketch(4) // maxMapSize 12
    val truth2 = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50000) {
      val it = s"i${if (rnd.nextDouble() < 0.5) rnd.nextInt(5) else 5 + rnd.nextInt(1000)}"
      big.update(it)
      truth2(it) += 1
    }
    truth2.foreach { case (it, c) =>
      assert(big.lowerBound(it) <= c, s"$it lb ${big.lowerBound(it)} > $c")
      assert(big.upperBound(it) >= c, s"$it ub ${big.upperBound(it)} < $c")
    }
    // heavies (freq ~25k/5) must be reported in top-5 by ub
    val top = big.topK(5).map(_._1).toSet
    (0 until 5).foreach(h => assert(top.contains(s"i$h"), s"heavy i$h missing from $top"))
  }

  test("murmur3 long fast path equals the byte-array path for any input") {
    val rnd = new scala.util.Random(7)
    val inputs = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue) ++ Seq.fill(1000)(rnd.nextLong())
    inputs.foreach { v =>
      val b = new Array[Byte](8)
      Murmur3x64.putLongLE(b, 0, v)
      assert(Murmur3x64.hash64Long(v) == Murmur3x64.hash64(b, Murmur3x64.DefaultSeed), s"v=$v")
      assert(Murmur3x64.hash64Long(v, 1234L) == Murmur3x64.hash64(b, 1234L), s"v=$v seed")
    }
  }

  test("murmur3 64-bit hash at an offset equals the first half of hash128") {
    val rnd = new scala.util.Random(13)
    val data = Array.fill[Byte](96)(rnd.nextInt(256).toByte)
    for (off <- 0 to 20; len <- 0 to (data.length - off) by 3; seed <- Seq(9001L, -1L, 0L)) {
      assert(Murmur3x64.hash64(data, off, len, seed) == Murmur3x64.hash128(data, off, len, seed)._1,
        s"off=$off len=$len seed=$seed")
    }
    (0 until 500).foreach { _ =>
      val b = Array.fill[Byte](rnd.nextInt(64))(rnd.nextInt(256).toByte)
      val s = rnd.nextLong()
      assert(Murmur3x64.hash64(b, 0, b.length, s) == Murmur3x64.hash128(b, s)._1)
    }
  }

  test("freq sketch: no-FP view is a subset of no-FN view with true positives only (hh.rs:153-165)") {
    val sk = new FreqSketch(4) // tiny: maxMapSize 12, forces purging
    val truth = scala.collection.mutable.HashMap.empty[String, Long]
    val rnd = new scala.util.Random(3)
    (1 to 50000).foreach { _ =>
      // zipf-ish: few heavies, long tail
      val item = if (rnd.nextDouble() < 0.5) s"h${rnd.nextInt(3)}" else s"t${rnd.nextInt(5000)}"
      sk.update(item)
      truth.updateWith(item) { c => Some(c.getOrElse(0L) + 1L) }
    }
    assert(!sk.isExact) // purging definitely happened
    val noFn = sk.rows.map(_._1).toSet
    val noFp = sk.rowsNoFp.map(_._1).toSet
    assert(noFp.subsetOf(noFn))
    // every surviving item keeps lb <= true <= ub
    sk.rows.foreach { case (item, _, lb, ub) =>
      val t = truth(item)
      assert(lb <= t && t <= ub, s"$item: lb=$lb true=$t ub=$ub")
    }
    // heavies are found by BOTH views (true count >> error bound)
    (0 until 3).foreach { i => assert(noFp.contains(s"h$i")) }
  }

  test("freq sketch: weighted updates match replicated updates exactly") {
    val w = new FreqSketch(8)
    val r = new FreqSketch(8)
    val items = Seq(("a", 5L), ("b", 3L), ("a", 2L), ("c", 1L))
    items.foreach { case (it, wt) => w.update(it, wt) }
    items.foreach { case (it, wt) => (1L to wt).foreach(_ => r.update(it)) }
    assert(w.rows == r.rows)
    assert(w.streamWeight == r.streamWeight && w.streamWeight == 11L)
  }

  test("simhash combo buckets: pigeonhole guarantee at hamming <= 4, key distinctness") {
    val rnd = new scala.util.Random(11)
    (1 to 200).foreach { _ =>
      val a = rnd.nextLong()
      // flip up to 4 random bits
      var b = a
      val d = rnd.nextInt(5)
      (1 to d).foreach(_ => b ^= (1L << rnd.nextInt(64)))
      val ka = SimHasher.comboBucketKeys(a).toSet
      val kb = SimHasher.comboBucketKeys(b).toSet
      assert(ka.size == 15 && kb.size <= 15)
      if (SimHasher.hammingDistance(a, b) <= 4)
        assert(ka.intersect(kb).nonEmpty, s"hamming ${SimHasher.hammingDistance(a, b)} pair missed")
    }
    // unrelated hashes collide rarely: measure on random pairs
    val collisions = (1 to 2000).count { _ =>
      SimHasher.comboBucketKeys(rnd.nextLong()).toSet
        .intersect(SimHasher.comboBucketKeys(rnd.nextLong()).toSet).nonEmpty
    }
    assert(collisions <= 2, s"junk collision rate too high: $collisions/2000") // p ~ 15*2^-21
  }

  test("freq sketch: merge preserves bounds and exactness composition") {
    val a = new FreqSketch(8)
    val b = new FreqSketch(8)
    (1 to 50).foreach(i => a.update(s"x${i % 10}"))
    (1 to 70).foreach(i => b.update(s"x${i % 14}"))
    a.merge(b)
    assert(a.isExact)
    assert(a.lowerBound("x0") == 5 + 5) // 50/10 + 70/14
    assert(a.streamWeight == 120)
    // serde round-trip
    val c = FreqSketch.deserialize(a.serialize())
    assert(c.rows == a.rows && c.streamWeight == a.streamWeight)
  }

  test("freq sketch: sizing rule lg2_k = floor(log2 k)+2 (counters.rs:166-175)") {
    assert(FreqSketch.lgSizeForTopK(1) == 3) // max(0,1)+2 ... reference: max(floor(log2 1),1)+2 = 3
    assert(FreqSketch.lgSizeForTopK(3) == 3)
    assert(FreqSketch.lgSizeForTopK(4) == 4)
    assert(FreqSketch.lgSizeForTopK(100) == 8)
  }

  test("minhash: estimates Jaccard within statistical tolerance and is deterministic") {
    val mh = new MinHasher(256)
    val rnd = new scala.util.Random(7)
    val base = Array.fill(1000)(rnd.nextLong())
    // sets with true Jaccard ~ 0.8: share 800 of 1000, each has 100 unique
    val extra1 = Array.fill(100)(rnd.nextLong())
    val extra2 = Array.fill(100)(rnd.nextLong())
    val s1 = base.take(800) ++ extra1  // 900 elements
    val s2 = base.take(800) ++ extra2
    val trueJ = 800.0 / 1000.0
    val est = mh.estimateJaccard(mh.signature(s1), mh.signature(s2))
    assert(math.abs(est - trueJ) < 0.1, s"est=$est true=$trueJ")
    assert(mh.signature(s1).toSeq == mh.signature(s1.reverse).toSeq) // order-free
    // incremental == batch
    val sig = Array.fill(256)(Long.MaxValue)
    s1.foreach(h => mh.updateSignature(sig, h))
    assert(sig.toSeq == mh.signature(s1).toSeq)
  }

  test("lsh banding: collision prob follows the S-curve; band hashes deterministic") {
    val sig1 = new MinHasher(128).signature(Array(1L, 2L, 3L))
    assert(MinHasher.bandHashes(sig1, 32, 4).toSeq == MinHasher.bandHashes(sig1, 32, 4).toSeq)
    // at the reference config b=32,r=4: J=0.8 collides with p>0.9999; J=0.2 rarely
    assert(MinHasher.collisionProbability(0.8, 32, 4) > 0.9999)
    assert(MinHasher.collisionProbability(0.2, 32, 4) < 0.06)
  }

  test("simhash: similar token sets land within small Hamming distance") {
    val rnd = new scala.util.Random(11)
    val toks = Array.fill(300)(rnd.nextLong())
    val a = SimHasher.simhash(toks)
    val toksB = toks.clone(); toksB(0) = rnd.nextLong(); toksB(1) = rnd.nextLong()
    val b = SimHasher.simhash(toksB)
    assert(SimHasher.hammingDistance(a, b) <= 8)
    val unrelated = SimHasher.simhash(Array.fill(300)(rnd.nextLong()))
    assert(SimHasher.hammingDistance(a, unrelated) > 16)
    // bucket keys: pigeonhole property — hamming<=3 with 4 chunks shares a bucket
    val ka = SimHasher.bucketKeys(a, 4).toSet
    val kb = SimHasher.bucketKeys(b, 4).toSet
    if (SimHasher.hammingDistance(a, b) <= 3) assert(ka.intersect(kb).nonEmpty)
  }

  test("simhash md5 token hash: big-endian first 8 md5 bytes, pinned values") {
    // pins the hash convention the q_simhash_md5 DuckDB oracle replays
    // (CAST(concat('0x', substr(md5(w),1,16)) AS UBIGINT)); if the UDF's
    // byte order or digest ever drifts, this fails before the driver gate
    def h64(w: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    // md5("abc") = 900150983cd24fb0... -> 0x900150983cd24fb0
    assert(h64("abc") == 0x900150983cd24fb0L)
    // the full simhash fold over "hello world hello" (duplicates kept),
    // cross-checked against DuckDB 1.0 and an independent python fold
    val toks = "hello world hello".split(' ').map(h64)
    assert(SimHasher.simhash(toks) == 6719722671305337462L)
  }
}
