package graft.sketch

/** MurmurHash3_x64_128 (Austin Appleby's public-domain algorithm).
  *
  * The reference pins all sketch hashing to MurmurHash3_x64_128 with seed
  * 9001 (/root/reference/datasketches-cpp/common/include/common_defs.hpp:30,
  * cpc/include/cpc_sketch_impl.hpp:191-193). We pin the same function and
  * seed, and — unlike the reference's native-endian `update_u64`
  * (/root/reference/src/wrapper/cpc.rs:49-55) — we fix longs to
  * little-endian bytes so results are machine-independent (SURVEY §1.1).
  */
object Murmur3x64 {
  final val DefaultSeed = 9001L

  private final val C1 = 0x87c37b91114253d5L
  private final val C2 = 0x4cf5ad432745937fL

  @inline private def rotl64(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))

  @inline private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  /** Full 128-bit hash; returns (h1, h2). */
  def hash128(data: Array[Byte], offset: Int, len: Int, seed: Long): (Long, Long) = {
    var h1 = seed
    var h2 = seed
    val nblocks = len / 16
    var i = 0
    while (i < nblocks) {
      val base = offset + i * 16
      var k1 = getLongLE(data, base)
      var k2 = getLongLE(data, base + 8)
      k1 *= C1; k1 = rotl64(k1, 31); k1 *= C2; h1 ^= k1
      h1 = rotl64(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= C2; k2 = rotl64(k2, 33); k2 *= C1; h2 ^= k2
      h2 = rotl64(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      i += 1
    }
    // tail
    val tail = offset + nblocks * 16
    val rem = len & 15
    var k1 = 0L
    var k2 = 0L
    if (rem > 8) {
      var j = rem - 1
      while (j >= 8) { k2 = (k2 << 8) | (data(tail + j) & 0xffL); j -= 1 }
      k2 *= C2; k2 = rotl64(k2, 33); k2 *= C1; h2 ^= k2
    }
    if (rem > 0) {
      var j = math.min(rem, 8) - 1
      while (j >= 0) { k1 = (k1 << 8) | (data(tail + j) & 0xffL); j -= 1 }
      k1 *= C1; k1 = rotl64(k1, 31); k1 *= C2; h1 ^= k1
    }
    h1 ^= len.toLong; h2 ^= len.toLong
    h1 += h2; h2 += h1
    h1 = fmix64(h1); h2 = fmix64(h2)
    h1 += h2; h2 += h1
    (h1, h2)
  }

  def hash128(data: Array[Byte], seed: Long): (Long, Long) =
    hash128(data, 0, data.length, seed)

  /** First 64 bits of the 128-bit hash (how DataSketches derives its 64-bit
    * key) of `len` bytes at `offset`. Same rounds as hash128, but it returns
    * one primitive instead of a tuple, so a per-k-gram loop allocates
    * nothing; SketchSpec pins it to `hash128(...)._1`. */
  def hash64(data: Array[Byte], offset: Int, len: Int, seed: Long): Long = {
    var h1 = seed
    var h2 = seed
    val nblocks = len / 16
    var i = 0
    while (i < nblocks) {
      val base = offset + i * 16
      var k1 = getLongLE(data, base)
      var k2 = getLongLE(data, base + 8)
      k1 *= C1; k1 = rotl64(k1, 31); k1 *= C2; h1 ^= k1
      h1 = rotl64(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= C2; k2 = rotl64(k2, 33); k2 *= C1; h2 ^= k2
      h2 = rotl64(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      i += 1
    }
    val tail = offset + nblocks * 16
    val rem = len & 15
    var k1 = 0L
    var k2 = 0L
    if (rem > 8) {
      var j = rem - 1
      while (j >= 8) { k2 = (k2 << 8) | (data(tail + j) & 0xffL); j -= 1 }
      k2 *= C2; k2 = rotl64(k2, 33); k2 *= C1; h2 ^= k2
    }
    if (rem > 0) {
      var j = math.min(rem, 8) - 1
      while (j >= 0) { k1 = (k1 << 8) | (data(tail + j) & 0xffL); j -= 1 }
      k1 *= C1; k1 = rotl64(k1, 31); k1 *= C2; h1 ^= k1
    }
    h1 ^= len.toLong; h2 ^= len.toLong
    h1 += h2; h2 += h1
    fmix64(h1) + fmix64(h2)
  }

  def hash64(data: Array[Byte], seed: Long = DefaultSeed): Long =
    hash64(data, 0, data.length, seed)

  def hash64(s: String): Long =
    hash64(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), DefaultSeed)

  /** Fixed little-endian widening of a long before hashing (P4 in SURVEY §2.2).
    *
    * Allocation-free single-block specialization of hash128 for an 8-byte
    * input: reading 8 LE bytes of v back as a little-endian long IS v, so
    * the tail reduces to one k1 round (nblocks=0, rem=8, k2=0). Equality
    * with the byte-array path is property-tested in SketchSpec; this is
    * the count-distinct hot loop (millions of updates/sec per core). */
  def hash64Long(v: Long, seed: Long = DefaultSeed): Long = {
    var h1 = seed
    var h2 = seed
    var k1 = v
    k1 *= C1; k1 = rotl64(k1, 31); k1 *= C2; h1 ^= k1
    h1 ^= 8L; h2 ^= 8L
    h1 += h2; h2 += h1
    fmix64(h1) + fmix64(h2)
  }

  /** Fast 64->64 mixer (SplitMix64 finalizer) for per-permutation MinHash
    * re-hashing where a full Murmur pass per permutation would dominate. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline def getLongLE(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) |
      ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) |
      ((b(i + 4) & 0xffL) << 32) |
      ((b(i + 5) & 0xffL) << 40) |
      ((b(i + 6) & 0xffL) << 48) |
      ((b(i + 7) & 0xffL) << 56)

  @inline def putLongLE(b: Array[Byte], i: Int, v: Long): Unit = {
    b(i) = v.toByte
    b(i + 1) = (v >>> 8).toByte
    b(i + 2) = (v >>> 16).toByte
    b(i + 3) = (v >>> 24).toByte
    b(i + 4) = (v >>> 32).toByte
    b(i + 5) = (v >>> 40).toByte
    b(i + 6) = (v >>> 48).toByte
    b(i + 7) = (v >>> 56).toByte
  }
}
