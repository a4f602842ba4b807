package graft.audio

import graft.sketch.{MinHasher, Murmur3x64}

/** Audio handling for the clips table (`bytes BINARY` + typed metadata).
  *
  * v1 codec surface is `pcm_s16le` with a real decoder; any other codec
  * string is handled by a clearly-marked deterministic STUB decoder (the
  * container has no media libraries — SURVEY §7.6 risk 3). The Spark-side
  * plumbing (binary column in, fingerprint set out, one map pass, no
  * shuffle) is real and tested either way.
  */
object Pcm {
  final val CodecPcmS16le = "pcm_s16le"

  /** Decode little-endian signed 16-bit PCM to [-1, 1] doubles. */
  def decodePcmS16le(bytes: Array[Byte]): Array[Double] = {
    val n = bytes.length / 2
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val s = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort
      out(i) = s / 32768.0
      i += 1
    }
    out
  }

  def encodePcmS16le(samples: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      // symmetric 32768 scale on both sides keeps round-trip error at
      // 0.5 LSB (clamped only at exactly +1.0 full scale)
      val v = math.max(-1.0, math.min(1.0, samples(i)))
      val s = math.min(32767L, math.round(v * 32768.0)).toShort
      out(2 * i) = (s & 0xff).toByte
      out(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Codec dispatch. Non-PCM codecs -> STUB: a deterministic fake decode
    * (seeded from the payload hash) standing in for ffmpeg-style decoders
    * that are unavailable offline. Marked so callers/tests can tell. */
  def decode(bytes: Array[Byte], codec: String): Array[Double] = codec match {
    case CodecPcmS16le => decodePcmS16le(bytes)
    case _             => stubDecode(bytes)
  }

  /** STUB decoder: deterministic pseudo-audio from the payload bytes. */
  def stubDecode(bytes: Array[Byte]): Array[Double] = {
    val n = math.max(256, bytes.length / 2)
    val out = new Array[Double](n)
    var state = Murmur3x64.hash64(bytes, Murmur3x64.DefaultSeed)
    var i = 0
    while (i < n) {
      state = Murmur3x64.mix64(state)
      out(i) = (state >> 12).toDouble / (1L << 51).toDouble // [-1, 1)
      i += 1
    }
    out
  }

  /** SNR in dB of `test` against `ref` (the per-row invariant from
    * BASELINE.json input_hint: decoded-PCM allclose at SNR >= 30 dB). */
  def snrDb(ref: Array[Double], test: Array[Double]): Double = {
    val n = math.min(ref.length, test.length)
    if (n == 0) return Double.NegativeInfinity
    var sig = 0.0
    var err = 0.0
    var i = 0
    while (i < n) {
      sig += ref(i) * ref(i)
      val d = ref(i) - test(i)
      err += d * d
      i += 1
    }
    if (err == 0.0) Double.PositiveInfinity
    else if (sig == 0.0) Double.NegativeInfinity
    else 10.0 * math.log10(sig / err)
  }

  // --- Robust fingerprint ---------------------------------------------------
  // Spectral-shape hash: per frame, log-spaced band energies (Goertzel —
  // no FFT libs offline); bit b = band energy above the frame's median
  // band energy. Gain-invariant (median scales with the signal) and
  // robust to additive noise at SNR >= 30 dB: a bit only flips when a
  // band crosses the median, and noise 30 dB down moves energies ~0.1%.
  // (A Philips/Haitsma-Kalker delta-sign variant was tried first and
  // measured fragile on tonal content: noise-only bands make delta signs
  // coin flips; the above-median mask keeps them robustly 0.)
  final val FrameSize = 256
  final val HopSize = 128
  final val NBands = 25 // 24 fingerprint bits per frame; a multiple of 5 (goertzel5)

  /** Per-frame 24-bit fingerprints over the whole clip: bit b of a frame is
    * set when band b's Goertzel energy exceeds the frame's median band
    * energy (band NBands - 1 only takes part in the median).
    *
    * Kernel shape: the 25 coefficients are computed once per clip; each
    * pass over a frame's 256 samples advances five independent band
    * recurrences (five passes per frame), so the floating-point dependency
    * chains overlap instead of running one band at a time. Every band still
    * performs exactly the plain Goertzel operations in the plain order (no
    * fused multiply-add, no reassociation), so the output is bit-identical
    * to a one-band-at-a-time loop; AudioFingerprintSpec pins that. */
  def fingerprintFrames(samples: Array[Double], srHz: Int): Array[Int] = {
    require(srHz > 0, s"sr_hz must be positive, got $srHz")
    if (samples.length < FrameSize) return Array.empty
    val nFrames = (samples.length - FrameSize) / HopSize + 1
    // Goertzel at NBands log-spaced frequencies in [200 Hz, 0.45*sr]
    val coeffs = new Array[Double](NBands)
    val fLo = 200.0
    val fHi = 0.45 * srHz
    var b = 0
    while (b < NBands) {
      val freq = fLo * math.pow(fHi / fLo, b.toDouble / (NBands - 1))
      coeffs(b) = 2.0 * math.cos(2.0 * math.Pi * freq / srHz)
      b += 1
    }
    val energies = new Array[Double](NBands)
    val sorted = new Array[Double](NBands)
    val out = new Array[Int](nFrames)
    var f = 0
    while (f < nFrames) {
      val off = f * HopSize
      b = 0
      while (b < NBands) {
        goertzel5(samples, off, coeffs, b, energies)
        b += 5
      }
      System.arraycopy(energies, 0, sorted, 0, NBands)
      java.util.Arrays.sort(sorted)
      val median = sorted(NBands / 2)
      var bits = 0
      b = 0
      while (b < NBands - 1) {
        if (energies(b) > median) bits |= (1 << b)
        b += 1
      }
      out(f) = bits
      f += 1
    }
    out
  }

  /** Energies of bands b0..b0+4 over one frame: five Goertzel recurrences
    * `s0 = x + c*s1 - s2` advanced together, held in locals. */
  private def goertzel5(x: Array[Double], off: Int, coeffs: Array[Double], b0: Int,
      energies: Array[Double]): Unit = {
    val c0 = coeffs(b0); val c1 = coeffs(b0 + 1); val c2 = coeffs(b0 + 2)
    val c3 = coeffs(b0 + 3); val c4 = coeffs(b0 + 4)
    var p0 = 0.0; var p1 = 0.0; var p2 = 0.0; var p3 = 0.0; var p4 = 0.0 // s1
    var q0 = 0.0; var q1 = 0.0; var q2 = 0.0; var q3 = 0.0; var q4 = 0.0 // s2
    var i = off
    val end = off + FrameSize
    while (i < end) {
      val v = x(i)
      val n0 = v + c0 * p0 - q0
      val n1 = v + c1 * p1 - q1
      val n2 = v + c2 * p2 - q2
      val n3 = v + c3 * p3 - q3
      val n4 = v + c4 * p4 - q4
      q0 = p0; q1 = p1; q2 = p2; q3 = p3; q4 = p4
      p0 = n0; p1 = n1; p2 = n2; p3 = n3; p4 = n4
      i += 1
    }
    energies(b0) = p0 * p0 + q0 * q0 - c0 * p0 * q0
    energies(b0 + 1) = p1 * p1 + q1 * q1 - c1 * p1 * q1
    energies(b0 + 2) = p2 * p2 + q2 * q2 - c2 * p2 * q2
    energies(b0 + 3) = p3 * p3 + q3 * q3 - c3 * p3 * q3
    energies(b0 + 4) = p4 * p4 + q4 * q4 - c4 * p4 * q4
  }

  /** Positional frame-hash set for MinHash: hash(frameIndexBucket, bits),
    * sorted and distinct (the verify stage's merge-walk intersection,
    * SortedIntersectCountExpr, needs both). Coarse position buckets keep
    * alignment sensitivity low. */
  def fingerprintHashes(samples: Array[Double], srHz: Int): Array[Long] = {
    val frames = fingerprintFrames(samples, srHz)
    val hs = new Array[Long](frames.length)
    var i = 0
    while (i < frames.length) {
      // 4-frame positional bucket: tolerates small offsets, keeps order info
      hs(i) = Murmur3x64.mix64(((i / 4).toLong << 32) ^ (frames(i) & 0xffffffffL))
      i += 1
    }
    MinHasher.sortedDistinct(hs)
  }
}
