package graft

import graft.audio.Pcm
import graft.gen.ClipGen
import graft.pipeline.{Dedup, DedupConfig}
import graft.sketch.Murmur3x64
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The audio fingerprint kernel against a plain per-band Goertzel
  * reference (bit for bit), and the pipeline's handling of clips that carry
  * no usable audio. */
class AudioFingerprintSpec extends AnyFunSuite {

  /** Reference kernel: one Goertzel recurrence per band per frame, the
    * coefficient recomputed per frame x band, energies kept per frame. Any
    * optimized kernel must reproduce its output exactly, because signature
    * columns, checkpoints, LSH buckets and verify decisions derive from it. */
  private def refFrames(samples: Array[Double], srHz: Int): Array[Int] = {
    val FrameSize = 256; val HopSize = 128; val NBands = 25
    if (samples.length < FrameSize) return Array.empty
    val nFrames = (samples.length - FrameSize) / HopSize + 1
    val energies = Array.ofDim[Double](nFrames, NBands)
    val freqs = new Array[Double](NBands)
    val fLo = 200.0
    val fHi = 0.45 * srHz
    var b = 0
    while (b < NBands) {
      freqs(b) = fLo * math.pow(fHi / fLo, b.toDouble / (NBands - 1))
      b += 1
    }
    var f = 0
    while (f < nFrames) {
      val off = f * HopSize
      b = 0
      while (b < NBands) {
        val w = 2.0 * math.Pi * freqs(b) / srHz
        val coeff = 2.0 * math.cos(w)
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
        var i = 0
        while (i < FrameSize) {
          s0 = samples(off + i) + coeff * s1 - s2
          s2 = s1; s1 = s0
          i += 1
        }
        energies(f)(b) = s1 * s1 + s2 * s2 - coeff * s1 * s2
        b += 1
      }
      f += 1
    }
    val out = new Array[Int](nFrames)
    val sorted = new Array[Double](NBands)
    f = 0
    while (f < nFrames) {
      System.arraycopy(energies(f), 0, sorted, 0, NBands)
      java.util.Arrays.sort(sorted)
      val median = sorted(NBands / 2)
      var bits = 0
      b = 0
      while (b < NBands - 1) {
        if (energies(f)(b) > median) bits |= (1 << b)
        b += 1
      }
      out(f) = bits
      f += 1
    }
    out
  }

  private def refHashes(samples: Array[Double], srHz: Int): Array[Long] =
    refFrames(samples, srHz).zipWithIndex.map { case (bits, i) =>
      Murmur3x64.mix64(((i / 4).toLong << 32) ^ (bits & 0xffffffffL))
    }.distinct.sorted

  private def assertPinned(samples: Array[Double], srHz: Int, what: String): Unit = {
    val frames = Pcm.fingerprintFrames(samples, srHz)
    val ref = refFrames(samples, srHz)
    assert(java.util.Arrays.equals(frames, ref), s"fingerprintFrames differs: $what")
    assert(java.util.Arrays.equals(Pcm.fingerprintHashes(samples, srHz), refHashes(samples, srHz)),
      s"fingerprintHashes differs: $what")
  }

  test("fingerprint kernel is bit-identical to the per-band Goertzel reference") {
    val clips = (0L until 800L).iterator.flatMap(g => ClipGen.group(7L, g).map(_._1))
      .take(1100).toSeq
    assert(clips.size >= 1000)
    assert(clips.map(_.sr_hz).toSet == Set(8000, 16000))
    val kinds = clips.map(_.clip_id.split('_').last.toInt).toSet
    assert((0 to 7).forall(kinds), s"member kinds $kinds")
    clips.foreach(c => assertPinned(Pcm.decode(c.bytes, c.codec), c.sr_hz, c.clip_id))

    val rng = new scala.util.Random(11)
    for (n <- Seq(0, 255, 256, 257, 383, 384); sr <- Seq(8000, 16000)) {
      assertPinned(Array.fill(n)(rng.nextDouble() * 2 - 1), sr, s"n=$n sr=$sr")
    }
    val square = Array.tabulate(4000)(i => if ((i / 9) % 2 == 0) 1.0 else -1.0)
    assertPinned(square, 8000, "square wave")
    assertPinned(square, 16000, "square wave 16k")
  }

  private val clipSchema = StructType(Seq(
    StructField("clip_id", StringType), StructField("bytes", BinaryType),
    StructField("sr_hz", IntegerType), StructField("dur_ms", IntegerType),
    StructField("codec", StringType), StructField("transcript", StringType)))

  private def tone(hz: Double, n: Int, sr: Int): Array[Byte] =
    Pcm.encodePcmS16le(Array.tabulate(n)(i => 0.5 * math.sin(2 * math.Pi * hz * i / sr)))

  private def clusterSizes(rows: Seq[Row]): Seq[Int] = {
    val spark = SparkTestSession.spark
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), clipSchema)
    Dedup.run(spark, df, DedupConfig()).collect().groupBy(_.getString(1)).values.map(_.length).toSeq
  }

  private val texts = Seq(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
    "kilo lima mike november oscar papa quebec romeo sierra tango",
    "uniform victor whiskey xray yankee zulu one two three four five")

  test("clips without usable audio are never audio duplicates") {
    // 200 samples is shorter than one frame, so both fingerprints are empty
    val sizes = clusterSizes(Seq(
      Row("a", tone(440, 200, 8000), 8000, 25, Pcm.CodecPcmS16le, texts(0)),
      Row("b", tone(1300, 200, 8000), 8000, 25, Pcm.CodecPcmS16le, texts(1)),
      Row("c", null, 8000, 0, Pcm.CodecPcmS16le, texts(2))))
    assert(sizes.sorted == Seq(1, 1, 1), s"cluster sizes $sizes")
  }

  test("null sr_hz means no audio evidence; non-positive sr_hz is a clear error") {
    val sizes = clusterSizes(Seq(
      Row("a", tone(440, 4000, 8000), null, 500, Pcm.CodecPcmS16le, texts(0)),
      Row("b", tone(1300, 4000, 8000), null, 500, Pcm.CodecPcmS16le, texts(1)),
      Row("c", tone(700, 4000, 8000), 8000, 500, Pcm.CodecPcmS16le, texts(2))))
    assert(sizes.sorted == Seq(1, 1, 1), s"cluster sizes $sizes")
    val spark = SparkTestSession.spark
    val sig = spark.range(1).select(graft.functions.minhash_of_hashes(
      org.apache.spark.sql.functions.lit(null).cast("array<long>"),
      org.apache.spark.sql.functions.lit(8))).head()
    assert(sig.isNullAt(0))

    val e = intercept[IllegalArgumentException](Pcm.fingerprintFrames(new Array[Double](4000), 0))
    assert(e.getMessage.contains("sr_hz") && e.getMessage.contains("0"), e.getMessage)
    intercept[IllegalArgumentException](Pcm.fingerprintHashes(new Array[Double](10), -8000))
    val thrown = intercept[Exception](clusterSizes(Seq(
      Row("a", tone(440, 4000, 8000), 0, 500, Pcm.CodecPcmS16le, texts(0)),
      Row("b", tone(1300, 4000, 8000), 0, 500, Pcm.CodecPcmS16le, texts(1)))))
    val causes = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("sr_hz")), s"no IllegalArgumentException in $causes")
  }
}
