package graft.pipeline

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection + clustering pipeline configuration.
  *
  * Mirrors how the reference pins lg_k/seed as compile-time defaults
  * (/root/reference/datasketches-cpp/cpc/include/cpc_common.hpp:31,
  * common_defs.hpp:30): one immutable config drives every stage, so
  * results are reproducible at identical shingle/signature config
  * (north_rule requirement).
  *
  * At b=32 bands x r=4 rows (128 perms), a pair at Jaccard 0.8 collides
  * with p = 1-(1-0.8^4)^32 = 0.99999994 -> recall >= 0.99 holds with big
  * margin at the tau=0.8 decision boundary.
  */
final case class DedupConfig(
    shingleK: Int = 5,          // char k-grams over transcripts
    numPerms: Int = 128,
    bands: Int = 32,
    rowsPerBand: Int = 4,
    tau: Double = 0.8,          // exact-Jaccard verify threshold
    containmentTau: Double = 0.9, // substring-containment verify threshold
    simhashChunks: Int = 4,     // legacy single-chunk scheme (simhash_buckets);
                                // the pipeline uses 2-of-6 block combos
    simhashMaxHamming: Int = 4, // combo pigeonhole guarantee
    audioBands: Int = 42,
    audioRowsPerBand: Int = 3,  // r=2 produced ~1M birthday-junk pairs at 50k
                                // clips (cross-clip frame jaccard ~0.004 x 64
                                // bands); r=3 keeps p=0.96 at j=0.42 (worst
                                // observed planted dup) with junk ~ 0
    audioTau: Double = 0.35,    // frame-set Jaccard threshold (robust fp)
    winnowK: Int = 16,          // winnowing k-gram size (substring pass)
    winnowWindow: Int = 32,     // guarantee: shared substrings >= 47 chars collide
    hotBucketLimit: Int = 64,   // buckets larger than this stop all-pairs
    saltMaxBucket: Int = 1024,  // buckets larger than this get star-only
    // which candidate evidence sources run; verify criteria follow (the
    // audio criterion only applies when "audio" evidence is on). A
    // restricted set gives oracle-exact sub-pipelines (e.g. minhash-only
    // with verifyContainment=false is pure shingle-Jaccard clustering,
    // SQL-replayable in DuckDB).
    sources: Set[String] = Set("minhash", "simhash", "audio", "substring"),
    verifyContainment: Boolean = true, // containment/substring verify criteria
    // Streaming only: idle-bucket state TTL (processing time). 0 keeps
    // state forever (the reference's one-pass model terminates at EOF;
    // an unbounded stream with no TTL grows the state-store KEY count
    // with every distinct bucket ever seen). With a TTL, a bucket idle
    // longer than this is dropped and a re-arriving member re-seeds it
    // from empty — connectivity degrades gracefully to within-TTL
    // evidence (pairs between arrivals separated by more than the TTL
    // with no traffic in between are missed; everything else is kept).
    streamStateTtlMs: Long = 0L
)

/** The pipeline. Every stage is a pure DataFrame -> DataFrame map or a
  * keyed aggregation; candidate generation never compares all pairs.
  *
  * Scale design (the 100TB story, SURVEY §3.4/§4):
  *  - signatures: ONE map pass over clips, no shuffle — minhash, simhash
  *    and the audio fingerprint are computed per row;
  *  - candidates: explode to (band_id, band_hash) and self-pair within
  *    buckets. Buckets above `hotBucketLimit` (exact-dup masses, hot
  *    shingles) switch from O(n^2) all-pairs to O(n) star pairing, which
  *    preserves connectivity (CC recovers the clique) while bounding
  *    output — the "skew-aware band-bucket splitting" of the north rule;
  *  - verify: joins candidates back to payloads by id — sort-merge on the
  *    id, the only big join, and it's start-shaped not quadratic;
  *  - CC: see ConnectedComponents (log-round star algorithm).
  */
object Dedup {

  /** Stage 1: per-row signatures. clips(clip_id, bytes, sr_hz, dur_ms,
    * codec, transcript) -> (clip_id, minhash, simhash, audio_minhash).
    * Null transcripts are treated as empty so one bad row cannot kill a
    * 100TB candidate stage. */
  def signatures(clips: DataFrame, cfg: DedupConfig): DataFrame = {
    val t = coalesce(col("transcript"), lit(""))
    // the raw shingle set (sh) and audio frame-hash set (afp) are carried
    // FORWARD in the signature table so verification never touches the
    // raw clips again: re-decoding 300k clips' PCM and re-shingling every
    // transcript in the verify stage measured as ~half the pipeline's
    // total allocation churn (GC was 31% of all task time), for data the
    // signature pass had already computed. One wider checkpoint row beats
    // a second full decode pass at every scale.
    // disabled evidence sources skip their (expensive) per-row work: a
    // text-only run never decodes PCM / fingerprints audio
    val afpCol =
      if (cfg.sources("audio")) audio_fp_hashes(col("bytes"), col("codec"), col("sr_hz"))
      else array().cast("array<long>")
    clips.select(
      col("clip_id"),
      t.as("transcript"),
      shingle_hashes(t, lit(cfg.shingleK)).as("sh"),
      minhash_text(t, cfg.shingleK, cfg.numPerms).as("minhash"),
      simhash_text(t).as("simhash"),
      afpCol.as("afp"),
      winnow_hashes(t, lit(cfg.winnowK), lit(cfg.winnowWindow)).as("winnow"),
      length(t).as("t_len"))
      // an empty fingerprint set is no audio evidence: a null signature
      // puts the clip in no audio bucket (all empty sets would otherwise
      // share the all-Long.MaxValue signature and every audio band)
      .withColumn("audio_minhash",
        minhash_of_hashes(when(size(col("afp")) > 0, col("afp")), lit(cfg.numPerms)))
  }

  /** Materialization barrier for multi-consumer intermediates. With a
    * checkpoint directory configured on the SparkContext this is a
    * RELIABLE checkpoint (blocks on the shared filesystem — an executor
    * loss cannot kill the run, the 100TB default); without one it falls
    * back to executor-local blocks (fast, test/sandbox mode). */
  private[graft] def materialize(df: DataFrame,
      localLevel: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.DISK_ONLY): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // persist first: an eager reliable checkpoint runs TWO jobs (the
      // eager action, then the checkpoint write) and recomputes the whole
      // plan in the second one unless its blocks are cached — for the
      // map-only signature stage that doubled the audio decode + minhash
      // work. The write job reads the cached blocks instead.
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val out = cached.checkpoint(eager = true)
      cached.unpersist(blocking = false)
      out
    } else
      // DISK_ONLY by default: the signature + payload checkpoints are
      // ~10 GB serialized at 600k clips, and keeping them heap-resident
      // (MEMORY_AND_DISK_SER) drove ParallelGC into multi-second full
      // collections that inflated the high-core leg superlinearly; local
      // SSD blocks cost a re-read but zero GC. Small frames (CC rounds,
      // verified edges) pass MEMORY_AND_DISK_SER instead — a disk round
      // trip per CC iteration is pure serial latency for kilobyte state.
      df.localCheckpoint(true, localLevel)

  /** Evidence sources are byte-coded and clip ids 64-bit-hashed inside
    * the candidate stage: the bucket fan-out is the single largest
    * shuffle of the pipeline (one row per band membership — measured
    * 11+ GB per 600k clips with string ids and source names), and
    * (sid LONG, bucket LONG, source BYTE) rows are ~4x smaller and
    * sort/group as primitive comparisons. sid = xxhash64(clip_id) is a
    * pure column function — deterministic across re-evaluation with no
    * dictionary materialization; real clip ids come back for free via
    * the payload join the verify stage performs anyway. Collisions only
    * MERGE two ids inside candidate generation: a spurious pair is
    * killed by exact verification, and a lost true pair needs both ids
    * in one bucket AND equal hashes — expected lost pairs ~ n^2/2^65
    * (~3e4 of ~10^12 at the target scale, recall impact < 1e-7, far
    * inside the 0.99 budget). Cluster VERTEX ids stay 128-bit
    * (ConnectedComponents) where a collision would merge clusters. */
  private[graft] val SourceNames: Seq[String] =
    Seq("minhash", "simhash", "audio", "substring", "containment")
  private[graft] def sourceCode(name: String): Int = SourceNames.indexOf(name)
  private[graft] def sourceLit(name: String): Column =
    lit(sourceCode(name)).cast("tinyint")
  private[graft] def decodeSource(c: Column): Column =
    element_at(array(SourceNames.map(lit): _*), c.cast("int") + 1)
  private[graft] def sidOf(c: Column): Column = xxhash64(c)

  /** The pair run pass of pairsFromBuckets, exposed separately so plan
    * tests can assert its shape. ONE exchange (repartition on
    * (source, bucket)), one in-partition sort, one streaming pass —
    * output (a, b, source) sid pairs, a < b.
    *
    * Each (source, bucket) run arrives as one consecutive sorted slice,
    * ordered INSIDE the run by a per-bucket salted hash of the member.
    * The pass walks it with O(hotBucketLimit) memory and emits, per run:
    *  - runs <= hotBucketLimit members: ALL PAIRS (one chunk);
    *  - larger runs: consecutive CHUNKS of hotBucketLimit members in
    *    salted order, all-pairs within each chunk, plus one CHAIN edge
    *    (last member of chunk i, first of chunk i+1) so the run is one
    *    connected component deterministically. Chunk membership follows
    *    the per-(source, bucket) salted order — an independent draw per
    *    bucket (an exact-dup mass lands with IDENTICAL membership in
    *    every band of every source; id-order chunks would split it the
    *    same way everywhere) — so a true pair colliding in k buckets
    *    co-chunks in at least one with p = 1-(1-1/s)^k, the same local-
    *    evidence guarantee the earlier hash-salt sub-bucketing gave;
    *  - past saltMaxBucket members (IDF cutoff: P(dup | shared
    *    stop-phrase) ~ 0) the run flips to STAR mode: every further
    *    member pairs with the run's first member only — O(n) output for
    *    exact-dup masses and stop-phrase buckets, connectivity preserved
    *    through the chunk chain (the hub is a chunk-1 member).
    *
    * vs the previous shape (partial-agg size table + shuffle-hash join
    * back + salted repartition + separate hot-hub aggregation): the
    * fan-out is shuffled ONCE and never joined or aggregated — the size
    * table's high-cardinality partial aggregation alone measured 10x CPU
    * inflation at 16 threads (per-task hash tables of mostly-singleton
    * bucket keys falling out of shared L3), and pair generation needed
    * the fan-out three times. Duplicate (sid, bucket) rows (a repeated
    * winnow fingerprint) sort adjacent and are skipped. A monster bucket
    * serializes one linear O(1)-memory scan in a single task — linear,
    * never quadratic, and only in the IDF regime where the evidence is
    * already worthless. */
  private[graft] def rawRuns(buckets: DataFrame, hotBucketLimit: Int, saltMaxBucket: Int): DataFrame = {
    val spark = buckets.sparkSession
    import spark.implicits._
    val hotLimit = hotBucketLimit
    val saltMax = saltMaxBucket
    // pair generation is OUTPUT-heavy (quadratic in chunk size) while its
    // shuffle INPUT is small, so AQE's bytes-based coalescing would
    // shrink the run stage to one task and serialize it. An explicit
    // fixed-width repartition on the bucket key pins the fan-out.
    val shufN = spark.sessionState.conf.numShufflePartitions
    val parted = buckets
      .repartition(shufN, col("source"), col("bucket"))
      .sortWithinPartitions(col("source"), col("bucket"),
        xxhash64(col("source"), col("bucket"), col("sid")), col("sid"))
      .select(col("source"), col("bucket"), col("sid"))
      .as[(Byte, Long, Long)]
    parted.mapPartitions { rows =>
      val it = rows.buffered
      def ord(x: Long, y: Long, s: Byte): (Long, Long, Byte) =
        if (x < y) (x, y, s) else (y, x, s)
      // outer iterator: one inner iterator per (source, bucket) run
      new scala.collection.AbstractIterator[Iterator[(Long, Long, Byte)]] {
        def hasNext: Boolean = it.hasNext
        def next(): Iterator[(Long, Long, Byte)] = {
          val (src, bkt, firstId) = it.next()
          new scala.collection.AbstractIterator[(Long, Long, Byte)] {
            private def sameRun: Boolean = it.hasNext && {
              val h = it.head; h._1 == src && h._2 == bkt
            }
            private var chunk = scala.collection.mutable.ArrayBuffer[Long](firstId)
            private var lastId = firstId       // duplicate-row skip
            private val hub = firstId          // star target (chunk-1 member)
            private var seen = 1L
            private var hasPrevChunk = false
            private var prevLast = 0L
            private var queue: Iterator[(Long, Long, Byte)] = Iterator.empty
            private var done = false
            private def flushChunk(): Iterator[(Long, Long, Byte)] = {
              val arr = chunk.toArray
              // capacity hint only — hotLimit can be Int.MaxValue (the
              // sharedSpanPairs exactness contract), and ArrayBuffer
              // grows on demand anyway
              chunk = new scala.collection.mutable.ArrayBuffer[Long](math.min(hotLimit, 64))
              val chain =
                if (hasPrevChunk && arr.nonEmpty) Iterator.single(ord(prevLast, arr.head, src))
                else Iterator.empty
              if (arr.nonEmpty) { hasPrevChunk = true; prevLast = arr.last }
              val pairs =
                if (arr.length < 2) Iterator.empty
                else new scala.collection.AbstractIterator[(Long, Long, Byte)] {
                  private var i = 0; private var j = 1
                  def hasNext: Boolean = i < arr.length - 1
                  def next(): (Long, Long, Byte) = {
                    val out = ord(arr(i), arr(j), src)
                    j += 1; if (j == arr.length) { i += 1; j = i + 1 }
                    out
                  }
                }
              chain ++ pairs
            }
            private def advance(): Unit = {
              while (queue.isEmpty && !done) {
                if (sameRun) {
                  val id = it.next()._3
                  if (id != lastId) {
                    lastId = id
                    seen += 1
                    if (seen > saltMax) {
                      // star regime; flush any partial chunk first so its
                      // local pairs and chain survive the mode flip
                      queue =
                        (if (chunk.nonEmpty) flushChunk() else Iterator.empty) ++
                          Iterator.single(ord(hub, id, src))
                    } else {
                      chunk += id
                      if (chunk.length == hotLimit) queue = flushChunk()
                    }
                  }
                } else {
                  done = true
                  // trailing chunk: pairs, plus the chain edge that links
                  // it (even a single trailing member) to the previous one
                  if (chunk.length >= 2 || (hasPrevChunk && chunk.nonEmpty))
                    queue = flushChunk()
                }
              }
            }
            def hasNext: Boolean = { if (queue.isEmpty) advance(); queue.hasNext }
            def next(): (Long, Long, Byte) = { if (queue.isEmpty) advance(); queue.next() }
          }
        }
      }.flatten
    }.toDF("a", "b", "source")
  }

  /** Candidate pairs from a (sid, bucket, source) fan-out — one shuffle,
    * one streaming sorted-run pass (see rawRuns). */
  def pairsFromBuckets(buckets: DataFrame, hotBucketLimit: Int, saltMaxBucket: Int = 1024): DataFrame =
    rawRuns(buckets, hotBucketLimit, saltMaxBucket)

  /** Stage 2 bucket builders: each maps the persisted signature table to
    * compact (sid, bucket, source) rows; all sources share ONE
    * pair-generation shuffle (pairsFromBuckets) instead of five separate
    * join pipelines. Bucket keys are hash-namespaced per source so they
    * never collide. */

  /** 2a: text-LSH buckets from minhash band collisions (tau-tuned). */
  def textBuckets(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    sigs.select(
      sidOf(col("clip_id")).as("sid"),
      posexplode(band_hashes(col("minhash"), lit(cfg.bands), lit(cfg.rowsPerBand)))
        .as(Seq("band_id", "band_hash")))
      .select(col("sid"),
        xxhash64(col("band_id"), col("band_hash")).as("bucket"),
        sourceLit("minhash").as("source"))

  /** 2b: SimHash block-combination buckets (2-of-6 blocks; pigeonhole
    * catches any pair within Hamming distance 4). The earlier 4x16-bit
    * single-chunk scheme produced junk candidates at p = 4*2^-16 per
    * unrelated pair — junk is p*n^2/2, which measured QUADRATIC growth
    * (866k pairs at 150k clips -> 3.27M at 300k) and would swamp verify
    * at the 10^12 target; the combo keys cut p ~13x AND widen recall. */
  def simhashBuckets(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    sigs.select(
      sidOf(col("clip_id")).as("sid"),
      explode(simhash_combo_buckets(col("simhash"))).as("chunk"))
      .select(col("sid"),
        xxhash64(lit("simhash"), col("chunk")).as("bucket"),
        sourceLit("simhash").as("source"))

  /** 2c: audio fingerprint buckets from audio-minhash bands. */
  def audioBuckets(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    sigs.select(
      sidOf(col("clip_id")).as("sid"),
      posexplode(band_hashes(col("audio_minhash"), lit(cfg.audioBands), lit(cfg.audioRowsPerBand)))
        .as(Seq("band_id", "band_hash")))
      .select(col("sid"),
        xxhash64(lit("audio"), col("band_id"), col("band_hash")).as("bucket"),
        sourceLit("audio").as("source"))

  /** 2d: loose containment buckets — r=2 bands recover recall for pairs
    * whose Jaccard is diluted by length (shingle containment >= 0.9 but
    * J ~ len_short/len_long; SURVEY §7.6 risk 1). */
  def containmentBuckets(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    sigs.select(
      sidOf(col("clip_id")).as("sid"),
      posexplode(band_hashes(col("minhash"), lit(8), lit(2)))
        .as(Seq("band_id", "band_hash")))
      .select(col("sid"),
        xxhash64(lit("cont"), col("band_id"), col("band_hash")).as("bucket"),
        sourceLit("containment").as("source"))

  /** 2e: exact-substring buckets via winnowing (the distributed suffix-
    * array pass re-expressed Spark-first). Winnowing guarantee: if
    * transcript A is a substring of transcript B (len >= winnowWindow +
    * winnowK - 1), EVERY winnowed fingerprint of A appears in B, so the
    * bucket join cannot miss the pair. Verification is exact contains(). */
  def substringBuckets(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    sigs.select(sidOf(col("clip_id")).as("sid"), explode(col("winnow")).as("fp"))
      .select(col("sid"),
        xxhash64(lit("winnow"), col("fp")).as("bucket"),
        sourceLit("substring").as("source"))

  /** The north-rule suffix-array pass as a standalone operator: exact
    * shared-span pairs. Winnowed fingerprints bucket the corpus — the
    * recall GUARANTEE (Schleimer et al.) is that any pair sharing a
    * contiguous span of >= winnowWindow + winnowK - 1 bytes shares a
    * fingerprint, so the bucket equi-join cannot miss a qualifying pair —
    * then each candidate is verified EXACTLY with a per-pair generalized
    * suffix array (text.SuffixArray), O((|a|+|b|) log) inside a map stage.
    * This replaces a corpus-global suffix array (which does not
    * distribute) with a bucket join + local SA: same answer, shuffle-
    * friendly, nothing global. Output: (a, b, span_len, a_in_b, b_in_a)
    * for every pair sharing >= minSpan CODE POINTS (a < b in the id
    * column's string order); the containment flags mark full-substring
    * pairs. `hotBucketLimit` defaults to exact (no star-capping) — at
    * extreme scale pass a finite limit and pairs inside over-limit
    * fingerprint buckets (stop-phrase buckets) degrade to star evidence.
    */
  def sharedSpanPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig = DedupConfig(), minSpan: Int = 47,
      hotBucketLimit: Int = Int.MaxValue): DataFrame = {
    import docs.sparkSession.implicits._
    spanCandidatePayloads(docs, idCol, textCol, cfg, minSpan, hotBucketLimit)
      .flatMap { case (idA, idB, textA, textB) =>
        // EXACT O(n+m) decision gate before the SA: winnow buckets
        // overgenerate (a shared fingerprint is not a shared 47-char
        // span), and at sf0.1 only 256 of 162k candidates qualify — the
        // expensive generalized-SA build (the exact span LENGTH) now runs
        // on survivors only; the gate itself is exact in both directions
        // (SuffixArray.sharedSpanAtLeast).
        if (!graft.text.SuffixArray.sharedSpanAtLeast(textA, textB, minSpan)) None
        else {
          val span = graft.text.SuffixArray.longestSharedSpan(textA, textB)
          val (a, b, ta, tb) =
            if (idA > idB) (idB, idA, textB, textA) else (idA, idB, textA, textB)
          Some((a, b, span,
            span == ta.codePointCount(0, ta.length),
            span == tb.codePointCount(0, tb.length)))
        }
      }
      .toDF("a", "b", "span_len", "a_in_b", "b_in_a")
  }

  /** Flags-only form of [[sharedSpanPairs]]: (a, b, a_in_b, b_in_a),
    * identical rows minus the span_len column. The >= minSpan predicate
    * is decided by the exact rolling-gram gate, and the containment flags
    * need no span length either: "longest shared span covers ALL of a"
    * is precisely "a is a substring of b", i.e. text_b.contains(text_a).
    * Callers that never consume span_len (q_shared_spans drops it; the
    * substring-cluster pipeline keeps only the ids) skip the per-pair
    * generalized-SA build entirely — the dominant per-pair cost when
    * most candidates qualify (planted-duplicate corpora). */
  def sharedSpanFlagPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig = DedupConfig(), minSpan: Int = 47,
      hotBucketLimit: Int = Int.MaxValue): DataFrame = {
    import docs.sparkSession.implicits._
    spanCandidatePayloads(docs, idCol, textCol, cfg, minSpan, hotBucketLimit)
      .flatMap { case (idA, idB, textA, textB) =>
        if (!graft.text.SuffixArray.sharedSpanAtLeast(textA, textB, minSpan)) None
        else {
          val (a, b, ta, tb) =
            if (idA > idB) (idB, idA, textB, textA) else (idA, idB, textA, textB)
          Some((a, b, tb.contains(ta), ta.contains(tb)))
        }
      }
      .toDF("a", "b", "a_in_b", "b_in_a")
  }

  /** Shared candidate + payload machinery of the span operators: winnow
    * buckets -> pair runs -> distinct -> payload joins -> pinned
    * round-robin repartition, as a typed (id_a, id_b, text_a, text_b)
    * Dataset ready for a per-pair verifier flatMap. */
  private def spanCandidatePayloads(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig, minSpan: Int,
      hotBucketLimit: Int): org.apache.spark.sql.Dataset[(String, String, String, String)] = {
    require(minSpan >= cfg.winnowWindow + cfg.winnowK - 1,
      s"winnowing only guarantees recall for spans >= ${cfg.winnowWindow + cfg.winnowK - 1}")
    val d = docs.select(col(idCol).cast("string").as("clip_id"),
      coalesce(col(textCol), lit("")).as("text"))
    val sigs = d.select(col("clip_id"),
      winnow_hashes(col("text"), lit(cfg.winnowK), lit(cfg.winnowWindow)).as("winnow"))
    // a pair sharing several fingerprints collides in several buckets:
    // distinct() before the (costlier) SA verification. saltMaxBucket is
    // raised to the caller's hotBucketLimit so the exactness contract
    // (hotBucketLimit = MaxValue -> no star-capping anywhere) actually
    // holds — with the default saltMax a >1024-doc fingerprint bucket
    // would silently degrade to star evidence despite the contract.
    val cands = pairsFromBuckets(substringBuckets(sigs, cfg), hotBucketLimit,
        math.max(cfg.saltMaxBucket, hotBucketLimit))
      .select(col("a"), col("b")).distinct()
    // sid -> (clip_id, text) decode and payload join in one: the dict is
    // a pure projection of the input docs
    val dict = d.select(sidOf(col("clip_id")).as("sid"), col("clip_id"), col("text"))
    val withA = cands.join(dict.select(col("sid").as("a"),
      col("clip_id").as("id_a"), col("text").as("text_a")), "a")
    val withB = withA.join(dict.select(col("sid").as("b"),
      col("clip_id").as("id_b"), col("text").as("text_b")), "b")
    // The per-pair SA verify costs per PAIR, not per byte, and the
    // candidate shuffle is only ids — AQE's bytes-proportional partition
    // coalescing would run the whole verify on a handful of tasks
    // (measured: 6 tasks, 527 idle core-seconds, 19 s of a 25 s wall at
    // 10k docs / 300k pairs on 32 cores). The explicit round-robin
    // repartition is never AQE-coalesced (user-specified count) and
    // balances hot-doc skew; the typed flatMap is an optimizer barrier, so
    // the span filter cannot be pushed back into the coalesced join stage
    // (PushDownPredicates traverses Repartition, but not typed maps).
    // span_len is symmetric; containment flags are computed AFTER the
    // swap back to string id order so a_in_b refers to the output's a.
    val shufN = docs.sparkSession.sessionState.conf.numShufflePartitions
    import docs.sparkSession.implicits._
    withB.select(col("id_a"), col("id_b"), col("text_a"), col("text_b"))
      .repartition(shufN)
      .as[(String, String, String, String)]
  }

  /** Back-compat single-source candidate helpers (tests / SparkEntry).
    * A pair colliding in k bands would otherwise be emitted k times;
    * distinct() keeps each candidate once. Sid pairs are decoded back to
    * clip ids (and re-canonicalized to string order) via the id
    * dictionary — a pure projection of sigs, no materialization. */
  def textCandidates(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val pairs = pairsFromBuckets(textBuckets(sigs, cfg), cfg.hotBucketLimit)
      .distinct()
    val dict = sigs.select(sidOf(col("clip_id")).as("sid"), col("clip_id"))
    val swap = col("id_a") > col("id_b")
    pairs
      .join(dict.select(col("sid").as("a"), col("clip_id").as("id_a")), "a")
      .join(dict.select(col("sid").as("b"), col("clip_id").as("id_b")), "b")
      .select(
        when(swap, col("id_b")).otherwise(col("id_a")).as("a"),
        when(swap, col("id_a")).otherwise(col("id_b")).as("b"),
        decodeSource(col("source")).as("source"))
      .distinct()
  }

  /** The enabled sources' bucket fan-out, one frame (sid, bucket, source).
    *
    * Built in a SINGLE pass over the signature table: each source's
    * bucket keys become an array<struct<bucket,source>> via codegen'd
    * higher-order `transform`s (bit-identical key formulas to the
    * per-source builders above — the transform index IS posexplode's
    * 0-based int pos), concatenated and exploded once. The earlier
    * union-of-builders shape read the signature CHECKPOINT once PER
    * SOURCE (a checkpointed table cannot be column-pruned, so every
    * branch deserialized the full wide row — a 128-task scan stage and
    * 4x the deserialization for the same fan-out rows). */
  private def enabledBuckets(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    def tagged(arr: Column, src: String): Column =
      transform(arr, b => struct(b.as("bucket"), sourceLit(src).as("source")))
    val perSource = Map[String, Column](
      "minhash" -> tagged(transform(
        band_hashes(col("minhash"), lit(cfg.bands), lit(cfg.rowsPerBand)),
        (h, i) => xxhash64(i, h)), "minhash"),
      "simhash" -> tagged(transform(simhash_combo_buckets(col("simhash")),
        c => xxhash64(lit("simhash"), c)), "simhash"),
      "audio" -> tagged(transform(
        band_hashes(col("audio_minhash"), lit(cfg.audioBands), lit(cfg.audioRowsPerBand)),
        (h, i) => xxhash64(lit("audio"), i, h)), "audio"),
      "substring" -> tagged(transform(col("winnow"),
        fp => xxhash64(lit("winnow"), fp)), "substring"),
      "containment" -> tagged(transform(
        band_hashes(col("minhash"), lit(8), lit(2)),
        (h, i) => xxhash64(lit("cont"), i, h)), "containment"))
    val enabled = Seq("minhash", "simhash", "audio", "substring", "containment")
      .filter(cfg.sources)
    require(enabled.nonEmpty, s"no known candidate sources in ${cfg.sources}")
    sigs.select(sidOf(col("clip_id")).as("sid"),
        explode(concat(enabled.map(perSource): _*)).as("bs"))
      .select(col("sid"), col("bs.bucket").as("bucket"), col("bs.source").as("source"))
  }

  /** Oracle-support dump: every clip's bucket memberships across the
    * enabled evidence sources, decoded to (clip_id, source, bucket).
    * Verify persists this beside clips_input so the DuckDB oracle can
    * replay the candidate stage EXACTLY — below hotBucketLimit the pair
    * pass emits all within-bucket pairs (rawRuns), so candidates ==
    * the SQL self-join on (source, bucket). LSH/banding is deterministic
    * given the signatures; no probabilistic-recall caveat applies to the
    * replay itself. */
  def bucketDump(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val dict = sigs.select(sidOf(col("clip_id")).as("sid"), col("clip_id"))
    enabledBuckets(sigs, cfg).join(dict, "sid")
      .select(col("clip_id"), decodeSource(col("source")).as("source"), col("bucket"))
  }

  def candidates(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    // NOTE: containmentBuckets (b=8, r=2 loose minhash bands) is NOT in
    // the default union: its junk-collision rate for unrelated docs is
    // p = 8*J_rand^2, quadratic in corpus size (measured 759k pairs at
    // 150k clips -> 2.03M at 300k), and every real containment pair it
    // could find is already GUARANTEED a candidate by the winnowing
    // substring pass (any contiguous shared span >= 47 chars). It stays
    // available for corpora with non-contiguous containment.
    val buckets = enabledBuckets(sigs, cfg)
    // the fan-out has exactly ONE consumer (the single-pass pair stage),
    // so it flows straight into that shuffle — no barrier
    // output keeps the compact 64-bit sid keys (a, b): the verify stage
    // joins payloads BY SID and recovers real clip ids from the payload
    // row, so decoding here would add a join for nothing
    // a pair colliding in k buckets is emitted k times; the dedup
    // aggregates a fixed-width BITMASK of evidence sources instead of
    // collect_set — an 8-byte agg state keeps the partial-agg output
    // rows (the second-largest shuffle of the pipeline) fixed-size, and
    // decodes to the public array<string> contract after the shuffle
    pairsFromBuckets(buckets, cfg.hotBucketLimit, cfg.saltMaxBucket)
      .groupBy(col("a"), col("b"))
      .agg(bit_or(expr("shiftleft(1L, cast(source as int))")).as("src_mask"))
      .select(col("a"), col("b"),
        array_compact(array(SourceNames.zipWithIndex.map { case (n, i) =>
          when(col("src_mask").bitwiseAND(lit(1L << i)) =!= 0, lit(n))
        }: _*)).as("sources"))
  }

  /** Stage 3: exact verification. Joins payloads back by id (sort-merge on
    * clip_id — the only wide join) and keeps pairs passing any criterion:
    * exact shingle-Jaccard >= tau, shingle containment >= containmentTau,
    * or audio frame-set Jaccard >= audioTau. */
  def verify(sigs: DataFrame, cands: DataFrame, cfg: DedupConfig): DataFrame = {
    // shingle sets and audio fingerprints were computed ONCE PER CLIP in
    // the signature pass (never once per candidate pair — measured
    // 2.7ms/pair in per-pair UDF form; the array_intersect form is
    // codegen'd and ~50x cheaper) and arrive here as sig columns. The
    // pruned projection is re-materialized so the two id joins below read
    // compact (id, transcript, sh, afp) rows instead of full sig rows
    // (a checkpointed table cannot be column-pruned).
    // pre-partitioned by clip_id: the aliased projections below keep the
    // partitioning (alias-aware), so NEITHER id join reshuffles the wide
    // payload — only the skinny candidate side and the one unavoidable
    // wide intermediate move. Two payload-sized shuffles saved.
    val shufN = sigs.sparkSession.sessionState.conf.numShufflePartitions
    // payload keyed by the candidate stage's 64-bit sid: the joins below
    // probe on longs, and each payload row carries the real clip_id, so
    // the sid -> id decode comes for free with the join
    val payload = sigs.select(sidOf(col("clip_id")).as("sid"), col("clip_id"),
        col("transcript"), col("sh"), col("afp"))
      .repartition(shufN, col("sid"))
    // persist, not a second reliable checkpoint: the payload is a pure
    // projection of the ALREADY-checkpointed signature table, so its
    // lineage is shallow and recompute-on-loss is bounded — a checkpoint
    // here wrote the transcript/sh/afp bytes to the checkpoint store a
    // second time per run for no added fault-tolerance. DISK_ONLY for the
    // same GC reason as the sigs barrier (10 GB serialized at 600k clips).
    val payloadM = payload.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val withA = cands.join(payloadM.select(col("sid").as("a"), col("clip_id").as("id_a"),
      col("transcript").as("text_a"), col("sh").as("sh_a"), col("afp").as("afp_a")), "a")
    val withB = withA.join(payloadM.select(col("sid").as("b"), col("clip_id").as("id_b"),
      col("transcript").as("text_b"), col("sh").as("sh_b"), col("afp").as("afp_b")), "b")
    val inter = sorted_intersect_count(col("sh_a"), col("sh_b")).cast("double")
    // try_divide: ANSI-safe even if an upstream source hands us genuinely
    // empty shingle arrays (a null pair then scores null -> filtered out)
    val jac = try_divide(inter, size(col("sh_a")) + size(col("sh_b")) - inter)
    val cont = try_divide(inter, least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
    val audioJac = array_jaccard(col("afp_a"), col("afp_b"))
    // criteria follow the enabled evidence: a text-only config never
    // applies the audio criterion, and the Jaccard-only sub-pipeline
    // (verifyContainment = false) is SQL-replayable exactly
    val audioCrit =
      if (cfg.sources("audio")) col("audio_jaccard") >= cfg.audioTau else lit(false)
    val contCrit =
      if (cfg.verifyContainment) col("containment") >= cfg.containmentTau || col("is_sub")
      else lit(false)
    // every verdict column is symmetric in (a, b) (Jaccard, containment
    // via min, isSubstring checks shorter-in-longer), so the output pair
    // is re-canonicalized to STRING id order — sid order is hash order,
    // not the stable contract downstream oracles pin
    val swap = col("id_a") > col("id_b")
    withB
      .withColumn("jaccard", jac)
      .withColumn("containment", cont)
      .withColumn("audio_jaccard", audioJac)
      .withColumn("is_sub",
        when(lit(cfg.verifyContainment) && col("containment") >= cfg.containmentTau,
          is_substring(col("text_a"), col("text_b"))).otherwise(lit(false)))
      .where(col("jaccard") >= cfg.tau || contCrit || audioCrit)
      .select(
        when(swap, col("id_b")).otherwise(col("id_a")).as("a"),
        when(swap, col("id_a")).otherwise(col("id_b")).as("b"),
        col("sources"), col("jaccard"),
        col("containment"), col("audio_jaccard"), col("is_sub"))
  }

  /** Stage 4: clusters from verified edges via large-star/small-star CC.
    * cluster_id = min clip_id in the cluster (canonical; SURVEY §5).
    * Unmatched clips keep themselves as singleton clusters. */
  def clusters(spark: SparkSession, clips: DataFrame, edges: DataFrame): DataFrame = {
    // verified edges are consumed twice inside CC (vertex dictionary +
    // edge relabeling): persist so verification runs once. Edge lists are
    // small (pairs that SURVIVED exact verification) — memory-backed.
    val e = materialize(edges.select(col("a"), col("b")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    clustersFromEdges(spark, clips, e)
  }

  /** clusters() after the edge materialization barrier (split out so the
    * instrumented run can read the clock at the barrier). */
  private[graft] def clustersFromEdges(spark: SparkSession, clips: DataFrame, e: DataFrame): DataFrame = {
    val cc = ConnectedComponents.runOnStrings(spark, e, "a", "b")
    clips.select(col("clip_id"))
      .join(cc, Seq("clip_id"), "left")
      .select(col("clip_id"), coalesce(col("cluster_id"), col("clip_id")).as("cluster_id"))
  }

  /** Whole pipeline, batch mode, no checkpointing (see Checkpointed for
    * the resumable variant). */
  def run(spark: SparkSession, clips: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame = {
    // four candidate stages each consume sigs: persist so the signature
    // map pass (incl. audio decode + fingerprint) runs once. In the
    // checkpointed variant this is a table write instead (SURVEY §3.4:
    // explicit materialization barrier = the --raw/--merge seam).
    val sigs = materialize(signatures(clips, cfg))
    val cands = candidates(sigs, cfg)
    val edges = verify(sigs, cands, cfg)
    clusters(spark, clips, edges)
  }

  /** run().count(), instrumented at the pipeline's EXISTING eager
    * materialization barriers — identical execution to run(), the hooks
    * only read the clock where a barrier already synchronizes. Returns
    * (cluster rows, ordered (stage, seconds)). Stage attribution:
    *  - signatures: the map pass (decode + minhash/simhash/winnow/afp);
    *  - payload: verify()'s pruned-payload repartition + materialize;
    *  - pairs_verify: the bucket fan-out shuffle, single-pass pair run,
    *    bitmask dedup, both payload joins and exact verification (one
    *    lazy chain, executes at the edge materialization);
    *  - cc_clusters: connected components + the final cluster join/count.
    * This is the per-stage scaling diagnosis the bench emits at both
    * parallelism levels (which stage binds the N -> 4N efficiency). */
  def runTimedCount(spark: SparkSession, clips: DataFrame,
      cfg: DedupConfig = DedupConfig()): (Long, Seq[(String, Double)]) = {
    val stages = Seq.newBuilder[(String, Double)]
    var t0 = System.nanoTime()
    def mark(name: String): Unit = {
      val t1 = System.nanoTime()
      stages += name -> (t1 - t0) / 1e9
      t0 = t1
    }
    val sigs = materialize(signatures(clips, cfg))
    mark("signatures")
    val cands = candidates(sigs, cfg)
    val edges = verify(sigs, cands, cfg) // eager payload materialize inside
    mark("payload")
    val e = materialize(edges.select(col("a"), col("b")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    mark("pairs_verify")
    val rows = clustersFromEdges(spark, clips, e).count()
    mark("cc_clusters")
    (rows, stages.result())
  }

  /** Resumable variant: every stage is committed to a checkpoint table
    * keyed by the config hash; a restarted run reuses published snapshots
    * and recomputes only what is missing (north rule: "resumable from
    * checkpoint with per-partition lineage + metrics"). The table write
    * is the explicit materialization barrier — the promoted form of the
    * reference's --raw/--merge seam (SURVEY §1.2). */
  def runCheckpointed(spark: SparkSession, clips: DataFrame, cfg: DedupConfig,
      checkpointRoot: String): DataFrame = {
    val io = new graft.io.TableIO(spark, checkpointRoot)
    // key = layout version + config hash + input fingerprint: a restarted
    // run reuses snapshots only when the snapshot SCHEMA (LayoutVersion —
    // bumped whenever a stage's column layout changes, so a root written
    // by an older build recomputes instead of failing on missing columns),
    // the shingle/signature config AND the input table all match
    val h = graft.io.TableIO.LayoutVersion + "-" +
      graft.io.TableIO.configHash(cfg) + "-" +
      graft.io.TableIO.inputFingerprint(clips)
    val sigs = io.readOrCompute("signatures", h)(signatures(clips, cfg))
    val cands = io.readOrCompute("candidates", h)(candidates(sigs, cfg))
    val edges = io.readOrCompute("edges", h)(verify(sigs, cands, cfg))
    io.readOrCompute("clusters", h)(clusters(spark, clips, edges))
  }

  /** Exact Jaccard over two pre-computed SORTED hash arrays (audio frame
    * sets) — codegen merge walk, no per-row hash set. Two empty sets score
    * 0: a clip without fingerprints (no or too-short audio, or a text-only
    * run) is never audio evidence. */
  private def array_jaccard(a: Column, b: Column): Column = {
    val inter = sorted_intersect_count(a, b)
    val uni = size(a) + size(b) - inter
    when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni.cast("double"))
  }
}
