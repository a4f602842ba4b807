package perfbench

import graft.gen.ClipGen
import graft.io.TableIO
import graft.pipeline.{Dedup, DedupConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What the runner learns from an op after its timed part. */
final case class After(ckptBytes: Long, recall: Double, error: Option[String])

/** One workload: set-up (timed and repeated by the runner), then ops.
  * `body` is the timed part of an op; `after` checks its output, untimed. */
trait Workload {
  def setup(): Unit
  /** Items one op processes: clips, or graph vertices. */
  def items: Long
  def body(i: Int, traced: Boolean): Unit
  def after(i: Int): After
  /** Per-layer counts of the traced run, measured once after the ops. */
  def probes(ctx: ProbeContext): Seq[(String, Double)]
  def context: Seq[(String, String)] = Nil
}

/** Runs probe jobs under op keys of their own, after the timed ops. */
final class ProbeContext(tracer: Tracer, listener: TaskListener) {
  private var nextOp = 100000
  private val errors = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Ops whose outputs the probes check, each failing at most once. */
  var checkedOps = 0

  private def newOp(): Int = { nextOp += 1; nextOp }

  /** Runs `body` untraced and returns its task totals. */
  def job(body: => Unit): TaskTotals = {
    val op = newOp()
    tracer.op(op, traced = false)(body)
    listener.totalsOf(Tracer.opKey(op))
  }

  /** Runs `body` traced and returns its op id. */
  def tracedOp(body: => Unit): Int = {
    checkedOps += 1
    val op = newOp()
    tracer.op(op, traced = true)(body)
    op
  }

  def opWallS(op: Int): Double =
    tracer.recorded.filter(s => s.op == op && s.name == "op").map(_.wallS).sum

  /** `<layer>.<figure>` of one traced op. */
  def layer(op: Int, layer: String): Seq[(String, Double)] =
    LayerFigures.names(layer).zip(LayerFigures.of(tracer.recorded.filter(s =>
      s.op == op && s.name == layer), listener))

  def fail(msg: String): Unit = errors += msg
  def failures: Seq[String] = errors.toSeq
}

object Files {
  def size(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(size).sum
    else if (f.exists()) f.length() else 0L

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete(): Unit
  }

  /** Empties a directory but keeps it. */
  def clear(f: java.io.File): Unit =
    Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
}

object Checks {
  /** Order-independent digest of a (clip_id, cluster_id) table. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(col("clip_id"), col("cluster_id"))
    val r = df.agg(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(lit(0xFFFFFFFFL)))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** Share of planted same-group pairs that share an output cluster.
    * truth(clip_id, <groupCol>), clusters(clip_id, cluster_id). */
  def pairRecall(truth: DataFrame, groupCol: String, clusters: DataFrame): Double = {
    val pairs = (n: org.apache.spark.sql.Column) => sum(n * (n - 1) / 2)
    val joined = truth.join(clusters, "clip_id")
    val planted = truth.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .agg(pairs(col("n"))).head().getDouble(0)
    val kept = joined.groupBy(col(groupCol), col("cluster_id")).agg(count(lit(1)).as("n"))
      .agg(pairs(col("n"))).head().getDouble(0)
    if (planted == 0) 1.0 else kept / planted
  }

  /** The pipeline's exact duplicate relation over all pairs, as
    * DedupPipelineSpec's oracle defines it: the verify predicate (shingle-set
    * Jaccard >= tau or containment >= containmentTau, or audio frame-set
    * Jaccard >= audioTau) on every pair that shares a set element, found by
    * an inverted index, never all-pairs. */
  def oracleEdges(clips: DataFrame, cfg: DedupConfig): Array[(String, String)] = {
    import graft.functions.{audio_fp_hashes, shingle_hashes}
    val (i, na, nb) = (col("i"), col("na"), col("nb"))
    def pairs(sets: DataFrame, keep: org.apache.spark.sql.Column): DataFrame = {
      val e = sets.select(col("clip_id"), explode(col("s")).as("h"))
      val n = sets.select(col("clip_id"), size(col("s")))
      e.toDF("a", "h").join(e.toDF("b", "h"), "h").where(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("i"))
        .join(n.toDF("a", "na"), "a").join(n.toDF("b", "nb"), "b")
        .where(keep).select("a", "b")
    }
    val jaccard = i / (na + nb - i)
    val text = pairs(clips.select(col("clip_id"),
        shingle_hashes(coalesce(col("transcript"), lit("")), lit(cfg.shingleK)).as("s")),
      jaccard >= cfg.tau || i / least(na, nb) >= cfg.containmentTau)
    val audio = pairs(clips.select(col("clip_id"),
        audio_fp_hashes(col("bytes"), col("codec"), col("sr_hz")).as("s")),
      jaccard >= cfg.audioTau)
    text.union(audio).distinct().collect().map(r => (r.getString(0), r.getString(1)))
  }
}

/** A clusters table against the exact oracle's edges: recall is the share
  * of oracle edges whose ends share an output cluster; precision holds when
  * no output cluster spans two oracle components (verify is exact, so the
  * pipeline's edges are oracle edges). */
final class Oracle(edges: Array[(String, String)]) {
  private val component: Map[String, String] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    (edges.map(_._1) ++ edges.map(_._2)).distinct.map(v => v -> find(v)).toMap
  }

  /** (recall, the precision failure if any) of clip_id -> cluster_id. */
  def check(clusters: Map[String, String]): (Double, Option[String]) = {
    val recall =
      if (edges.isEmpty) 1.0
      else edges.count { case (a, b) => clusters.get(a).exists(clusters.get(b).contains) }
        .toDouble / edges.length
    val mixed = clusters.toSeq.groupBy(_._2).values
      .find(ms => ms.map(m => component.getOrElse(m._1, m._1)).distinct.size > 1)
    (recall, mixed.map(ms => s"cluster ${ms.head._2} spans oracle components: " +
      ms.map(_._1).sorted.take(5).mkString(",")))
  }
}

/** The checkpointed dedup pipeline, untraced as one library call and
  * traced as the same stages called one at a time. */
final class Pipeline(spark: SparkSession, tracer: Tracer, cfg: DedupConfig) {
  private var pinned = List.empty[DataFrame]
  private var pinnedRows = 0L

  private def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    pinned ::= p
    pinnedRows = p.count()
    tracer.rowsOut(pinnedRows)
    p
  }

  /** Releases what the traced decomposition persisted. */
  def unpin(): Unit = {
    pinned.foreach(_.unpersist(blocking = true))
    pinned = Nil
  }

  def run(clips: DataFrame, root: String, traced: Boolean): DataFrame =
    if (!traced) Dedup.runCheckpointed(spark, clips, cfg, root)
    else {
      // runCheckpointed's stages and keys, each stage's output pinned
      // inside its layer's span so the lazy plan runs there and not in
      // the write that follows
      val io = new TableIO(spark, root)
      val rows = clips.count()
      val fp = tracer.span("tableio.fingerprint") {
        tracer.rowsOut(rows)
        TableIO.inputFingerprint(clips)
      }
      val h = s"${TableIO.LayoutVersion}-${TableIO.configHash(cfg)}-$fp"
      def stage(name: String, layer: String)(compute: => DataFrame): DataFrame =
        if (io.snapshotExists(name, h)) tracer.span("tableio.read")(pin(io.read(name, h)))
        else {
          val df = tracer.span(layer)(pin(compute))
          val rows = pinnedRows
          tracer.span("tableio.write") {
            tracer.rowsOut(rows)
            io.commit(name, h, df)
          }
        }
      val sigs = stage("signatures", "signatures")(Dedup.signatures(clips, cfg))
      val cands = stage("candidates", "candidates")(Dedup.candidates(sigs, cfg))
      val edges = stage("edges", "verify")(Dedup.verify(sigs, cands, cfg))
      stage("clusters", "cc")(Dedup.clusters(spark, clips, edges))
    }
}

object ClipsWorkload {
  val Sources = Seq("minhash", "simhash", "audio", "substring")
  val Kernels = Seq("shingle_hashes", "minhash_text", "simhash_text", "winnow_hashes",
    "audio_fp_hashes", "minhash_of_hashes")
}

/** clips_dedup: a cold checkpointed run into a fresh checkpoint root per
  * op, clusters then written to parquet (the Cli `dedup --checkpoint`
  * path). */
final class ClipsWorkload(spark: SparkSession, dir: String, sparkCkpt: java.io.File,
    tracer: Tracer, nClips: Int, seed: Long) extends Workload {
  import ClipsWorkload._

  private val cfg = DedupConfig()
  private val pipeline = new Pipeline(spark, tracer, cfg)
  private val clipsPath = s"$dir/input/clips"
  private val truthPath = s"$dir/input/truth"
  private def root(i: Int) = s"$dir/ckpt/op-$i"
  private def out(i: Int) = s"$dir/out/op-$i"
  private var expected: Option[String] = None

  def setup(): Unit = {
    val (clips, truth) = ClipGen.generate(spark, nClips, seed, numPartitions = 8)
    clips.toDF().write.mode("overwrite").parquet(clipsPath)
    truth.write.mode("overwrite").parquet(truthPath)
  }

  lazy val items: Long = spark.read.parquet(clipsPath).count()

  def body(i: Int, traced: Boolean): Unit =
    pipeline.run(spark.read.parquet(clipsPath), root(i), traced).write.parquet(out(i))

  /** Figures of each distinct output seen, by digest: equal digests are
    * equal cluster tables, so they are computed once. */
  private final case class Verdict(plantedRecall: Double, oracleRecall: Double,
      components: Long, error: Option[String])
  private val byDigest = scala.collection.mutable.Map.empty[String, Verdict]

  // computed once, at the first (unmeasured) op's check
  private lazy val oracle = new Oracle(Checks.oracleEdges(spark.read.parquet(clipsPath), cfg))

  /** Checks the clusters at `path` against the first op's digest and the
    * exact oracle: recall >= 0.99 and precision 1, DedupPipelineSpec's
    * contract. Planted-pair recall is reported, not checked (see
    * README.md). */
  private def check(path: String): (Double, Option[String]) = {
    val clusters = spark.read.parquet(path)
    val d = Checks.digest(clusters)
    val v = byDigest.getOrElseUpdate(d, {
      val byClip = clusters.select("clip_id", "cluster_id").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val (recall, mixed) = oracle.check(byClip)
      Verdict(Checks.pairRecall(spark.read.parquet(truthPath), "group_id", clusters),
        recall, byClip.values.toSet.size.toLong,
        mixed.orElse(if (recall < 0.99) Some(s"oracle recall $recall < 0.99") else None))
    })
    if (expected.isEmpty) expected = Some(d)
    val error =
      if (!expected.contains(d)) Some(s"cluster digest $d != ${expected.get}")
      else v.error
    (v.plantedRecall, error)
  }

  def after(i: Int): After = {
    pipeline.unpin()
    val rootFile = new java.io.File(root(i))
    val ckpt = Files.size(rootFile) + Files.size(sparkCkpt)
    val (recall, error) = check(out(i))
    Files.delete(new java.io.File(out(i)))
    Files.delete(rootFile)
    Files.clear(sparkCkpt)
    After(ckpt, recall, error)
  }

  override def context: Seq[(String, String)] =
    Seq("cluster_digest" -> expected.getOrElse("")) ++
      expected.flatMap(byDigest.get).toSeq.flatMap(v => Seq(
        "oracle_recall" -> v.oracleRecall.toString,
        "planted_pair_recall" -> v.plantedRecall.toString))

  private def dropSnapshots(root: String, stages: String*): Unit =
    Option(new java.io.File(s"$root/_snapshots").listFiles()).getOrElse(Array.empty)
      .filter(f => stages.exists(st => f.getName.startsWith(st + "-")))
      .foreach(Files.delete)

  /** Counts of the candidate and verify layers, the kernels and the resume
    * path, measured once after the timed ops.
    *
    * The resume path (FIXTURES.md section 4) runs traced: a cold run, then
    * the edges and clusters snapshot pointers dropped, as a crash after
    * the candidate stage leaves them, and the same call again. Snapshots
    * are read back, verify and CC recompute, and both runs' clusters must
    * equal the timed ops'. The cold run's snapshots feed the counts. */
  def probes(ctx: ProbeContext): Seq[(String, Double)] = {
    val r = s"$dir/ckpt/resume"
    val clips = spark.read.parquet(clipsPath).persist(StorageLevel.MEMORY_ONLY)
    clips.count()
    Dedup.runCheckpointed(spark, clips, cfg, r).write.parquet(s"$dir/out/resume-cold")
    val io = new TableIO(spark, r)
    val h = s"${TableIO.LayoutVersion}-${TableIO.configHash(cfg)}-${TableIO.inputFingerprint(clips)}"
    val sigs = io.read("signatures", h).persist(StorageLevel.MEMORY_AND_DISK)
    val cands = io.read("candidates", h)
    val edges = io.read("edges", h)

    def bySource(df: DataFrame): Map[String, Long] =
      df.select(explode(col("sources")).as("s")).groupBy("s").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val candBy = bySource(cands)
    val verBy = bySource(edges)
    val evidence = Sources.flatMap { s =>
      val c = candBy.getOrElse(s, 0L)
      Seq(s"candidates.$s.pairs" -> c.toDouble,
        s"verify.$s.useful_ratio" -> (if (c == 0) 0.0 else verBy.getOrElse(s, 0L).toDouble / c))
    }
    // pair-run modes by bucket size, as the pair pass picks them
    val n = col("n")
    val runs = Dedup.bucketDump(sigs, cfg).groupBy("source", "bucket")
      .agg(countDistinct(col("clip_id")).as("n")).where(n >= 2)
      .agg(
        count(when(n <= cfg.hotBucketLimit, 1)),
        count(when(n > cfg.hotBucketLimit && n <= cfg.saltMaxBucket, 1)),
        count(when(n > cfg.saltMaxBucket, 1)))
      .head()
    val edgesIn = edges.count()

    dropSnapshots(r, "edges", "clusters")
    val resumeOp = ctx.tracedOp(pipeline.run(clips, r, traced = true).write.parquet(s"$dir/out/resume"))
    pipeline.unpin()
    val errors = Seq("resume-cold", "resume").flatMap(o => check(s"$dir/out/$o")._2)
    if (errors.nonEmpty) ctx.fail(s"resume: ${errors.mkString("; ")}")

    val t = coalesce(col("transcript"), lit(""))
    import graft.functions._
    val kernelCols: Seq[(String, DataFrame, org.apache.spark.sql.Column)] = Seq(
      ("shingle_hashes", clips, size(shingle_hashes(t, lit(cfg.shingleK)))),
      ("minhash_text", clips, size(minhash_text(t, cfg.shingleK, cfg.numPerms))),
      ("simhash_text", clips, simhash_text(t)),
      ("winnow_hashes", clips, size(winnow_hashes(t, lit(cfg.winnowK), lit(cfg.winnowWindow)))),
      ("audio_fp_hashes", clips, size(audio_fp_hashes(col("bytes"), col("codec"), col("sr_hz")))),
      ("minhash_of_hashes", sigs, size(minhash_of_hashes(col("afp"), lit(cfg.numPerms)))))
    val kernels = kernelCols.map { case (name, in, c) =>
      val rows = in.count()
      val ns = (1 to 3).map { _ =>
        ctx.job(in.select(c.cast("long").as("k")).agg(bit_xor(col("k"))).head()).cpuNs.toDouble / rows
      }
      s"kernel.$name.ns_per_row" -> Stats.median(ns)
    }
    val ids = clips.select("clip_id").collect().map(_.getString(0))
    Seq(sigs, clips).foreach(_.unpersist(blocking = true))
    Seq(s"$dir/out/resume-cold", s"$dir/out/resume", r).foreach(p => Files.delete(new java.io.File(p)))

    ctx.layer(resumeOp, "tableio.read") ++ Seq("resume.op_s" -> ctx.opWallS(resumeOp)) ++
      evidence ++ Seq(
      "candidates.runs_all_pairs" -> runs.getLong(0).toDouble,
      "candidates.runs_chunked" -> runs.getLong(1).toDouble,
      "candidates.runs_star" -> runs.getLong(2).toDouble,
      "cc.edges_in" -> edgesIn.toDouble,
      "cc.components" -> byDigest(expected.get).components.toDouble) ++
      kernels :+ ("sketch.kmv_update_mops" -> SketchProbe.kmvUpdateMops(ids))
  }
}

/** cc_graph: Dedup.clusters over a planted graph (see GraphGen). */
final class CcGraphWorkload(spark: SparkSession, dir: String, sparkCkpt: java.io.File, tracer: Tracer,
    targetEdges: Long, hubs: Int, hubSize: Int, seed: Long) extends Workload {
  private val verticesPath = s"$dir/input/vertices"
  private val edgesPath = s"$dir/input/edges"
  private def out(i: Int) = s"$dir/out/op-$i"
  private var pinned: Option[DataFrame] = None

  def setup(): Unit = {
    val comps = GraphGen.componentsFor(targetEdges, hubs, hubSize)
    val (vertices, edges) = GraphGen.generate(spark, seed, comps, hubs, hubSize, partitions = 8)
    vertices.write.mode("overwrite").parquet(verticesPath)
    edges.write.mode("overwrite").parquet(edgesPath)
  }

  // read once, after the timed set-ups
  lazy val items: Long = spark.read.parquet(verticesPath).count()
  private lazy val nEdges = spark.read.parquet(edgesPath).count()
  private lazy val plantedDigest =
    Checks.digest(spark.read.parquet(verticesPath).withColumnRenamed("label", "cluster_id"))
  private lazy val plantedComponents =
    spark.read.parquet(verticesPath).select("label").distinct().count()

  def body(i: Int, traced: Boolean): Unit = {
    val vertices = spark.read.parquet(verticesPath).select("clip_id")
    val edges = spark.read.parquet(edgesPath)
    val clusters =
      if (!traced) Dedup.clusters(spark, vertices, edges)
      else tracer.span("cc") {
        val p = Dedup.clusters(spark, vertices, edges).persist(StorageLevel.MEMORY_AND_DISK)
        pinned = Some(p)
        tracer.rowsOut(p.count())
        p
      }
    clusters.write.parquet(out(i))
  }

  def after(i: Int): After = {
    pinned.foreach(_.unpersist(blocking = true))
    pinned = None
    val ckpt = Files.size(sparkCkpt)
    val clusters = spark.read.parquet(out(i))
    // equal digests are equal tables: every vertex carries its planted
    // component's min id, so the components and the recall are exact
    val (recall, error) =
      if (Checks.digest(clusters) == plantedDigest) (1.0, None)
      else {
        val planted = spark.read.parquet(verticesPath)
        val off = planted.join(clusters, Seq("clip_id"), "full_outer")
          .where(col("label").isNull || col("cluster_id").isNull ||
            col("label") =!= col("cluster_id")).count()
        (Checks.pairRecall(planted, "label", clusters),
          Some(s"$off vertices missing or off their planted min-id label"))
      }
    Files.delete(new java.io.File(out(i)))
    Files.clear(sparkCkpt)
    After(ckpt, recall, error)
  }

  override def context: Seq[(String, String)] =
    Seq("vertices" -> items.toString, "edges" -> nEdges.toString)

  def probes(ctx: ProbeContext): Seq[(String, Double)] = {
    val ids = spark.read.parquet(verticesPath).select("clip_id").collect().map(_.getString(0))
    Seq("cc.edges_in" -> nEdges.toDouble, "cc.components" -> plantedComponents.toDouble,
      "sketch.kmv_update_mops" -> SketchProbe.kmvUpdateMops(ids))
  }
}

/** KMV distinct-sketch update rate on the driver, one thread. */
object SketchProbe {
  def kmvUpdateMops(items: Array[String]): Double = {
    val updates = 2000000
    val rounds = math.max(1, updates / math.max(1, items.length))
    val rates = (1 to 3).map { _ =>
      val sk = new graft.sketch.DistinctSketch(4096)
      val t0 = System.nanoTime()
      var r = 0
      while (r < rounds) {
        var j = 0
        while (j < items.length) { sk.update(items(j)); j += 1 }
        r += 1
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (sk.estimate <= 0) sys.error("empty KMV sketch")
      rounds.toDouble * items.length / s / 1e6
    }
    Stats.median(rates)
  }
}
