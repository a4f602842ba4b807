package perfbench

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

/** Figures of one op. */
final case class OpStats(op: Int, traced: Boolean, wallS: Double, totals: TaskTotals,
    heapMb: Double, leakedBlocks: Long, after: After) {
  def failed: Boolean = after.error.isDefined
}

/** Benchmark entry point: one workload in one JVM at local[cores].
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --run-dir DIR --scale full|tiny
  *
  * Prints `context {...}`, with --trace 1 `spans [...]`, and last
  * `result {...}`: the metrics of BENCHMARK.json by name and unit. */
object Main {
  val Cores = 4
  val Layers = Seq("signatures", "candidates", "verify", "cc",
    "tableio.write", "tableio.read", "tableio.fingerprint")

  /** Every per-layer metric with its unit, in BENCHMARK.json's order
    * (failed_ops_ratio is appended by the runner). */
  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => LayerFigures.names(l).zip(LayerFigures.Figures.map(_._2))) ++
      ClipsWorkload.Kernels.map(k => (s"kernel.$k.ns_per_row", "ns/row")) ++
      ClipsWorkload.Sources.flatMap(s =>
        Seq((s"candidates.$s.pairs", "count"), (s"verify.$s.useful_ratio", "ratio"))) ++
      Seq(("candidates.runs_all_pairs", "count"), ("candidates.runs_chunked", "count"),
        ("candidates.runs_star", "count"), ("cc.edges_in", "count"), ("cc.components", "count"),
        ("resume.op_s", "s"), ("sketch.kmv_update_mops", "Mops/s"),
        ("session.leaked_blocks", "count"), ("peak_heap_mb", "MB"), ("spill_mb", "MB"),
        ("trace.op_s", "s"), ("trace.untraced_op_s", "s"), ("trace.overhead_ratio", "ratio"))

  final case class Size(clips: Int, edges: Long, hubs: Int, hubSize: Int)
  val Sizes = Map(
    "full" -> Size(clips = 3000, edges = 400000L, hubs = 3, hubSize = 1500),
    "tiny" -> Size(clips = 300, edges = 5000L, hubs = 1, hubSize = 200))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val dir = arg("run-dir")
    val size = Sizes(a.getOrElse("scale", "full"))

    // the repo's benchmark session at local[4]; its scratch paths (Spark
    // local dir, warehouse, checkpoint dir) fall under the run directory,
    // which run.py makes the JVM's tmpdir and working directory
    val spark = graft.Bench.makeSession(Cores.toString)
    val sc = spark.sparkContext
    val listener = new TaskListener(sc)
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc)
    val ckpt = new java.io.File(new java.net.URI(sc.getCheckpointDir.get))
    val w: Workload = workload match {
      case "clips_dedup" => new ClipsWorkload(spark, dir, ckpt, tracer, size.clips, seed)
      case "cc_graph" =>
        new CcGraphWorkload(spark, dir, ckpt, tracer, size.edges, size.hubs, size.hubSize, seed)
      case other => sys.error(s"unknown workload $other")
    }
    try new Runner(spark, w, ckpt, tracer, listener).run(workload, seconds, trace)
    finally spark.stop()
  }
}

final class Runner(spark: SparkSession, w: Workload, ckpt: java.io.File,
    tracer: Tracer, listener: TaskListener) {
  import Main.Layers
  private val sc = spark.sparkContext
  private val SetupReps = 3
  private val WarmOps = 3

  private def cachedBlocks(): Long = sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  /** Drops everything earlier ops left persisted. */
  private def release(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def runOp(i: Int, traced: Boolean): OpStats = {
    release()
    Files.clear(ckpt)
    HeapProbe.reset()
    val t0 = System.nanoTime()
    val thrown =
      try { tracer.op(i, traced)(w.body(i, traced)); None }
      catch { case e: Exception => Some(e.toString) }
    val wall = (System.nanoTime() - t0) / 1e9
    val leaked = cachedBlocks()
    val heap = HeapProbe.peakMb()
    val totals = listener.totalsOf(Tracer.opKey(i))
    val after = thrown match {
      case Some(e) => After(0L, 0.0, Some(s"op threw $e"))
      case None =>
        try w.after(i)
        catch { case e: Exception => After(0L, 0.0, Some(s"check threw $e")) }
    }
    after.error.foreach(e => System.err.println(s"[perfbench] op $i failed: $e"))
    OpStats(i, traced, wall, totals, heap, leaked, after)
  }

  def run(workload: String, seconds: Double, trace: Boolean): Unit = {
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - mark) / 1e9
      mark = now
    }
    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    // unmeasured ops first: the JVM compiles the hot code and Spark its
    // plans there, so the measured ops start warm. The first fixes the
    // expected output.
    val warm = (1 to WarmOps).map(k => runOp(-k, traced = false))
    phase("warm")
    val minOps = if (trace) 4 else 3
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpStats]
    val t0 = System.nanoTime()
    var i = 0
    while (ops.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      // the traced run alternates untraced and traced ops, so its
      // overhead is measured against untraced ops of the same run
      ops += runOp(i, traced = trace && i % 2 == 1)
      i += 1
    }
    phase("ops")
    val all = ops.toSeq
    val plain = ops.filterNot(_.traced).toSeq
    val ctx = new ProbeContext(tracer, listener)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(plain, setupS)
      else perLayer(ops.filter(_.traced).toSeq, plain, ctx)
    phase("probes")
    ctx.failures.foreach(e => System.err.println(s"[perfbench] probe failed: $e"))
    val attempted = all.size + ctx.checkedOps
    val failed = all.count(_.failed) + ctx.failures.size
    val withFailures =
      if (trace) metrics :+ (("failed_ops_ratio", failed.toDouble / attempted, "ratio"))
      else metrics
    val context = Seq(
      "workload" -> workload,
      "items" -> w.items.toString,
      "ops" -> ops.size.toString,
      "setup_reps_s" -> setupS.mkString(" "),
      "phases_s" -> phases.map { case (n, v) => f"$n=$v%.2f" }.mkString(" "),
      "warm_op_walls_s" -> warm.map(o => f"${o.wallS}%.3f").mkString(" "),
      "op_walls_s" -> all.map(o => f"${o.wallS}%.3f").mkString(" "),
      "op_heap_mb" -> all.map(o => f"${o.heapMb}%.1f").mkString(" "),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "cores" -> Main.Cores.toString) ++ w.context
    println("context " + Json.obj(context.map { case (k, v) => k -> Json.str(v) }))
    if (trace) println("spans " + Json.arr(tracer.recorded.map(Json.span)))
    val out = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(withFailures.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println("result " + out)
  }

  private def endToEnd(ops: Seq[OpStats], setupS: Seq[Double]): Seq[(String, Double, String)] = {
    def med(f: OpStats => Double) = Stats.median(ops.map(f))
    val opS = med(_.wallS)
    Seq(
      ("op_s", opS, "s"),
      ("clips_per_s", w.items / opS, "1/s"),
      ("setup_s", Stats.median(setupS), "s"),
      ("task_cpu_s", med(_.totals.cpuNs / 1e9), "s"),
      ("shuffle_write_mb", med(_.totals.shuffleWriteBytes / 1048576.0), "MB"),
      ("ckpt_mb", med(_.after.ckptBytes / 1048576.0), "MB"),
      ("pair_recall", ops.map(_.after.recall).min, "ratio"))
  }

  private def perLayer(traced: Seq[OpStats], plain: Seq[OpStats],
      ctx: ProbeContext): Seq[(String, Double, String)] = {
    // per traced op: each layer's spans summed; then the median over ops
    val layers = Layers.flatMap { layer =>
      val perOp = traced.map(op => ctx.layer(op.op, layer).map(_._2))
      LayerFigures.names(layer).zipWithIndex.map { case (n, k) =>
        n -> Stats.median(perOp.map(_(k)))
      }
    }.toMap
    val probes = w.probes(ctx).toMap
    val tracedS = Stats.median(traced.map(_.wallS))
    val plainS = Stats.median(plain.map(_.wallS))
    val measured = layers ++ probes ++ Map(
      "session.leaked_blocks" -> Stats.median(plain.map(_.leakedBlocks.toDouble)),
      "peak_heap_mb" -> Stats.median(plain.map(_.heapMb)),
      "spill_mb" -> Stats.median(traced.map(_.totals.spillBytes / 1048576.0)),
      "trace.op_s" -> tracedS,
      "trace.untraced_op_s" -> plainS,
      "trace.overhead_ratio" -> (if (plainS > 0) tracedS / plainS - 1 else 0.0))
    // layers a workload does not call read 0
    Main.PerLayer.map { case (n, u) => (n, measured.getOrElse(n, 0.0), u) }
  }
}

/** Minimal JSON writer for the benchmark's output lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def span(s: Span): String = obj(Seq("id" -> s.id.toString, "name" -> str(s.name),
    "parent" -> s.parent.toString, "op" -> s.op.toString,
    "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
    "rows_out" -> s.rowsOut.toString))
}
