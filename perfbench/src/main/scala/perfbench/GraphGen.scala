package perfbench

import graft.sketch.Murmur3x64
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded synthetic duplicate graph with components known by construction.
  *
  * Component g is one of three shapes:
  *  - g < hubs: an exact-duplicate hub of `hubSize` members, wired the way
  *    the pair runs wire a large bucket: all-pairs chunks of 64 members,
  *    consecutive chunks chained by one edge;
  *  - every 6th other component: a drift chain of 8..40 members, a path in
  *    a seeded order;
  *  - otherwise a clique of a ClipGen group size (1,1,1,1,2,2,3,4,8).
  *
  * Vertex ids are the 16-hex-digit hashes of (seed, g, member), so the
  * minimum id of a component sits at a random position in it. Edges are
  * canonical (a < b) and distinct, as the verify stage emits them.
  */
object GraphGen {
  private val GroupSizes = Array(1, 1, 1, 1, 2, 2, 3, 4, 8)
  private val Chunk = 64

  private def id(seed: Long, g: Long, m: Int): String =
    f"${Murmur3x64.mix64(Murmur3x64.mix64(seed ^ (g * 0x9E3779B97F4A7C15L)) + m)}%016x"

  private def members(seed: Long, g: Long, hubs: Int, hubSize: Int): (Int, Int) = {
    // (size, shape): 0 hub, 1 chain, 2 clique
    if (g < hubs) (hubSize, 0)
    else if (g % 6 == 5) (8 + ((Murmur3x64.mix64(seed + g) >>> 1) % 33).toInt, 1)
    else (GroupSizes((g % GroupSizes.length).toInt), 2)
  }

  private def edges(seed: Long, g: Long, hubs: Int, hubSize: Int): Seq[(String, String)] = {
    val (n, shape) = members(seed, g, hubs, hubSize)
    val ids = (0 until n).map(id(seed, g, _))
    val pairs: Seq[(Int, Int)] = shape match {
      case 0 =>
        val chunks = (0 until n).grouped(Chunk).toSeq
        chunks.flatMap(c => c.combinations(2).map(p => (p(0), p(1)))) ++
          chunks.sliding(2).collect { case Seq(x, y) => (x.last, y.head) }
      case 1 => (0 until n - 1).map(i => (i, i + 1))
      case _ => (0 until n).combinations(2).map(p => (p(0), p(1))).toSeq
    }
    pairs.map { case (x, y) =>
      if (ids(x) < ids(y)) (ids(x), ids(y)) else (ids(y), ids(x))
    }
  }

  /** Number of components that gives about `targetEdges` edges. */
  def componentsFor(targetEdges: Long, hubs: Int, hubSize: Int): Long = {
    val hubEdges = hubs.toLong * edges(0L, 0L, 1, hubSize).size
    // per 54 non-hub components: 9 chains of ~24 members, 45 cliques
    // cycling through the group sizes (39 edges per 9)
    val perBlock = 9 * 23 + 5 * 39
    hubs + math.max(1L, (targetEdges - hubEdges) * 54 / perBlock)
  }

  /** (vertices(clip_id, label), edges(a, b)): label = the planted
    * component's minimum id. */
  def generate(spark: SparkSession, seed: Long, components: Long, hubs: Int,
      hubSize: Int, partitions: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val comps = spark.range(0, components, 1, partitions)
    val vertices = comps.flatMap { g =>
      val ids = (0 until members(seed, g, hubs, hubSize)._1).map(id(seed, g, _))
      val label = ids.min
      ids.map(i => (i, label))
    }.toDF("clip_id", "label")
    val es = comps.flatMap(g => edges(seed, g, hubs, hubSize)).toDF("a", "b")
    (vertices, es)
  }
}
