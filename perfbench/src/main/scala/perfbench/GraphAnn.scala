package perfbench

import scala.collection.mutable

import graft.operators.Graph
import graft.similarity.Similarity
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A power-law co-purchase graph (preferential attachment, `links`
  * edges a new node, over `nodes` nodes) plus `islands` small separate
  * communities; and a clustered embedding set of `vectors` vectors of
  * `dim` dimensions around `clusters` centres, probed by `queryBatches`
  * batches of `queries` queries. */
final case class GraphShape(
    nodes: Int,
    links: Int,
    islands: Int,
    islandSize: Int,
    vectors: Int,
    dim: Int,
    clusters: Int,
    queryBatches: Int,
    queries: Int
) {
  /** Undirected edges, each once, as (low, high). */
  def edges(seed: Long): Seq[(Long, Long)] = {
    val out = mutable.LinkedHashSet.empty[(Long, Long)]
    val ends = mutable.ArrayBuffer.empty[Long]
    def link(a: Long, b: Long): Unit =
      if (a != b && out.add((math.min(a, b), math.max(a, b)))) { ends += a; ends += b }
    for (a <- 0 to links; b <- a + 1 to links) link(a, b)
    for (v <- links + 1 until nodes) {
      val targets = mutable.LinkedHashSet.empty[Long]
      var t = 0
      while (targets.size < links) {
        targets += ends(Gen.below(ends.length, seed, 1, v, t))
        t += 1
      }
      targets.foreach(link(v, _))
    }
    for (c <- 0 until islands) {
      val base = nodes.toLong + c * islandSize
      for (i <- 1 until islandSize) {
        link(base + i, base + Gen.below(i, seed, 2, c, i))
        link(base + i, base + Gen.below(i, seed, 3, c, i))
      }
    }
    out.toSeq
  }

  private def centre(seed: Long, c: Int, d: Int) = 4.0 * Gen.gauss(seed, 4, c, d)

  /** Corpus vector `i` (query vectors live at `vectors + ...`). */
  def vector(seed: Long, i: Long): Array[Double] = {
    val c = Gen.below(clusters, seed, 5, i)
    Array.tabulate(dim)(d => centre(seed, c, d) + Gen.gauss(seed, 6, i, d))
  }

  def queryId(batch: Int, q: Int): Long = vectors.toLong + batch.toLong * queries + q
}

/** Graph operators with persisted caches (`kCore`, `pageRank`,
  * `labelPropagation`) over a co-purchase graph, then an IVF index
  * written with `ivfWriteIndex` and probed with `ivfQueryIndex`. */
final class GraphAnn(shape: GraphShape) extends Workload {
  final case class Input(seed: Long, edges: String, corpus: String, queries: Seq[String])

  val name = "graph-ann"

  val layerMetrics: Seq[String] = {
    import Workload.metrics
    metrics("operators.kCore", "wall_s", "jobs", "shuffle_bytes", "live_rdds") ++
      metrics("operators.pageRank", "wall_s", "jobs") ++ metrics("operators.labelPropagation", "wall_s", "jobs") ++
      metrics("similarity.ivfWriteIndex", "wall_s") ++ metrics("similarity.ivfQueryIndex", "wall_s", "input_bytes")
  }
  val k = 4
  val kcoreRounds = 3
  val pageRankIterations = 5
  val lpaIterations = 4
  val nlist = 16
  val nprobe = 4
  val topK = 10
  /** Share of the exact cosine top-k the index must return at least. */
  val recallFloor = 0.9

  private val vecSchema = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(DoubleType, containsNull = false))))

  def stage(spark: SparkSession, seed: Long, dir: String): Input = {
    import spark.implicits._
    val shape = this.shape // the task closures capture the shape, not the workload
    val both = shape.edges(seed).flatMap { case (a, b) => Seq((a, b), (b, a)) }
    both.toDF("src", "dst").repartition(4).write.mode("overwrite").parquet(s"$dir/edges")
    def vectors(ids: Seq[Long], path: String): String = {
      val rows = spark.sparkContext.parallelize(ids, 4).map(i => Row(i, shape.vector(seed, i).toSeq))
      spark.createDataFrame(rows, vecSchema).write.mode("overwrite").parquet(path)
      path
    }
    val corpus = vectors(0L until shape.vectors.toLong, s"$dir/corpus")
    val queries = (0 until shape.queryBatches).map(b =>
      vectors((0 until shape.queries).map(shape.queryId(b, _)), s"$dir/queries-$b"))
    Input(seed, s"$dir/edges", corpus, queries)
  }

  def round(ops: Ops, in: Input, dir: String): RoundOutcome = {
    val spark = ops.spark
    val edges = spark.read.parquet(in.edges)
    def pairs(rows: Array[Row]) = rows.map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val kcore = ops.call("operators.kCore")(
      pairs(Graph.kCore(edges, "src", "dst", k, kcoreRounds).collect()))
    val ranks = ops.call("operators.pageRank")(
      Graph.pageRank(edges, "src", "dst", pageRankIterations).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toSeq)
    val labels = ops.call("operators.labelPropagation")(
      pairs(Graph.labelPropagation(edges, "src", "dst", lpaIterations).collect()))
    val index = s"$dir/ivf"
    val built = ops.call("similarity.ivfWriteIndex")(
      Similarity.ivfWriteIndex(spark.read.parquet(in.corpus), "id", "vec", index, nlist = nlist))
    val answers = if (built.isEmpty) Nil else in.queries.map { q =>
      ops.call("similarity.ivfQueryIndex")(
        Similarity.ivfQueryIndex(spark.read.parquet(q), "id", "vec", index, topK, nprobe).collect())
    }
    val undirected = shape.edges(in.seed)
    kcore.foreach(GraphCheck.kCore(undirected, k, kcoreRounds, _))
    ranks.foreach(GraphCheck.pageRank(undirected, pageRankIterations, _))
    labels.foreach(GraphCheck.labels(undirected, lpaIterations, _))
    if (answers.exists(_.isDefined)) {
      val corpus = (0 until shape.vectors).map(i => shape.vector(in.seed, i.toLong))
      answers.zipWithIndex.foreach { case (a, b) => a.foreach(checkAnn(in.seed, corpus, b, _)) }
    }
    RoundOutcome(Util.bytesUnder(index))
  }

  /** Recall@k against exact cosine top-k, and every returned score
    * against that pair's exact cosine. */
  private def checkAnn(seed: Long, corpus: IndexedSeq[Array[Double]], batch: Int,
      got: Array[Row]): Unit = {
    val norms = corpus.map(v => math.sqrt(v.map(x => x * x).sum))
    val byQuery = got.groupBy(_.getLong(0))
    var hits = 0
    for (q <- 0 until shape.queries) {
      val id = shape.queryId(batch, q)
      val qv = shape.vector(seed, id)
      val qn = math.sqrt(qv.map(x => x * x).sum)
      def cos(i: Int) = {
        var s = 0.0
        var d = 0
        while (d < shape.dim) { s += qv(d) * corpus(i)(d); d += 1 }
        s / (qn * norms(i))
      }
      // exact top-k: a min-heap of the k best seen
      val best = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by[(Double, Int), Double](-_._1))
      for (i <- corpus.indices) {
        val c = cos(i)
        if (best.size < topK) best.enqueue(c -> i)
        else if (c > best.head._1) { best.dequeue(); best.enqueue(c -> i) }
      }
      val exact = best.map(_._2.toLong).toSet
      val rows = byQuery.getOrElse(id, Array.empty[Row])
      Check(rows.length <= topK, s"ann: query $id got ${rows.length} neighbours")
      Check(rows.map(_.getLong(1)).distinct.length == rows.length, s"ann: query $id got a neighbour twice")
      rows.foreach { r =>
        val n = r.getLong(1)
        Check.close(r.getDouble(2), cos(n.toInt), 2e-6, s"ann: score of ($id, $n)")
        if (exact(n)) hits += 1
      }
    }
    val recall = hits.toDouble / (shape.queries * topK)
    Check(recall >= recallFloor, s"ann: recall@$topK $recall below $recallFloor in batch $batch")
    System.err.println(f"[perfbench] ann: batch $batch recall@$topK $recall%.4f")
  }
}

/** The graph operators' results recomputed without Spark. */
object GraphCheck {
  private def adjacency(undirected: Seq[(Long, Long)]): Map[Long, Seq[Long]] =
    undirected.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** One row a node: the rows as a map. */
  private def byNode[V](what: String, rows: Seq[(Long, V)]): Map[Long, V] = {
    val m = rows.toMap
    Check(m.size == rows.length, s"$what: ${rows.length} rows for ${m.size} distinct nodes")
    m
  }

  /** The same fixed-round peel: drop every node of degree < k in the
    * subgraph induced by the alive nodes, `rounds` times; then each
    * survivor's degree in the peeled subgraph. */
  def kCore(undirected: Seq[(Long, Long)], k: Int, rounds: Int, rows: Seq[(Long, Long)]): Unit = {
    val got = byNode("kCore", rows)
    val adj = adjacency(undirected)
    var alive = adj.keySet
    def degrees = alive.toSeq.map(v => v -> adj(v).count(alive)).filter(_._2 > 0).toMap
    for (_ <- 1 to rounds) alive = degrees.filter(_._2 >= k).keySet
    val want = degrees.map { case (v, d) => v -> d.toLong }
    Check(got == want, s"kCore: ${got.size} survivors, expected ${want.size}; " +
      s"${got.count { case (v, d) => !want.get(v).contains(d) }} differ")
  }

  /** Power iteration with the operator's update rule: contributions
    * rank/deg summed at 12 decimals, rank = 0.15 + 0.85 * sum. */
  def pageRank(undirected: Seq[(Long, Long)], iterations: Int, rows: Seq[(Long, Double)]): Unit = {
    val got = byNode("pageRank", rows)
    val adj = adjacency(undirected)
    val nodes = adj.keys.toSeq
    var rank = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iterations) {
      val sums = mutable.Map.empty[Long, java.math.BigDecimal].withDefaultValue(java.math.BigDecimal.ZERO)
      for (v <- nodes; w <- adj(v)) {
        val c = java.math.BigDecimal.valueOf(rank(v) / adj(v).length).setScale(12, java.math.RoundingMode.HALF_UP)
        sums(w) = sums(w).add(c)
      }
      rank = nodes.map(v => v -> (0.15 + 0.85 * sums(v).doubleValue)).toMap
    }
    Check(got.keySet == rank.keySet, s"pageRank: ${got.size} nodes ranked, expected ${rank.size}")
    rank.foreach { case (v, r) => Check.close(got(v), r, 2e-6, s"pageRank: rank of $v") }
  }

  /** Every label is a node of its own node's connected component
    * (union-find over the edges), and labels match synchronous
    * propagation with the smallest-label tie-break. */
  def labels(undirected: Seq[(Long, Long)], iterations: Int, rows: Seq[(Long, Long)]): Unit = {
    val got = byNode("labelPropagation", rows)
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    undirected.foreach { case (a, b) => parent(find(a)) = find(b) }
    got.foreach { case (v, l) =>
      Check(parent.contains(l) && find(l) == find(v), s"labelPropagation: node $v has label $l from another component")
    }
    val adj = adjacency(undirected)
    var label = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to iterations)
      label = adj.map { case (v, ns) =>
        val counts = ns.groupBy(label).map { case (l, xs) => l -> xs.length }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    Check(got == label, s"labelPropagation: ${got.count { case (v, l) => label.get(v) != Some(l) }} labels differ")
  }
}
