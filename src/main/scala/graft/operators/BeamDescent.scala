package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.functions.CosineSimilarity

/** Greedy beam descent over a graph index in ONE pass over the query
  * frame.
  *
  * The graph — vectors, each stage's node set and adjacency, the entry
  * seeds — is packed once into dense arrays and broadcast; every query
  * partition then walks all stages of the descent in plain Scala. The
  * same walk written as DataFrames paid one Spark job per beam cut (26
  * for `ann_hnsw_topk`, 12 for `ann_graph_topk`) to move frontiers of
  * ≤ |queries|·beam rows; here a call costs the jobs that sort and map
  * the query frame.
  *
  * The walk is the one [[AnnSearch.beamCut]] plans, value for value:
  *   - score(v) = r4(cosine(vec(v), qv)), with the cosine loop of
  *     [[CosineSimilarity]] and the r4 of `TestData.r4` (floor to a
  *     long, so a NaN cosine from a zero vector scores 0.0 as in Spark);
  *   - a cut keeps the top-`beam` candidates by (score desc, id asc)
  *     among the stage's members;
  *   - a hop cuts beam ∪ neighbours(beam) minus the query's own id;
  *   - a stage opens with a cut of what the previous stage handed down
  *     (the first stage: of the seeds), walks its hops and hands down
  *     its top-`keep`; the last stage's hand-down is the readout.
  *
  * Vectors must share one length (the embeddings fixture's contract).
  * Every executor holds the whole packed graph, which grows with the
  * corpus (SCALE.md); a graph too large to broadcast needs a
  * shard-local search instead (ROADMAP item 2's follow-on).
  */
object BeamDescent {

  /** One stage of the descent, in ids. `members` = None admits every
    * packed vector; `edges` are undirected. Edges and seeds that name
    * an id without a vector are dropped: no cut could keep them.
    */
  final case class Level(members: Option[Iterable[Long]],
                         edges: Iterable[(Long, Long)],
                         beam: Int, hops: Int, keep: Int)

  private final class Stage(val member: Array[Boolean],
                            val adj: Array[Array[Int]],
                            val beam: Int, val hops: Int, val keep: Int)
      extends Serializable

  /** A packed descent. Ids are ascending, so index order is id order. */
  final class Graph private[BeamDescent] (
      val ids: Array[Long], val vecs: Array[Array[Double]],
      private[BeamDescent] val seeds: Array[Int],
      private[BeamDescent] val seedsSkipQuery: Boolean,
      private[BeamDescent] val stages: Array[Stage]) extends Serializable

  /** Pack `vectors` (unique ids) for a descent that enters at `seeds`
    * (minus the query's own id when `seedsSkipQuery`) and walks
    * `levels` top to bottom.
    */
  def pack(vectors: Iterable[(Long, Array[Double])], seeds: Iterable[Long],
           seedsSkipQuery: Boolean, levels: Seq[Level]): Graph = {
    val sorted = vectors.toArray.sortBy(_._1)
    val ids = sorted.map(_._1)
    require(ids.distinct.length == ids.length, "vector ids must be unique")
    require(sorted.map(_._2.length).distinct.length <= 1,
      "vectors must share one length")
    val index = ids.zipWithIndex.toMap
    val stages = levels.map { l =>
      val member = l.members.map { m =>
        val a = new Array[Boolean](ids.length)
        m.flatMap(index.get).foreach(a(_) = true)
        a
      }.orNull
      val nbrs = Array.fill(ids.length)(
        scala.collection.mutable.ArrayBuffer.empty[Int])
      for ((a, b) <- l.edges; ia <- index.get(a); ib <- index.get(b)) {
        nbrs(ia) += ib; nbrs(ib) += ia
      }
      new Stage(member, nbrs.map(_.distinct.toArray), l.beam, l.hops, l.keep)
    }
    new Graph(ids, sorted.map(_._2), seeds.flatMap(index.get).toArray.distinct,
      seedsSkipQuery, stages.toArray)
  }

  /** Scores are r4 values — never NaN or -0.0 — so `>` and `==` order
    * them exactly as Spark's descending sort does. */
  private val best: Ordering[(Int, Double)] = Ordering.fromLessThan {
    (a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
  }

  /** The readout of one query: (id, score), best first. */
  def descend(g: Graph, qid: Long, qv: Array[Double]): Array[(Long, Double)] = {
    require(g.vecs.isEmpty || qv.length == g.vecs(0).length,
      s"query $qid: vector length ${qv.length} differs from the corpus")
    def score(i: Int): Double = {
      val c = CosineSimilarity.cosine(g.vecs(i), qv)
      math.floor(c * 10000.0 + 0.5).toLong / 10000.0
    }
    var beam = Array.empty[(Int, Double)]
    var handed: Array[Int] =
      if (g.seedsSkipQuery) g.seeds.filter(g.ids(_) != qid) else g.seeds
    for (st <- g.stages) {
      def cut(cands: Array[Int]): Array[(Int, Double)] =
        cands.filter(i => st.member == null || st.member(i))
          .map(i => (i, score(i))).sorted(best).take(st.beam)
      beam = cut(handed)
      for (_ <- 1 to st.hops) {
        val ids = beam.map(_._1)
        beam = cut((ids ++ ids.flatMap(st.adj(_))).distinct
          .filter(g.ids(_) != qid))
      }
      beam = beam.take(st.keep)
      handed = beam.map(_._1)
    }
    beam.map { case (i, c) => (g.ids(i), c) }
  }

  /** Descend for every (qid, qv) row of `queries`: one map over the
    * query frame. Output (qid, rnk, nn_id, cos) in (qid, rnk) order:
    * the queries are range-sorted by qid BEFORE the map, which emits
    * each query's readout in rank order. A sort after the map would
    * run the descent twice — once more to sample its range bounds.
    */
  def search(queries: DataFrame, g: Broadcast[Graph]): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    queries.select(col("qid"), col("qv")).orderBy("qid")
      .as[(Long, Array[Double])]
      .mapPartitions(_.flatMap { case (qid, qv) =>
        descend(g.value, qid, qv).iterator.zipWithIndex.map {
          case ((id, c), r) => (qid, r + 1, id, c)
        }
      })
      .toDF("qid", "rnk", "nn_id", "cos")
  }
}
