package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The iterative min-label propagation `GraphOps.connectedComponents`
  * replaced, kept as the reference it is pinned against (DegenerateSpec,
  * PropertySpec). Test code only: `src/main` has one path.
  */
object ComponentsReference {

  /** Connected components by min-label propagation over an undirected
    * pair list. `ids`: one column `id` (the node universe); `pairs`:
    * (src, dst). Returns (id, comp) with comp = min node id in the
    * component, typed as `id`.
    *
    * Each round propagates labels two hops (two shuffle joins + a
    * per-node min) and `localCheckpoint`s them. Labels only ever
    * decrease, so the loop runs until sum(comp) stops changing — about
    * diameter / 2 rounds, uncapped.
    */
  def minLabelComponents(ids: DataFrame, pairs: DataFrame): DataFrame = {
    // Explicit repartitions on the join keys plus `shuffle_hash` hints
    // keep each round's joins on the checkpointed (dst,P)/(id,P)
    // layouts, so the only per-round exchange is the src re-key.
    val P = 8
    val p0 = pairs.ckpt()
    val edges = p0
      .union(p0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(P, col("dst"))
      .ckpt()
    var labels = ids.select(col("id"), col("id").as("comp"))
      .repartition(P, col("id"))
      .ckpt()
    def propagate(lbl: DataFrame): DataFrame = {
      val nbr = edges.join(lbl.hint("shuffle_hash"), col("dst") === col("id"))
        .repartition(P, col("src"))
        .groupBy(col("src")).agg(min(col("comp")).as("nbrComp"))
      lbl.join(nbr.hint("shuffle_hash"), col("id") === col("src"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbrComp"), col("comp"))).as("comp"))
    }
    // an empty node universe sums to NULL: read it as 0 (converged)
    def labelSum(lbl: DataFrame): Long =
      lbl.agg(coalesce(sum(col("comp")).cast("long"), lit(0L))).first().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      val next = propagate(propagate(labels)).ckpt()
      val s2 = labelSum(next)
      labels = next
      converged = s2 == prevSum
      prevSum = s2
    }
    labels
  }
}
