package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Common-neighbor link prediction — the KG-densification step AFTER
  * [[Cooccur]]/[[Triangles]]: score NON-edges by how many neighbors the two
  * endpoints share (plus neighborhood Jaccard), the classic
  * missing-link/candidate-relation signal (Liben-Nowell & Kleinberg 2003).
  * [[Cooccur]] proposes edges from direct co-mention; this proposes them
  * from second-order structure.
  *
  * Scale shape: common-neighbor enumeration is intrinsically Σ_v deg(v)² —
  * a single hub makes it corpus-quadratic, and NO orientation trick fixes
  * that (unlike triangle counting, the wedge endpoints are the OUTPUT here,
  * not a closure probe). The standard mitigation, applied: a pivot degree
  * cap (`maxPivotDegree`) — wedges are only generated through nodes with
  * deg ≤ cap, bounding fan-out at cap·m = O(m), and hub-mediated wedges are
  * the right thing to drop anyway (sharing a mega-hub neighbor is ~zero
  * evidence of a real link — the same reasoning as the LSH bucket caps in
  * [[graft.datapipe.Dedup]]). All arithmetic integer (jaccard in basis
  * points, truncating div) so a relational engine replays it exactly.
  *
  * Shuffle census: edge normalize (1) + degree groupBy (1) + capped wedge
  * self-join on the pivot (1) + pair groupBy (1) + non-edge anti join (1) +
  * two degree joins (node-sized, AQE-broadcast). Text/payloads never move;
  * every shuffled row is a pair of longs.
  */
object LinkPredict {

  /** edges: (src, dst) UNDIRECTED (normalized + deduplicated here, like
    * [[Triangles.perNodeCounts]]). Returns non-edge pairs (x < y) with
    * ≥ minCommon shared neighbors through pivots of degree ≤ maxPivotDegree:
    * (x, y, cn, d_x, d_y, jaccard_bp) where jaccard_bp uses the FULL
    * degrees (the cap limits enumeration, not the score's denominator). */
  def commonNeighbors(edges: DataFrame, minCommon: Long = 2L,
                      maxPivotDegree: Long = Long.MaxValue): DataFrame = {
    require(minCommon >= 1L && maxPivotDegree >= 1L)
    // one cut, three consumers (degree build, adjacency, non-edge anti join)
    val e = edges.select(
        least(col("src"), col("dst")).cast("long").as("pa"),
        greatest(col("src"), col("dst")).cast("long").as("pb"))
      .filter(col("pa") =!= col("pb") && col("pa").isNotNull)
      .distinct()
      .localCheckpoint(false)
    val deg = e.select(explode(array(col("pa"), col("pb"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val adj = e.select(col("pa").as("v"), col("pb").as("n"))
      .union(e.select(col("pb").as("v"), col("pa").as("n")))
    // cap applies to the PIVOT v; filtering adj once covers both wedge arms.
    // Wedge shape A/B (sf0.1, 18.3M wedges; BENCH/NOTES.md): this codegen'd
    // self-join + hash aggregate runs the candidate stage in 4.4 s; the
    // collect_list + transform/slice pair-expansion alternative takes 25.6 s
    // — Catalyst higher-order functions evaluate INTERPRETED, so the per-
    // wedge struct allocation dominates. The join stays in whole-stage
    // codegen end-to-end.
    val adjCapped = adj
      .join(deg.filter(col("d") <= maxPivotDegree).select(col("node").as("v")), "v")
      .localCheckpoint(false) // wedge self-join reads it twice
    val cand = adjCapped.as("a")
      .join(adjCapped.as("b"),
        col("a.v") === col("b.v") && col("a.n") < col("b.n"))
      .select(col("a.n").as("x"), col("b.n").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
    val nonEdge = cand.join(e,
        cand("x") === e("pa") && cand("y") === e("pb"), "left_anti")
    nonEdge
      .join(deg.select(col("node").as("x"), col("d").as("d_x")), "x")
      .join(deg.select(col("node").as("y"), col("d").as("d_y")), "y")
      .withColumn("jaccard_bp", expr("cn * 10000L div (d_x + d_y - cn)"))
      .select("x", "y", "cn", "d_x", "d_y", "jaccard_bp")
  }
}
