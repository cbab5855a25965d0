package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Graph centrality for corpus curation (extension mandate, SURVEY §2.3):
  * link-graph quality weighting — the Common-Crawl-style signal where a
  * page's (or domain's) rank feeds the keep/drop decision.
  *
  * The iteration is the classic distributed PageRank shape: per round, one
  * equi-join of the rank table with the (pre-degreed, checkpointed) edge
  * list and one hash aggregate on the destination — shuffle volume O(edges),
  * nothing driver-bound, constant-size plans via per-round checkpointing
  * (the same lineage discipline as [[Dedup.connectedComponents]]).
  */
object Graph {

  /** Exact triangle count of the undirected graph in (`src`, `dst`),
    * self-loops and duplicate/reversed edges ignored.
    *
    * Uses the standard degree-orientation trick: orient every edge from
    * its lower-(degree, id) endpoint to its higher one, so each vertex's
    * out-degree is O(√|E|) on any graph and the wedge join
    * (out-edges ⋈ out-edges on the shared source) generates
    * O(|E|^{3/2}) candidates worst-case instead of Σdeg² — the difference
    * between feasible and not on a skewed 100 TB similarity graph. Wedges
    * are then closed with one semi-ish inner join against the oriented
    * edge set; every step is an equi-join + hash-agg, nothing driver-side.
    *
    * @return a single row (`triangles` long).
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // canonical undirected edge list: u < v, deduplicated
    val e = edges.select(
      least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // orient by (degree, id): a < b iff (d_a, a) < (d_b, b)
    val du = deg.select(col("id").as("u"), col("d").as("du"))
    val dv = deg.select(col("id").as("v"), col("d").as("dv"))
    // reused three times below; plans stay constant
    val oriented = Materialize.checkpoint(e.join(du, "u").join(dv, "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("a"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("b")), eager = true)
    val o1 = oriented.select(col("a").as("x"), col("b").as("p"))
    val o2 = oriented.select(col("a").as("x"), col("b").as("q"))
    // wedges p—x—q with a deterministic p<q cut so each wedge counts once
    val wedges = o1.join(o2, "x").filter(col("p") < col("q"))
    // close the wedge: an oriented edge p→q or q→p completes a triangle.
    // Lazy on purpose — the caller triggers one job; the checkpoint blocks
    // are freed by the ContextCleaner once the result is unreachable (same
    // discipline as [[Curate.curateCorpus]]).
    val closing = oriented.select(
      least(col("a"), col("b")).as("p"), greatest(col("a"), col("b")).as("q"))
    wedges.join(closing, Seq("p", "q"))
      .agg(count(lit(1)).as("triangles"))
  }

  /** Fixed-point integer PageRank — every arithmetic step is exact long
    * math (scaled by `scale`, per-edge floor division), so the whole power
    * iteration replays bit-identically in any SQL engine: no FP summation
    * order, no libm. The variant is documented, deterministic PageRank:
    *
    *   rank⁰(v)   = scale
    *   rank⁺(v)   = floor(scale·(dampDen−dampNum)/dampDen)
    *                + Σ_{(u,v)∈E} floor(rank(u)·dampNum / (dampDen·outdeg(u)))
    *
    * (dangling mass is dropped, per-edge flooring loses ≤1 unit per edge —
    * both standard simplifications; ranking order matches float PageRank on
    * non-adversarial graphs at scale=10⁶.)
    *
    * @param edges directed edges (`src`, `dst`), multi-edges deduplicated.
    * @return (id, rank) for every vertex, rank in `scale` fixed-point.
    */
  def pageRankInt(edges: DataFrame, iters: Int, scale: Long = 1000000L,
                  dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("od"))
    val edged = Materialize.checkpoint(e.join(deg, "src"), eager = true)
    val verts = Materialize.checkpoint(edged.select(col("src").as("id"))
      .union(edged.select(col("dst").as("id")))
      .distinct(), eager = true)
    val base = scale * (dampDen - dampNum) / dampDen // exact for sane params
    var ranks = verts.withColumn("rank", lit(scale))
    var prev: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contribs = edged.join(ranks, edged("src") === ranks("id"))
        .select(edged("dst").as("id"),
          expr(s"CAST((rank * $dampNum) DIV (${dampDen} * od) AS BIGINT)").as("c"))
        .groupBy("id").agg(sum("c").as("c"))
      val next = verts.join(contribs, Seq("id"), "left")
        .select(col("id"), (lit(base) + coalesce(col("c"), lit(0L))).as("rank"))
      // Checkpoint every second round plus the last: each checkpoint is
      // one job and one block write of the full rank table, and a lazy
      // round riding into the next keeps the plan bounded (at most two
      // rounds of join+agg; lineage never grows with `iters`). The LAST
      // round always checkpoints so the returned frame reads its own
      // blocks and the edge/vertex checkpoints below can be released
      // before the caller consumes the result.
      if (i % 2 == 0 || i == iters) {
        val ck = Materialize.checkpoint(next, eager = true)
        // safe only AFTER ck materialized — the lazy round in between
        // still read prev's blocks during the checkpoint job
        prev.foreach(Materialize.releaseCheckpoint)
        prev = Some(ck)
        ranks = ck
      } else ranks = next
    }
    Materialize.releaseCheckpoint(edged)
    // after ≥1 round the returned table is its own checkpoint; the vertex
    // checkpoint only backs the iters=0 degenerate return
    if (iters > 0) Materialize.releaseCheckpoint(verts)
    ranks
  }
}
