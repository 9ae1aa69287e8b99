package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.geo.{QuadkeyTiling, TilingStrategy}

/** Pyramid retrieval — the graft of the reference's two tree-retrieval
  * modes (raptor/tree_retriever.py):
  *
  *  - [[descendTopK]] ≙ `retrieve_information` (tree_retriever.py:215-273):
  *    start at the coarsest layer, per layer rank nodes by distance to the
  *    query and keep the top-k, then descend into the CHILDREN of the
  *    selected nodes only — accumulating every layer's selection. This is
  *    what makes the pyramid *queryable*: each level prunes the next, so a
  *    leaf level with 10^9 tiles is touched only under ~k*4 parent cells
  *    per query.
  *  - [[collapseTopK]] ≙ `retrieve_information_collapse_tree`
  *    (tree_retriever.py:168-213, the reference DEFAULT): rank tiles of ALL
  *    levels at once by distance and keep the top-k under a running budget
  *    (stop before the first overflowing node — same W3 semantics as
  *    [[Knn.budgetStopBefore]], with the tile's image count standing in for
  *    the node's token count).
  *
  * Distance: squared planar degree distance from the query anchor to the
  * tile's bbox CENTER `((lat_min+lat_max)/2, (lon_min+lon_max)/2)` — the
  * tile-summary analog of the reference's node-embedding cosine distance
  * (the centroid IS the tile's "embedding", SURVEY.md §1.2). The closed
  * form is replicated verbatim in the DuckDB oracles.
  *
  * Scale design (100 TB): the per-level candidate set after the first level
  * is `selected(r-1) x 4` cells per query — the level scan is pruned by an
  * equi-join on the parent cell (partition-pruned further when the pyramid
  * comes from a [[Snapshot]], whose layout partitions by `res`). The
  * selection side is k rows/query; it is broadcast here and becomes a
  * shuffle equi-join on `pcell` at 10^6-query scale — never a theta join.
  * The collapse mode is by construction a full scan of the (small) tile
  * table per query — the reference's own default does exactly this over
  * `all_nodes`; its scale path is descending instead.
  */
object Retrieval {

  /** dist² from (qlat, qlon) to the tile bbox center — oracle-mirrored. */
  private def centerDistSq: Column = {
    val clat = (col("lat_min") + col("lat_max")) / 2.0
    val clon = (col("lon_min") + col("lon_max")) / 2.0
    (clat - col("qlat")) * (clat - col("qlat")) +
      (clon - col("qlon")) * (clon - col("qlon"))
  }

  private def rankPerQuery(cand: DataFrame, k: Int,
                           threshold: Option[Double] = None): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("dist_sq"), col("cell"))
    val ranked = cand.withColumn("dist_sq", centerDistSq)
      .withColumn("rnk", row_number().over(w))
    val sel = threshold match {
      // THRESHOLD mode (tree_builder.py:250-253, tree_retriever.py:
      // 245-248): keeps every node whose distance EXCEEDS the threshold —
      // the reference's farthest-first quirk, pinned verbatim (rnk stays
      // the ascending-distance rank, matching the reference's iteration
      // over the ascending `indices`). Selection size is unbounded; scale
      // users stay in top-k mode.
      case Some(t) => ranked.filter(col("dist_sq") > t)
      case None    => ranked.filter(col("rnk") <= k)
    }
    sel.select(col("qid"), col("res"), col("cell"), col("cnt"),
      col("dist_sq"), col("rnk"))
  }

  private def tileCols(t: DataFrame): DataFrame =
    t.select(col("cell"), col("res"), col("cnt"),
      col("lat_min"), col("lat_max"), col("lon_min"), col("lon_max"))

  /** Coarse-to-fine descent: top-k per level, children-of-selected only.
    * `pyramid` must contain levels `startRes..endRes` (schema of
    * [[TilePyramid.build]]); `queries` is (qid, qlat, qlon). Output:
    * (qid, res, cell, cnt, dist_sq, rnk) for every selected tile of every
    * level — the accumulated `selected_nodes` of the reference.
    *
    * `broadcastSelections`: hint the per-level selection/query side into
    * broadcast joins (right for up to ~10^5 queries; the checkpointed RDD
    * side reports no size statistics, so Spark would otherwise plan SMJ).
    * At larger query counts pass false — the same plan becomes shuffle
    * equi-joins on (pcell, qid). */
  /** `threshold`: Some(t) switches EVERY level's selection from top-k to
    * the reference's threshold mode (`distance > t`, the farthest-first
    * quirk — see [[rankPerQuery]]); `k` is then ignored.
    *
    * `emptyFallback`: when a query's candidate set at some level comes up
    * EMPTY (its selected parents have no children in the pyramid — e.g. a
    * partial snapshot), rank over ALL tiles of that level for that query
    * instead — the degraded fallback of the reference's kmeans/merge
    * retrievers (kmeans_retriever.py:112-114, merge_tree_retriever.py:
    * 99-118: "fall back to all leaves"). OFF by default because the
    * grafted descent (tree_retriever.py:215-273) has no such fallback;
    * RetrievalSpec pins both behaviors. The fallback branch is a plan,
    * not a driver check: queries with candidates anti-join away, so when
    * nothing is missing the branch is an empty broadcast. */
  /** `persistTiles`: cache the tile table (right for DERIVED pyramids —
    * without materialization a rollup-chain input would re-execute
    * O(levels²) times). Pass FALSE for a [[Snapshot]]-backed pyramid: the
    * parquet is already materialized and partitioned by `res`, so each
    * level's filter reaches the scan as a partition filter (file-listing
    * pruning) — at 10^9 tiles the descent then reads only the levels it
    * visits instead of caching the whole pyramid (RetrievalSpec pins the
    * PartitionFilters in the plan). */
  def descendTopK(pyramid: DataFrame, queries: DataFrame,
                  startRes: Int, endRes: Int, k: Int,
                  strategy: TilingStrategy = QuadkeyTiling,
                  broadcastSelections: Boolean = true,
                  threshold: Option[Double] = None,
                  emptyFallback: Boolean = false,
                  persistTiles: Boolean = true): DataFrame = {
    val tiles =
      if (persistTiles) tileCols(pyramid).persist(StorageLevel.MEMORY_AND_DISK)
      else tileCols(pyramid)
    val q = queries.select(col("qid"), col("qlat"), col("qlon"))
    def hinted(df: DataFrame) = if (broadcastSelections) broadcast(df) else df
    // Each level's selection (k rows/query) feeds BOTH the next level's
    // broadcast and the final union — localCheckpoint materializes it once
    // (lineage cut, data stays distributed); without it level r's subtree
    // re-executes O(levels - r) times, one broadcast job each.
    var sel = rankPerQuery(
      tiles.filter(col("res") === startRes).crossJoin(hinted(q)), k, threshold)
      .localCheckpoint(true)
    var all = sel
    var r = startRes + 1
    val rankCols = Seq("qid", "qlat", "qlon", "res", "cell", "cnt",
      "lat_min", "lat_max", "lon_min", "lon_max").map(col)
    while (r <= endRes) {
      // children of the previous selection: equi-join tile.parent == sel.cell
      val parents = sel.select(col("qid"), col("cell").as("pcell"))
      val level = tiles.filter(col("res") === r)
      val withCand0 = level
        .withColumn("pcell", strategy.parentAtCol(col("cell"), r - 1))
        .join(hinted(parents), Seq("pcell"))
      // fallback mode consumes the level join TWICE (candidates + the
      // present-qid set feeding the anti-join) — materialize it once so
      // the level scan + join don't execute twice per level
      val withCand =
        if (emptyFallback) withCand0.localCheckpoint(true) else withCand0
      val cand0 = withCand.join(hinted(q), Seq("qid")).select(rankCols: _*)
      val cand =
        if (!emptyFallback) cand0
        else {
          // queries with zero candidates at this level -> all level tiles
          val missing = q.join(withCand.select(col("qid")).distinct(),
            Seq("qid"), "left_anti")
          cand0.unionByName(
            level.crossJoin(hinted(missing)).select(rankCols: _*))
        }
      sel = rankPerQuery(cand, k, threshold).localCheckpoint(true)
      all = all.unionByName(sel)
      r += 1
    }
    all
  }

  /** Learned-tree descent over EDGE membership — the DAG case the
    * cell-based [[descendTopK]] cannot produce (quadkey/S2/hex parents are
    * functional: one parent per tile; a SOFT kmeans assignment
    * ([[KmeansAssign.assignSoft]]) gives a point SEVERAL parents, which is
    * exactly why the reference's tree is a DAG and its retriever dedups
    * children — tree_retriever.py:264-268):
    *
    *  1. rank `clusters` (cid, clat, clon) per query by squared planar
    *     distance, keep the top-`kc`;
    *  2. candidates = members of the selected clusters via `edges`
    *     (image_id, cid, …), DEDUPED on (qid, image_id) — a point reached
    *     through two selected parents is ranked ONCE (the U2 dedup,
    *     exercised by real multi-parent data in RetrievalSpec);
    *  3. rank the candidates per query by distance to the point itself,
    *     keep the top-`kp`.
    *
    * Output: (qid, image_id, dist_sq, rnk). Scale shape: clusters are k
    * rows (broadcast); the edge semi-join is a shuffle equi-join on `cid`
    * (edges are pre-partitionable by cid at rest); the dedup is a
    * (qid, image_id) aggregate — keyed shuffles only, no theta join. */
  def descendSoft(points: DataFrame, edges: DataFrame, clusters: DataFrame,
                  queries: DataFrame, kc: Int, kp: Int): DataFrame = {
    val q = queries.select(col("qid"), col("qlat"), col("qlon"))
    val cDist = (col("clat") - col("qlat")) * (col("clat") - col("qlat")) +
      (col("clon") - col("qlon")) * (col("clon") - col("qlon"))
    val wc = Window.partitionBy(col("qid")).orderBy(col("cdist"), col("cid"))
    val selClusters = clusters.select(col("cid"), col("clat"), col("clon"))
      .crossJoin(broadcast(q)) // k cluster rows: the cross join is k·|q|
      .withColumn("cdist", cDist)
      .withColumn("crnk", row_number().over(wc))
      .filter(col("crnk") <= kc)
      .select(col("qid"), col("cid"))
    // members of selected clusters; DISTINCT collapses multi-parent reach
    val cand = edges.select(col("cid"), col("image_id"))
      .join(broadcast(selClusters), Seq("cid"))
      .select(col("qid"), col("image_id"))
      .distinct()
    val pDist = (col("lat") - col("qlat")) * (col("lat") - col("qlat")) +
      (col("lon") - col("qlon")) * (col("lon") - col("qlon"))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("dist_sq"), col("image_id"))
    cand.join(points.select(col("image_id"), col("lat"), col("lon")),
        Seq("image_id"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("dist_sq", pDist)
      .withColumn("rnk", row_number().over(wp))
      .filter(col("rnk") <= kp)
      .select(col("qid"), col("image_id"), col("dist_sq"), col("rnk"))
  }

  /** Collapse-tree retrieval: rank tiles of ALL levels at once per query,
    * keep the top-k whose RUNNING image-count total stays within `budget`
    * (stop before the first overflow — tree_retriever.py:197-209). */
  def collapseTopK(pyramid: DataFrame, queries: DataFrame,
                   k: Int, budget: Long): DataFrame =
    collapseRanked(pyramid, queries, k)
      .filter(col("cum") <= budget)
      .drop("cum")

  /** Collapse-tree retrieval under the FaissRetriever budget quirk: the
    * first OVERFLOWING tile is INCLUDED (append before check —
    * raptor/FaissRetriever.py:166-201 `retrieve`). Both budget quirks
    * exist separately in the kNN family (Knn.budgetStopBefore /
    * budgetIncludeOverflow); this is the reference's actual COMPOSITION —
    * collapse ranking feeding the include-overflow cut (VERDICT r4 task
    * 9). Same scale shape as [[collapseTopK]]: the running total is a
    * per-query window over k rows, never over the tile table. */
  def collapseTopKIncl(pyramid: DataFrame, queries: DataFrame,
                       k: Int, budget: Long): DataFrame =
    collapseRanked(pyramid, queries, k)
      .filter(col("cum") - col("cnt") < budget)
      .drop("cum")

  /** Shared ranked+running-total derivation of the two collapse modes. */
  private def collapseRanked(pyramid: DataFrame, queries: DataFrame,
                             k: Int): DataFrame = {
    // No persist: the tile table is scanned once, and callers pass a
    // materialized pyramid (a Snapshot read or a checkpointed build); a
    // cache here would stay resident, as nothing could release it.
    val q = queries.select(col("qid"), col("qlat"), col("qlon"))
    val ranked = rankPerQuery(tileCols(pyramid).crossJoin(broadcast(q)), k)
    val w = Window.partitionBy(col("qid")).orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.withColumn("cum", sum(col("cnt")).over(w))
  }
}
