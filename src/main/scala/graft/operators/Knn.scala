package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.geo.{QuadkeyTiling, TilingStrategy}

/** Exact kNN via ring expansion + window refine — the graft of the
  * reference's hierarchical retrieval (raptor/tree_retriever.py:168-273,
  * kmeans_retriever.py:52-154): coarse candidate gathering (≙ top clusters)
  * then brute-force refine + top-k (≙ argsort slice, raptor/utils.py:209-219).
  *
  * Metric: squared planar degree distance ([[GridCell.planarDist2]]) — same
  * closed form as the SQL oracle, so ranks match bit-for-bit.
  *
  * EXACTNESS: a point outside ring r of the query's cell is at planar
  * distance >= r * u, u = [[TilingStrategy.minUnitDeg]]. A query is settled
  * once it has k candidates and its k-th distance² dk < (r*u)²: every point
  * the ring missed is strictly farther than all k it holds. An unsettled
  * query picks its own next ring (driver loop, ≙ the retriever's
  * layer-descent loop):
  *  - with k candidates, ⌊√dk / u⌋ + 1. Its bound exceeds √dk and the
  *    larger ring holds the same k points or nearer ones, so it settles in
  *    the next round;
  *  - with n < k, r · 2 · ⌈√(k / max(n,1))⌉: the candidate count grows with
  *    r², so this aims past k in one step.
  * Rings are capped at 4·2^(maxIter−1) (a ring costs O(r²) per query to
  * enumerate). A query still unsettled at the cap — far from every image,
  * or k > |images| — falls back to brute force, which keeps the operator
  * total.
  *
  * Scale design: the query side is tiny and BROADCAST after ring explosion;
  * the image side is scanned (pruned to 5 columns), never shuffled — only
  * the candidate rows (|ring| cells' worth per query) shuffle into the
  * per-query window. Iterations touch disjoint leftover queries only.
  */
object Knn {

  val DefaultRes = 8

  /** images -> pruned leaf projection with cell at `res`. */
  private def leaves(images: DataFrame, res: Int,
                     strategy: TilingStrategy): DataFrame =
    images.select(col("image_id"), col("lat"), col("lon"), col("w"), col("h"))
      .withColumn("cell", strategy.encodeCol(col("lat"), col("lon"), res))

  /** Exact kNN join: queries (qid, qlat, qlon) × images -> top-k rows
    * (qid, image_id, dist_sq, rnk, bytes). Deterministic tiebreak on
    * (dist_sq, image_id).
    *
    * The settle loop is fully join-based: no `collect()`ed id set, no
    * literal `isin`, so the plan size is O(1) in |queries| and a 10^6-row
    * query table is fine. Each round is ONE eager action: a
    * `localCheckpoint` of the round's ranked candidates, every row tagged
    * with its query's state (settled / open with its next ring / capped).
    * The settled rows and the next round's queries are both filters of
    * that checkpoint, and the driver's only input — how many queries are
    * open or capped — is observed while the checkpoint is written
    * ([[org.apache.spark.sql.Observation]]), not counted by a second job.
    * On a real cluster localCheckpoint blocks live on executors — for
    * resumable multi-hour jobs swap for a reliable `checkpoint` dir; the
    * shape is identical. */
  def knnExact(images: DataFrame, queries: DataFrame, k: Int,
               res: Int = DefaultRes, maxIter: Int = 6,
               strategy: TilingStrategy = QuadkeyTiling): DataFrame = {
    // No cache: the sf0.01 and sf0.1 query batches settle in one round,
    // where caching the leaf projection made the call ~30% slower
    // (local[4]); a second round rescans it instead.
    val lv = leaves(images, res, strategy)
    val minDim = strategy.minUnitDeg(res)
    val rCap = 4 << (maxIter - 1)
    // r=4 settles typical densities in ONE round: candidates grow with
    // ring area (cheap — still a few hundred rows/query) while each extra
    // ROUND costs a full job cycle, which dominates at any scale.
    var open = queries.select(col("qid"), col("qlat"), col("qlon"))
      .withColumn("qcell", strategy.encodeCol(col("qlat"), col("qlon"), res))
      .withColumn("r", lit(4))
    val settled = ArrayBuffer.empty[DataFrame]
    val stragglers = ArrayBuffer.empty[DataFrame]
    var nOpen = 1L
    var iter = 0
    while (iter < maxIter && nOpen > 0) {
      val obs = Observation()
      val ck = settleRound(lv, open, k, minDim, rCap, strategy)
        .observe(obs,
          count(when(col("rnk") === 1 && col("state") === Open, 1)).as("open"),
          count(when(col("rnk") === 1 && col("state") === Capped, 1)).as("capped"))
        .localCheckpoint(true)
      val m = obs.get
      settled += ck.filter(col("state") === Settled)
        .select(col("qid"), col("image_id"), col("dist_sq"), col("rnk"), col("bytes"))
      // one row per unsettled query: rnk 1 is its nearest candidate, or
      // its placeholder row when the ring held none
      def queriesIn(state: Int) = ck.filter(col("rnk") === 1 && col("state") === state)
        .select(col("qid"), col("qlat"), col("qlon"), col("qcell"), col("r"))
      if (m("capped").asInstanceOf[Long] > 0) stragglers += queriesIn(Capped)
      nOpen = m("open").asInstanceOf[Long]
      open = queriesIn(Open)
      iter += 1
    }
    if (nOpen > 0) stragglers += open
    // brute-force stragglers (guaranteed exact, trivially small q side)
    val brute = stragglers.reduceOption(_.unionByName(_)).map(bruteRank(lv, _, k))
    (settled ++ brute).reduce(_.unionByName(_))
  }

  private val Settled = 0
  private val Open = 1
  private val Capped = 2

  /** One settle round over the open queries (qid, qlat, qlon, qcell, r):
    * each query's top-k among its ring-r candidates, every row tagged with
    * the query's `state` and `r` set to the query's next ring. */
  private def settleRound(lv: DataFrame, qs: DataFrame, k: Int, minDim: Double,
                          rCap: Int, strategy: TilingStrategy): DataFrame = {
    val cand = qs.withColumn("cell", explode(strategy.ringCol(col("qcell"), col("r"))))
    val byDist = Window.partitionBy(col("qid"))
      .orderBy(col("dist_sq").asc_nulls_last, col("image_id"))
    val perQuery = Window.partitionBy(col("qid"))
    val (n, dk, r) = (col("n"), col("dk"), col("r"))
    val bound = r * minDim
    val next = when(n === k, floor(sqrt(dk) / minDim) + 1)
      .otherwise(r * 2 * ceil(sqrt(lit(k.toDouble) / greatest(n, lit(1L)))))
    lv.join(broadcast(cand), Seq("cell"))
      // one image-less row per query, ranked after its candidates, so a
      // query whose ring holds no image still has a row to carry it on
      .unionByName(qs, allowMissingColumns = true)
      .withColumn("dist_sq", distSq)
      .withColumn("rnk", row_number().over(byDist))
      .filter(col("rnk") <= k)
      .select(col("*"), count(col("image_id")).over(perQuery).as("n"),
        max(col("dist_sq")).over(perQuery).as("dk"))
      .select(col("qid"), col("image_id"), col("dist_sq"), col("rnk"),
        (col("w") * col("h") * 3).cast("long").as("bytes"),
        col("qlat"), col("qlon"), col("qcell"),
        when(n === k && dk < bound * bound, Settled)
          .when(r < rCap, Open).otherwise(Capped).as("state"),
        least(greatest(next, r + 1), lit(rCap)).cast("int").as("r"))
  }

  private def distSq = (col("lat") - col("qlat")) * (col("lat") - col("qlat")) +
    (col("lon") - col("qlon")) * (col("lon") - col("qlon"))

  private def topK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("dist_sq"), col("image_id"))
    cand.withColumn("dist_sq", distSq)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("image_id"), col("dist_sq"), col("rnk"),
        (col("w") * col("h") * 3).cast("long").as("bytes"))
  }

  private def bruteRank(lv: DataFrame, qs: DataFrame, k: Int): DataFrame =
    topK(lv.crossJoin(broadcast(qs.select(col("qid"), col("qlat"), col("qlon")))), k)

  /** Brute-force oracle variant (SURVEY.md J2) over all images. */
  def knnBrute(images: DataFrame, queries: DataFrame, k: Int): DataFrame =
    bruteRank(images.select(col("image_id"), col("lat"), col("lon"),
      col("w"), col("h")), queries, k)

  /** Radius-bounded brute force: queries carry a per-query bound `bnd`
    * (>= the true k-th distance², e.g. the ring-kNN k-th distance — any
    * real candidate's distance is a valid upper bound). The scan stays
    * map-only codegen; only ~k rows per query survive the filter, so the
    * ranking window sorts thousands of rows instead of |images| x |queries|
    * (the 29M-row window sort this replaces dominated q_knn_overlap).
    * Soundness: the true top-k all satisfy dist² <= true-kth² <= bnd. */
  def knnBruteBounded(images: DataFrame, queriesWithBound: DataFrame,
                      k: Int): DataFrame = {
    val cand = images
      .select(col("image_id"), col("lat"), col("lon"), col("w"), col("h"))
      .crossJoin(broadcast(queriesWithBound))
      .withColumn("dist_sq", distSq)
      .filter(col("dist_sq") <= col("bnd"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist_sq"), col("image_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("image_id"), col("dist_sq"), col("rnk"),
        (col("w") * col("h") * 3).cast("long").as("bytes"))
  }

  /** All-pairs kNN SELF-join (AkNN): every image's k nearest OTHER images
    * among the candidates sharing its ring-1 cell neighborhood at `res` —
    * the whole-corpus companion of [[knnExact]]'s query-set form (the
    * similarity-graph builder: near-dup mining, label propagation and CC
    * dedup all consume exactly this edge list). Semantics are explicitly
    * CANDIDATE-BOUNDED: a sparse neighborhood yields < k rows (the
    * operator never invents far neighbors), which is the contract a
    * bounded-radius similarity graph wants.
    *
    * Distances are INTEGER micro-degree planar squares (quantize once,
    * then pure BIGINT — the q_bic_k integer-lattice device), so ranks and
    * the hashed d2 are cross-engine exact. A pair is generated once per
    * shared ring cell = exactly once (the candidate's own cell is unique).
    *
    * Plan (round-5 rewrite — the original ONE-window form measured 158 s
    * at sf0.1: the planted hot cell makes the join output O(occ²) and the
    * window shuffles EVERY candidate row into its query's partition, with
    * the hot cell's pairs produced by a single join task AQE cannot split
    * because the skew is in the OUTPUT, not the input partition sizes):
    *  - both sides are the same binned projection (localCheckpoint'ed —
    *    probes, candidates and the hot histogram share one derivation);
    *  - HOT cells (occupancy > hotThreshold, one grid-bounded histogram)
    *    are SALTED: candidates split into `salts` buckets by nid hash,
    *    probes replicated across the buckets — identical pair set, the
    *    hot cell's pair generation spread over `salts` parallel tasks
    *    (the q_skew_salted device applied to a self-join);
    *  - the per-query top-k is [[graft.agg.TopK]], an ObjectHashAggregate
    *    that reduces each task's candidates to ≤ k rows per query BEFORE
    *    the shuffle — the exchange carries |queries| × partials × k rows
    *    however many pairs the join emits. Still the suite's costliest
    *    query: q_knn_join, which fills the shared edge-list memo, took
    *    131.9 s of the round-5 driver bench (BENCH_r05.json, sf0.1,
    *    local[32]).
    * Output is row-for-row the window form (same (d2, nid) tie-break). */
  def knnSelfJoin(images: DataFrame, k: Int,
                  res: Int = DefaultRes,
                  hotThreshold: Long = 4096, salts: Int = 32): DataFrame = {
    import graft.geo.{functions => G}
    // ObjectHashAggregate falls back to SORT-BASED aggregation after 128
    // distinct groups per partition (spark.sql.objectHashAggregate.
    // sortBased.fallbackThreshold) — with |queries| groups that would sort
    // every candidate pair and forfeit the map-side reduction this plan
    // exists for. A query-keyed top-k buffer is k tuples, so millions of
    // in-memory groups are fine.
    images.sparkSession.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      (1 << 24).toString)
    val b = images.select(col("image_id"),
      floor(col("lat") * lit(1000000)).cast("long").as("mlat"),
      floor(col("lon") * lit(1000000)).cast("long").as("mlon"),
      G.cell_encode(col("lat"), col("lon"), res).as("cell"))
      .localCheckpoint(true)
    val hot = b.groupBy(col("cell")).agg(count(lit(1)).as("hc"))
      .filter(col("hc") > hotThreshold).select(col("cell"))
      .localCheckpoint(true)
    val probes = b.select(col("image_id").as("qid"),
      col("mlat").as("qlat"), col("mlon").as("qlon"),
      explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
    val cands = b.select(col("cell"), col("image_id").as("nid"),
      col("mlat").as("nlat"), col("mlon").as("nlon"))
    val pCold = probes.join(broadcast(hot), Seq("cell"), "left_anti")
    val cCold = cands.join(broadcast(hot), Seq("cell"), "left_anti")
    val pHot = probes.join(broadcast(hot), Seq("cell"), "left_semi")
      .withColumn("salt",
        explode(lit((0 until salts).map(_.toLong).toArray)))
    val cHot = cands.join(broadcast(hot), Seq("cell"), "left_semi")
      .withColumn("salt", pmod(hash(col("nid")), lit(salts)).cast("long"))
    val pairs = pCold.join(cCold, Seq("cell"))
      .unionByName(pHot.join(cHot, Seq("cell", "salt")).drop("salt"))
    val d2 = (col("qlat") - col("nlat")) * (col("qlat") - col("nlat")) +
      (col("qlon") - col("nlon")) * (col("qlon") - col("nlon"))
    val topk = graft.agg.TopK.minPairs(k)
    pairs.where(col("nid") =!= col("qid"))
      .withColumn("d2", d2)
      .groupBy(col("qid")).agg(topk(col("d2"), col("nid")).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("p", "m")))
      .select(col("qid"), (col("p") + 1).cast("long").as("rnk"),
        col("m").getField("_2").as("nid"), col("m").getField("_1").as("d2"))
  }

  /** Budgeted top-k, reference semantics (SURVEY.md W3): rank ascending by
    * distance, keep rows while the RUNNING byte total stays <= budget and
    * STOP at the first overflow (raptor/tree_retriever.py:197-209). */
  def budgetStopBefore(ranked: DataFrame, budget: Long): DataFrame =
    withCum(ranked).filter(col("cum_bytes") <= budget).drop("cum_bytes")

  /** FaissRetriever variant: the overflowing row is INCLUDED (append before
    * check — raptor/FaissRetriever.py:195-199; pinned quirk). */
  def budgetIncludeOverflow(ranked: DataFrame, budget: Long): DataFrame =
    withCum(ranked).filter(col("cum_bytes") - col("bytes") < budget).drop("cum_bytes")

  private def withCum(ranked: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.withColumn("cum_bytes", sum(col("bytes")).over(w))
  }
}
