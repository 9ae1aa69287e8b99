package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.geo.{QuadkeyTiling, functions => G}
import graft.operators.SpatialJoin
import graft.sources.{Fixtures, Images}

/** The batch jobs over the image table.
  *
  * A timed round is
  *  - eight headline pairs (the requests): the tile-assign job
  *    (`cell_encode` res 8 + rollup) and `SpatialJoin.pipJoin` against
  *    `Fixtures.benchPolys(64)`, over the materialized replicated table;
  *  - one derive pass: the AkNN edge list (`Knn.knnSelfJoin` k=3 res 8,
  *    filled through the shared memo by `q_mutual_knn`) with its consumers
  *    `q_mutual_knn` and `q_label_prop`, then `q_glcm_texture`, the
  *    costliest of the decoded-pixel texture family, all through
  *    `SparkEntry.queries`.
  * Shared memos and cached frames are dropped before and after each pass. */
final class AssignDerive(env: Env) extends Workload(env) {
  import env._

  val BaseRows = 8000L
  val Replicate = 16
  val Pairs = 8
  /** Pair latency keeps falling over the first several pairs of a JVM. */
  val WarmPairs = 6
  val AssignRes = 8
  val Textures = Seq("q_glcm_texture")

  private val sf = dir("sf")
  private val repl = dir("replicated")
  private val polys = Fixtures.benchPolys(64)
  private var rows = 0L

  private def imgs: DataFrame = spark.read.parquet(repl)

  /** The headline tile-assign job (the `graft.Bench` headline form). */
  private def assign(df: DataFrame): DataFrame =
    df.withColumn("cell", G.cell_encode(col("lat"), col("lon"), AssignRes))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"),
        sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum"),
        min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"),
        min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"))

  private def pip(df: DataFrame): DataFrame = SpatialJoin.pipJoin(df, spark, polys)

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  def materialize(): Unit = {
    Seq("sf", "replicated").foreach(d => deleteTree(work.resolve(d)))
    writeLineitem(sf, BaseRows)
    Images.imagesReplicated(spark, sf, Replicate)
      .select("image_id", "lat", "lon", "w", "h", "phash")
      .repartition(cores * 4)
      .write.mode("overwrite").parquet(repl)
    rows = imgs.count()
  }

  def warmUp(): Unit = {
    resetCaches()
    for (q <- "q_mutual_knn" +: "q_label_prop" +: Textures)
      expectFp(q, Check.fingerprint(query(q)))
    for (_ <- 1 to WarmPairs) {
      expectFp("assign", Check.fingerprint(assign(imgs)))
      expectFp("pip", Check.fingerprint(pip(imgs)))
    }
    resetCaches()
  }

  /** One derive pass; returns (aknn seconds, texture seconds). */
  private def derivePass(traced: Boolean): (Double, Double) = {
    resetCaches()
    if (traced) (tracedAknn(), tracedTextures())
    else {
      def run(kind: String): Double = {
        val t0 = System.nanoTime()
        timedOp(kind, request = false)(Check.fingerprint(query(kind)))
          .foreach(expectFp(kind, _))
        (System.nanoTime() - t0) / 1e9
      }
      (run("q_mutual_knn") + run("q_label_prop"), Textures.map(run).sum)
    }
  }

  private val aknnS, texS, assignS, pipS = mutable.ArrayBuffer.empty[Double]

  /** The headline pairs first (they follow their own warm-up), then the
    * derive pass. */
  def round(i: Int): Unit = {
    for (_ <- 1 to Pairs) {
      if (tracer.on) tracedHeadline()
      else {
        timedOp("assign")(Check.fingerprint(assign(imgs)))
          .foreach { f => assignS += ops.last.seconds; expectFp("assign", f) }
        timedOp("pip")(Check.fingerprint(pip(imgs)))
          .foreach { f => pipS += ops.last.seconds; expectFp("pip", f) }
      }
    }
    val (a, t) = derivePass(traced = tracer.on)
    aknnS += a
    texS += t
    resetCaches()
  }

  override def summarize(): Unit = {
    if (assignS.nonEmpty && pipS.nonEmpty) {
      report("headline_rows_per_s") =
        2.0 * rows / (Stats.median(assignS) + Stats.median(pipS))
      report("tile_assign_p50_s") = Stats.median(assignS)
      report("pip_join_p50_s") = Stats.median(pipS)
    }
    report("headline_rows") = rows.toDouble
    report("aknn_s") = Stats.median(aknnS)
    report("texture_s") = Stats.median(texS)
  }

  /** pipJoin against brute-force cross joins on a seeded slice of the
    * replicated table (outside the timed phase): `SpatialJoin.pipBrute`
    * for the fixture polygons, and the same cross join + refine for the
    * benchmark polygons. */
  def verify(): Unit = {
    val slice = imgs.sample(withReplacement = false, 0.02, seed)
      .localCheckpoint(true)
    val a = Check.fingerprint(SpatialJoin.pipJoin(slice, spark))
    val b = Check.fingerprint(SpatialJoin.pipBrute(slice, spark))
    check("pipJoin == pipBrute (fixture polygons)", a == b, s"$a vs $b")
    val c = Check.fingerprint(pip(slice))
    val d = Check.fingerprint(slice.select("image_id", "lat", "lon")
      .crossJoin(broadcast(SpatialJoin.polyDf(spark, polys)))
      .filter(G.point_in_poly_refine(col("lat"), col("lon"), col("lats"), col("lons")))
      .select("poly_id", "image_id"))
    check("pipJoin == brute cross join (benchmark polygons)", c == d, s"$c vs $d")
    check("pip slice is not empty", a.rows > 0 && c.rows > 0, s"$a, $c")
    if (tracer.on) layerCounts()
  }

  // ------------------------------------------------------------ traced run

  /** Per-layer figures that take extra jobs, measured once after the timed
    * phase so the traced round holds only the layers' work: the cover
    * index size, the pip candidate and emitted rows (the planner folds the
    * refine into the join condition, so the candidates are the cover-cell
    * equi-join rows, counted apart), and a decode of every image alone. */
  private def layerCounts(): Unit = {
    sample("geo.cover_cells",
      SpatialJoin.coverIndex(spark, polys, SpatialJoin.CoverRes).count().toDouble)
    val cand = imgs
      .withColumn("cell", QuadkeyTiling.encodeCol(col("lat"), col("lon"),
        SpatialJoin.CoverRes))
      .join(broadcast(SpatialJoin.coverIndex(spark, polys, SpatialJoin.CoverRes)),
        Seq("cell"))
      .count()
    val emitted = pip(imgs).count()
    sample("spatialjoin.candidates", cand.toDouble)
    sample("spatialjoin.emitted", emitted.toDouble)
    sample("spatialjoin.yield", if (cand > 0) emitted.toDouble / cand else 0.0)
    sample("multimodal.images", Images.images(spark, sf).count().toDouble)
    timeLayer("multimodal.decode_s") {
      noopRows(Images.imagesWithBytes(spark, sf).select(col("image_id"),
        graft.multimodal.functions.raster_decode(col("bytes"), col("fmt")).as("px")))
    }
  }

  private def tracedHeadline(): Unit = tracer.span("headline", s"h${ops.size}") {
    val scanned = timeLayer("sources.scan_s") {
      tracer.span("sources.scan") { boundary(imgs) }
    }
    sample("sources.rows", rows.toDouble)
    val encoded = timeLayer("geo.encode_s") {
      tracer.span("geo.encode") {
        boundary(scanned.withColumn("cell",
          G.cell_encode(col("lat"), col("lon"), AssignRes)))
      }
    }
    timedOp("assign") {
      timeLayer("tilepyramid.assign_s") {
        tracer.span("tilepyramid.assign") {
          noopRows(encoded.groupBy(col("cell"))
            .agg(count(lit(1)).as("cnt"),
              sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum"),
              min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"),
              min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max")))
        }
      }
    }
    timedOp("pip") {
      timeLayer("spatialjoin.pip_s") {
        tracer.span("spatialjoin.pip") { noopRows(pip(scanned)) }
      }
    }
  }

  /** The AkNN derivation, measured at the one call that runs it: the
    * first `q_mutual_knn` fills the shared memo with the checkpointed
    * `Knn.knnSelfJoin` edge list, so `knn.selfjoin_s` and
    * `queries.derive_aknn_s` both time that call, and the self-join's
    * operator rows come from the plan of its checkpoint. The consumers
    * then run against the memo. */
  private def tracedAknn(): Double = tracer.span("derive.aknn", "aknn") {
    val (t0, w0) = (System.nanoTime(), waitS)
    var consumer = 0.0
    def consume(df: DataFrame): Unit = {
      val (t1, w1) = (System.nanoTime(), waitS)
      tracer.span("queries.consumer") { noopRows(df) }
      consumer += elapsed(t1, w1)
    }
    val mutual = timedOp("q_mutual_knn", request = false) {
      val ((df, opRows), st) = captured("knn.selfjoin") {
        planRows {
          timeLayer("queries.derive_aknn_s") {
            tracer.span("queries.derive_aknn") { query("q_mutual_knn") }
          }
        }
      }
      sample("knn.selfjoin_s", layer("queries.derive_aknn_s").last)
      val pairs = opRows.getOrElse("ObjectHashAggregate.partial.input", 0L)
      val shuffled = opRows.getOrElse("ObjectHashAggregate.partial", 0L)
      sample("knn.pairs", pairs.toDouble)
      sample("knn.topk_rows_shuffled", shuffled.toDouble)
      sample("knn.reduction", if (shuffled > 0) pairs.toDouble / shuffled else 0.0)
      st.maxByOption(_.executorRunMs).foreach { s =>
        sample("knn.hot_task_skew", s.taskDurMaxMs.toDouble / math.max(1L, s.taskDurP50Ms))
      }
      consume(df)
    }
    val lp = timedOp("q_label_prop", request = false)(consume(query("q_label_prop")))
    if (mutual.isDefined && lp.isDefined) sample("queries.consumer_s", consumer)
    elapsed(t0, w0)
  }

  /** The texture queries. `multimodal.agg_s` is the wall time of their
    * stages that read the histogram exchange (the aggregate and the
    * image-keyed windows after it), from the stage rows of
    * `QueryMetrics.capture`. */
  private def tracedTextures(): Double = tracer.span("derive.texture", "texture") {
    val (t0, w0) = (System.nanoTime(), waitS)
    var aggMs = 0L
    for (q <- Textures) timedOp(q, request = false) {
      val (_, st) = captured(q) {
        tracer.span(s"multimodal.$q") { noopRows(query(q)) }
      }
      aggMs += st.filter(_.shuffleReadBytes > 0).map(_.wallMs).sum
    }
    sample("multimodal.agg_s", aggMs / 1000.0)
    elapsed(t0, w0)
  }
}
