package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.geo.{HexTiling, QuadkeyTiling, S2Tiling, TilingStrategy}
import graft.operators.Knn
import graft.sources.{Fixtures, Images}

/** The cases the settle loop's per-query ring policy decides, each held to
  * `knnExact == knnBrute` under all three tiling strategies: a corpus so
  * sparse that the first rings hold fewer than k images (the r² growth
  * step), a query far from every image (past the ring cap, so brute force),
  * and k larger than the corpus (no ring ever holds k images). Corpora are
  * seeded subsets of the sf0.001 images. */
class KnnSettleSpec extends SparkFunSuite {

  /** (strategy, res) pairs, the resolutions SpatialParitySpec runs them at. */
  private val strategies: Seq[(TilingStrategy, Int)] =
    Seq((QuadkeyTiling, 8), (S2Tiling, 7), (HexTiling, 8))

  private lazy val images = Images.images(spark, SparkSpec.Sf)
    .select(col("image_id"), col("lat"), col("lon"), col("w"), col("h"))
    .cache()

  /** A seeded 1-in-`every` subset of the images. */
  private def subset(every: Int, seed: Long): DataFrame =
    images.filter(pmod(xxhash64(col("image_id"), lit(seed)), lit(every.toLong)) === 0)
      .cache()

  private lazy val sparse = subset(64, 17L)

  private def points(df: DataFrame): Array[(String, Double, Double)] =
    df.select(col("image_id"), col("lat"), col("lon")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))

  private def ranked(df: DataFrame): Set[(Int, String, Double, Int)] =
    df.select(col("qid"), col("image_id"), col("dist_sq"), col("rnk")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet

  /** knnExact == knnBrute, row for row; returns the rows. */
  private def exact(imgs: DataFrame, qs: DataFrame, k: Int, s: TilingStrategy,
                    res: Int, maxIter: Int = 6): Set[(Int, String, Double, Int)] = {
    val fast = ranked(Knn.knnExact(imgs, qs, k, res = res, maxIter = maxIter,
      strategy = s))
    assert(fast == ranked(Knn.knnBrute(imgs, qs, k)), s"${s.name}: exact != brute")
    fast
  }

  test("sparse corpus: first rings hold fewer than k images, still exact") {
    val k = 10
    val qs = Fixtures.knnQueries(spark)
    val pts = points(sparse)
    val qpts = qs.collect().map(r => (r.getDouble(1), r.getDouble(2)))
    strategies.foreach { case (s, res) =>
      // the case under test: some query's ring-4 cells hold < k images
      val byCell = pts.groupBy { case (_, la, lo) => s.encode(la, lo, res) }
      val inRing4 = qpts.map { case (la, lo) =>
        s.ring(s.encode(la, lo, res), 4).map(c => byCell.get(c).fold(0)(_.length)).sum
      }
      assert(inRing4.exists(_ < k), s"${s.name}: every ring-4 holds >= $k images")
      assert(exact(sparse, qs, k, s, res).size == 48 * k)
    }
  }

  test("a far query passes the ring cap and falls back to brute force") {
    import spark.implicits._
    val k = 5
    val maxIter = 3
    val rCap = 4 << (maxIter - 1)
    val far = Seq((999, 89.9, 0.0)).toDF("qid", "qlat", "qlon")
    val qs = Fixtures.knnQueries(spark).limit(6).unionByName(far)
    // every image is farther from the far query than any ring up to the
    // cap can bound, so no round settles it
    val dk = points(images).map { case (_, la, lo) =>
      (la - 89.9) * (la - 89.9) + lo * lo
    }.sorted.apply(k - 1)
    strategies.foreach { case (s, res) =>
      val bound = rCap * s.minUnitDeg(res)
      assert(dk >= bound * bound, s"${s.name}: the far query settles inside the cap")
      val got = exact(images, qs, k, s, res, maxIter)
      assert(got.size == 7 * k && got.count(_._1 == 999) == k)
    }
  }

  test("k larger than the corpus: every image, ranked, for every query") {
    val tiny = subset(512, 23L)
    val n = tiny.count().toInt
    assert(n > 0 && n < 40, s"tiny corpus has $n images")
    val qs = Fixtures.knnQueries(spark).filter(col("qid") % 12 === 0)
    strategies.foreach { case (s, res) =>
      val got = exact(tiny, qs, n + 5, s, res)
      assert(got.size == 4 * n)
      assert(got.groupBy(_._1).values.forall(_.map(_._4) == (1 to n).toSet))
    }
  }

  test("knn(k) is the rnk <= k prefix of knn(k+5) on the sparse corpus") {
    val qs = Fixtures.knnQueries(spark).limit(8)
    strategies.foreach { case (s, res) =>
      val k10 = exact(sparse, qs, 10, s, res)
      val k15 = exact(sparse, qs, 15, s, res)
      assert(k10 == k15.filter(_._4 <= 10), s"${s.name}: k=10 is not a prefix of k=15")
    }
  }
}
