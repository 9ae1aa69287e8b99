package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Knn, Retrieval, Snapshot, TilePyramid}
import graft.sources.Images

/** Tile pyramid build, then a closed loop of writes and reads.
  *
  * The image table is split by a seeded hash: one half is the base, the
  * other half is cut into seeded delta slices. The warm-up builds the
  * pyramid over the base half (`TilePyramid.build`) and writes it as the
  * base snapshot (`Snapshot.writeVersioned`), then runs one block. A
  * timed round is one block of a closed loop with one client (the next
  * request is sent when the previous one has answered): one write, then
  * one read of each kind in seeded order. The write folds the next delta
  * slice in with `Snapshot.mergeDeltaInto` and commits it with
  * `writeVersioned`; the reads (the requests) are `Retrieval.descendTopK`,
  * `Retrieval.collapseTopK` and `Knn.knnExact` on a seeded query batch
  * against the latest version. */
final class PyramidRw(env: Env) extends Workload(env) {
  import env._

  val BaseRows = 8000L
  val Slices = 8
  val MinRes = 11
  val LeafRes = 12
  val Batch = 8
  val HotQueries = 2
  val TopK = 4
  val KnnK = 10
  val CollapseK = 8
  val Budget = 64L
  val ReadKinds = Seq("descend", "collapse", "knn")

  private val sf = dir("sf")
  private val root = dir("snapshots")
  private var version = 0
  private val baseRows = mutable.Map.empty[Int, Long]
  /** (kind, version, request index, fingerprint) of every answered read. */
  private val reads = mutable.ArrayBuffer.empty[(String, Int, Int, Fp)]
  /** Trace the calls (the build and the timed phase of a traced run; the
    * rest of the warm-up and the checks always run untraced). Traced reads
    * are fingerprinted and checked like untraced ones. */
  private var tracing = false

  private def base: DataFrame = spark.read.parquet(dir("parts/part=-1"))
  private def slice(i: Int): DataFrame = spark.read.parquet(dir(s"parts/part=$i"))
  /** The image set as of snapshot version `v`: the base plus `v` slices. */
  private def imagesAt(v: Int): DataFrame =
    (0 until v).foldLeft(base)((df, i) => df.unionByName(slice(i)))
  private def snap(v: Int): DataFrame = Snapshot.readAsOf(spark, root, s"v$v")

  def materialize(): Unit = {
    Seq("sf", "parts").foreach(d => deleteTree(work.resolve(d)))
    writeLineitem(sf, BaseRows)
    // part -1 is the base half; parts 0..Slices-1 are the delta slices
    Images.images(spark, sf)
      .withColumn("part",
        when(pmod(xxhash64(col("image_id"), lit(seed)), lit(2L)) === 0, lit(-1L))
          .otherwise(pmod(xxhash64(col("image_id"), lit(seed + 1)),
            lit(Slices.toLong))))
      .write.mode("overwrite").partitionBy("part").parquet(dir("parts"))
  }

  def warmUp(): Unit = {
    val perPart = spark.read.parquet(dir("parts"))
      .groupBy(col("part").cast("long")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    baseRows(0) = perPart(-1L)
    for (i <- 1 to Slices) baseRows(i) = baseRows(i - 1) + perPart(i - 1L)
    tracing = tracer.on
    val (t0, w0) = (System.nanoTime(), waitS)
    if (tracing) tracedBuild()
    else {
      val (pyr, _) = TilePyramid.build(base, MinRes, LeafRes)
      Snapshot.writeVersioned(pyr, root, "v0", 0L)
    }
    report("pyramid_build_s") = elapsed(t0, w0)
    tracing = false
    resetCaches()
    write()
    resetCaches()
    for ((k, i) <- ReadKinds.zipWithIndex) {
      readOnce(k, -1 - i)
      resetCaches()
    }
    reads.clear()
  }

  private def readOnce(kind: String, req: Int): Unit = {
    val q = queryBatch(req, Batch, HotQueries)
    if (tracing) tracedRead(kind, req, q)
    else {
      val pyr = if (kind == "knn") null else snap(version)
      reads += ((kind, version, req, Check.fingerprint(readFrame(kind, pyr, version, q))))
    }
  }

  /** The read of `kind`: retrieval over the pyramid `pyr`, or exact kNN
    * over the images of version `v`. */
  private def readFrame(kind: String, pyr: DataFrame, v: Int, q: DataFrame): DataFrame =
    kind match {
      case "descend" =>
        Retrieval.descendTopK(pyr, q, MinRes, LeafRes, TopK, persistTiles = false)
      case "collapse" => Retrieval.collapseTopK(pyr, q, CollapseK, Budget)
      case "knn" => Knn.knnExact(imagesAt(v), q, KnnK)
    }

  private def write(): Unit = {
    val next = version + 1
    if (tracing) tracedWrite(next)
    else {
      val merged = Snapshot.mergeDeltaInto(snap(version),
        TilePyramid.leafTiles(slice(version), LeafRes), LeafRes, MinRes)
      Snapshot.writeVersioned(merged, root, s"v$next", next.toLong)
    }
    version = next
  }

  private val writeS = mutable.ArrayBuffer.empty[Double]
  private var req = 0

  /** Each write folds in the next delta slice; the warm-up takes one. */
  override def maxRounds: Int = Slices - 1

  /** One block of the closed loop: a write, then each read kind once, so
    * the mix is the same for every seed; the seed sets the order of the
    * reads and the query batches. */
  def round(i: Int): Unit = {
    tracing = tracer.on
    timedOp("write", request = false)(write())
    if (ops.last.ok) writeS += ops.last.seconds
    resetCaches()
    for (kind <- new scala.util.Random(seed + i).shuffle(ReadKinds)) {
      timedOp(kind)(readOnce(kind, req))
      resetCaches()
      req += 1
    }
    tracing = false
  }

  override def summarize(): Unit = {
    val readMs = ops.filter(o => o.ok && o.request).map(_.seconds * 1000)
    if (readMs.nonEmpty) {
      report("retrieve_p50_ms") = Stats.median(readMs)
      val (t, pct, n) = Stats.tail(readMs)
      report("retrieve_tail_ms") = t
      report("retrieve_tail_pct") = pct
      report("retrieve_samples") = n
    }
    if (writeS.nonEmpty) report("delta_merge_p50_s") = Stats.median(writeS)
  }

  /** Checks outside the timed phase:
    *  - every committed version: each level's sum(cnt) is that version's
    *    image count;
    *  - the latest version equals a from-scratch build over the same
    *    images (merge + write + read are lossless);
    *  - every read of the timed phase: a knnExact read equals
    *    `Knn.knnBrute` on the same batch and version; a descend or
    *    collapse read equals the same read against a from-scratch pyramid
    *    of the version it ran on;
    *  - every read kind was checked at least once. */
  def verify(): Unit = {
    val sums = spark.read.parquet(s"$root/tiles")
      .groupBy(col("snapshot_id").cast("string"), col("res"))
      .agg(sum(col("cnt"))).collect()
      .groupBy(_.getString(0)).map { case (id, rs) =>
        id -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap }
    for (v <- 0 to version) {
      val levels = sums.getOrElse(s"v$v", Map.empty[Int, Long])
      check(s"v$v has levels $MinRes..$LeafRes", levels.keySet == (MinRes to LeafRes).toSet,
        s"levels ${levels.keys.toSeq.sorted.mkString(",")}")
      levels.foreach { case (r, s) =>
        check(s"v$v level $r sum(cnt)", s == baseRows(v), s"$s != ${baseRows(v)}")
      }
    }
    val fresh = (reads.map(_._2).toSet + version).toSeq.sorted.map { v =>
      v -> TilePyramid.build(imagesAt(v), MinRes, LeafRes)._1.localCheckpoint(true)
    }.toMap
    val stored = snap(version).drop(Snapshot.LineageCols: _*)
    val a = Check.fingerprint(stored.select(fresh(version).columns.toIndexedSeq.map(col): _*))
    val b = Check.fingerprint(fresh(version))
    check(s"v$version == from-scratch build", a == b, s"$a vs $b")
    for ((kind, v, req, fp) <- reads) {
      val q = queryBatch(req, Batch, HotQueries)
      if (kind == "knn") {
        val brute = Check.fingerprint(Knn.knnBrute(imagesAt(v), q, KnnK))
        check(s"knnExact == knnBrute (req $req, v$v)", fp == brute, s"$fp vs $brute")
      } else {
        val again = Check.fingerprint(readFrame(kind, fresh(v), v, q))
        check(s"$kind (req $req, v$v) == same read on a from-scratch pyramid",
          fp == again, s"$fp vs $again")
      }
    }
    for (kind <- ReadKinds)
      check(s"$kind reads checked", reads.exists(_._1 == kind), "no read of this kind")
  }

  // ------------------------------------------------------------ traced run

  /** The build with each layer materialized at its boundary: scan, leaf
    * aggregation, each rollup level, then the snapshot write of the union
    * of the materialized levels. */
  private def tracedBuild(): Unit = tracer.span("build", "build") {
    val scanned = timeLayer("sources.scan_s") {
      tracer.span("sources.scan") { boundary(base) }
    }
    sample("sources.rows", baseRows(0).toDouble)
    val (leaf, leafStages) = captured("leaf") {
      timeLayer("tilepyramid.leaf_s") {
        tracer.span("tilepyramid.leaf") {
          boundary(TilePyramid.leafTiles(scanned, LeafRes))
        }
      }
    }
    var level = leaf
    var all = leaf
    var shuffle = leafStages.map(_.shuffleWriteBytes).sum
    val (t0, w0) = (System.nanoTime(), waitS)
    for (_ <- LeafRes - 1 to MinRes by -1) {
      val (next, st) = captured("rollup") {
        tracer.span("tilepyramid.rollup") { boundary(TilePyramid.rollupOnce(level)) }
      }
      shuffle += st.map(_.shuffleWriteBytes).sum
      level = next
      all = all.unionByName(next)
    }
    sample("tilepyramid.rollup_s", elapsed(t0, w0))
    sample("tilepyramid.shuffle_bytes", shuffle.toDouble)
    sample("tilepyramid.level_rows", all.count().toDouble)
    snapshotWrite(all, 0)
  }

  private def snapshotWrite(pyr: DataFrame, v: Int): Unit = {
    timeLayer("snapshot.write_s") {
      tracer.span("snapshot.write") {
        Snapshot.writeVersioned(pyr, root, s"v$v", v.toLong)
      }
    }
    val (bytes, files) =
      treeStats(Paths.get(root, "tiles", s"snapshot_id=v$v"))
    sample("snapshot.bytes_written", bytes.toDouble)
    sample("snapshot.files_written", files.toDouble)
  }

  private def snapshotRead(v: Int): DataFrame =
    timeLayer("snapshot.read_s") {
      tracer.span("snapshot.read") { boundary(snap(v)) }
    }

  /** A traced read, run to completion through its fingerprint (recorded
    * for the checks like an untraced read). */
  private def tracedRead(kind: String, req: Int, q: DataFrame): Unit =
    tracer.span(s"request.$kind", s"r$req") {
      val pyr = if (kind == "knn") null else snapshotRead(version)
      val (name, metric) =
        if (kind == "knn") ("knn.exact", "knn.exact_ms")
        else (s"retrieval.$kind", s"retrieval.${kind}_ms")
      val ((fp, rowsByOp), jobs) = jobsOf {
        val (t0, w0) = (System.nanoTime(), waitS)
        val r = tracer.span(name) {
          planRows(Check.fingerprint(readFrame(kind, pyr, version, q)))
        }
        sample(metric, elapsed(t0, w0) * 1000)
        r
      }
      reads += ((kind, version, req, fp))
      if (kind == "knn") sample("knn.exact_jobs", jobs.toDouble)
      else {
        sample("retrieval.jobs_per_req", jobs.toDouble)
        val ranked = rowsByOp.getOrElse("BroadcastNestedLoopJoin", 0L) +
          rowsByOp.getOrElse("BroadcastHashJoin", 0L)
        if (ranked > 0) sample("retrieval.tiles_ranked", ranked.toDouble)
      }
    }

  private def tracedWrite(next: Int): Unit = tracer.span("request.write", s"w$next") {
    val old = snapshotRead(version)
    val delta = timeLayer("tilepyramid.leaf_s") {
      tracer.span("tilepyramid.leaf") {
        boundary(TilePyramid.leafTiles(slice(version), LeafRes))
      }
    }
    sample("snapshot.touched_cells", delta.count().toDouble)
    val merged = timeLayer("snapshot.merge_s") {
      tracer.span("snapshot.merge") {
        Snapshot.mergeDeltaInto(old, delta, LeafRes, MinRes)
      }
    }
    snapshotWrite(merged, next)
  }
}
