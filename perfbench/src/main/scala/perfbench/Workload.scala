package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.QueryMetrics

/** What one run needs: the session, the listeners, the run's scratch
  * directory inside the checkout, and the command-line settings. */
final class Env(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Int, val tracer: Tracer, val stats: SparkStats,
                val plans: PlanRows) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): String = work.resolve(name).toString

  /** Seconds of each counted speed probe. */
  val probes = mutable.ArrayBuffer.empty[Double]

  /** Time a fixed computation on every core, as a measure of how much CPU
    * the host gives this run right now. `Main` probes only where the
    * engine is idle, and scales the reported times by the median, so a
    * host that is slower for a while does not read as a slower engine.
    * The probe uses neither Spark nor the heap, so no state the engine
    * leaves behind (cached data, heap pressure, session settings) can
    * change its time and scale a regression away. */
  def probe(): Unit = probes += Probe.run(cores)
}

object Probe {
  /** Hash steps per core. */
  val Steps = 50000000L
  /** The probe time the reported times are scaled to. */
  val ReferenceS = 0.25

  private val sink = new java.util.concurrent.atomic.AtomicLong

  /** Seconds for `threads` threads to each run [[Steps]] dependent
    * SplitMix64 steps: integer arithmetic in registers, with nothing
    * allocated in the loop. */
  def run(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        var x = i.toLong
        var k = 0L
        while (k < Steps) {
          var z = x + 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          x = z ^ (z >>> 31)
          k += 1
        }
        sink.addAndGet(x)
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** One timed operation: its kind, latency and outcome. Failed operations
  * are kept with their error and left out of every latency. `request`
  * marks the operations whose latency `request_ms` summarizes (the parts
  * of a batch job are attempted and checked, but are not requests). */
final case class OpRec(kind: String, seconds: Double, ok: Boolean, error: String,
                       request: Boolean)

abstract class Workload(val env: Env) {
  import env._

  val ops = mutable.ArrayBuffer.empty[OpRec]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  /** Named figures for the human-readable report line. */
  val report = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metric observations (traced run only). */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Seconds the traced run spent waiting for listener events (see
    * [[waiting]]). */
  var waitS = 0.0

  /** Write the run's inputs. */
  def materialize(): Unit
  /** One untimed run of every operation type. */
  def warmUp(): Unit
  /** Timed round `i`: a fixed amount of work. Rounds repeat until the
    * run's seconds have passed or [[maxRounds]] have run. */
  def round(i: Int): Unit
  /** The most rounds the inputs allow. */
  def maxRounds: Int = Int.MaxValue
  /** Fill [[report]] from the rounds run. */
  def summarize(): Unit = ()
  /** Output checks outside the timed phase. */
  def verify(): Unit

  def sample(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def check(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) checkFailures += s"$what: $detail"

  def expectFp(kind: String, got: Fp): Unit = Check.expected.get(kind) match {
    case Some(e) => check(s"$kind fingerprint", e == got, s"expected $e, got $got")
    case None => check(s"$kind fingerprint", ok = false, s"no expected value, got $got")
  }

  /** Seconds since `t0` (a `System.nanoTime`), less the listener waits
    * since `w0` (a [[waitS]]). */
  def elapsed(t0: Long, w0: Double): Double =
    (System.nanoTime() - t0) / 1e9 - (waitS - w0)

  /** Run `f` as one timed operation, recording its status. Listener waits
    * of the traced run are left out of its latency. */
  def timedOp[A](kind: String, request: Boolean = true)(f: => A): Option[A] = {
    val (t0, w0) = (System.nanoTime(), waitS)
    try {
      val a = f
      ops += OpRec(kind, elapsed(t0, w0), ok = true, "", request)
      Some(a)
    } catch {
      case NonFatal(e) =>
        ops += OpRec(kind, elapsed(t0, w0), ok = false,
          e.toString.replaceAll("[\"\\\\\n\r\t]", " ").take(300), request)
        None
    }
  }

  def resetCaches(): Unit = {
    graft.Queries.clearSharedCaches()
    spark.catalog.clearCache()
  }

  // ---------------------------------------------------------- traced helpers

  /** Run `f`, a wait for listener events, and add its seconds to [[waitS]].
    * The traced run leaves these waits out of every time it reports, so
    * its figures hold the layers' work and their boundaries only. */
  def waiting[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally waitS += (System.nanoTime() - t0) / 1e9
  }

  /** Materialize `df` at a layer boundary (traced run): an eager local
    * checkpoint, so the next layer starts from this layer's output. */
  def boundary(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Run `f` and return the operator row counts of the plans it executed. */
  def planRows[A](f: => A): (A, Map[String, Long]) = {
    val m = plans.mark()
    val a = f
    (a, PlanRows.byOperator(waiting(plans.drain(m))))
  }

  /** Run `df` to completion through a noop write and return the operator
    * row counts of its executed plan. */
  def noopRows(df: DataFrame): Map[String, Long] =
    planRows(df.write.format("noop").mode("overwrite").save())._2

  /** `QueryMetrics.capture` with its wait for stage events counted in
    * [[waitS]]. */
  def captured[A](name: String)(f: => A): (A, Seq[QueryMetrics.StageRow]) = {
    val t0 = System.nanoTime()
    var inner = 0.0
    val r = QueryMetrics.capture(spark, name) {
      val t1 = System.nanoTime()
      try f finally inner = (System.nanoTime() - t1) / 1e9
    }
    waitS += (System.nanoTime() - t0) / 1e9 - inner
    r
  }

  /** Run `f` and record its seconds, less listener waits, as one
    * observation of `metric`. */
  def timeLayer[A](metric: String)(f: => A): A = {
    val (t0, w0) = (System.nanoTime(), waitS)
    val a = f
    sample(metric, elapsed(t0, w0))
    a
  }

  /** Spark jobs started while `f` runs. */
  def jobsOf[A](f: => A): (A, Long) = {
    waiting(stats.settle())
    val j0 = stats.jobs.get()
    val a = f
    waiting(stats.settle())
    (a, stats.jobs.get() - j0)
  }

  // ---------------------------------------------------------------- inputs

  /** The synthetic order lines the image table derives from
    * (`sources.Images`): `n` distinct (orderkey, linenumber) keys. Fixed —
    * the seed never changes the base table. */
  def writeLineitem(dir: String, n: Long): Unit =
    spark.range(n).select(
      ((col("id") / 4).cast("long") * 4 + 1).as("l_orderkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

  /** A seeded query batch (qid, qlat, qlon): uniform points over the
    * populated band plus points inside the planted hot box, the mix of
    * `sources.Fixtures.knnQueries`. */
  def queryBatch(req: Int, size: Int, hot: Int): DataFrame = {
    val rnd = new scala.util.Random(seed * 1000003L + req)
    val rows = (0 until size).map { i =>
      if (i < size - hot)
        (i, -60.0 + 120.0 * rnd.nextDouble(), -180.0 + 360.0 * rnd.nextDouble())
      else
        (i, 37.0 + 0.001 * rnd.nextDouble(), -122.0 + 0.001 * rnd.nextDouble())
    }
    spark.createDataFrame(rows).toDF("qid", "qlat", "qlon")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(x => Files.delete(x))
      }

  def treeStats(p: Path): (Long, Long) = {
    var (bytes, files) = (0L, 0L)
    scala.util.Using.resource(Files.walk(p)) { s =>
      s.forEach { x =>
        val n = x.getFileName.toString
        if (Files.isRegularFile(x) && n.endsWith(".parquet") && !n.startsWith(".")) {
          bytes += Files.size(x); files += 1
        }
      }
    }
    (bytes, files)
  }
}
