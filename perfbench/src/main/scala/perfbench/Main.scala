package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  *   perfbench.Main --workload <assign_derive|pyramid_rw> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints a report line (`{"report": ...}`) and, last, the result line
  * `{"correct", "attempted", "failed", "metrics"}`. `run.py` builds the
  * classpath and launches this. */
object Main {
  val Workloads: Map[String, Env => Workload] = Map(
    "assign_derive" -> (e => new AssignDerive(e)),
    "pyramid_rw" -> (e => new PyramidRw(e)))

  /** Speed probes counted at each quiet point of the run. */
  val Probes = 2

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val name = opts("--workload")
    val make = Workloads.getOrElse(name,
      sys.error(s"unknown workload $name (${Workloads.keys.mkString(", ")})"))
    val work = Paths.get(opts("--work")).toAbsolutePath
    Files.createDirectories(work)
    val trace = opts.getOrElse("--trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val steal0 = Stats.stealS

    val (stats, plans) = SparkStats.install(spark)
    val tracer = new Tracer(trace)
    val env = new Env(spark, work, opts("--seed").toLong,
      opts("--seconds").toInt, tracer, stats, plans)
    val w = make(env)

    // Speed probes run at two points where the engine is idle: before the
    // timed phase and after it. Memos and cached frames are dropped, the
    // heap collected and every listener event delivered first. The first
    // probe after a collection runs beside the cleanup it sets off and is
    // not counted.
    def quietProbes(): Unit = {
      w.resetCaches()
      System.gc()
      stats.settle()
      Probe.run(cores)
      for (_ <- 1 to Probes) env.probe()
    }

    def secs[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val materializeS = secs(w.materialize())
    val warmS = secs(w.warmUp())
    val setupS = sessionS + materializeS + warmS
    w.ops.clear()

    quietProbes()

    stats.reset()
    val t0 = System.nanoTime()
    val w0 = w.waitS
    var rounds = 0
    do {
      w.round(rounds)
      rounds += 1
    } while ((System.nanoTime() - t0) / 1e9 < env.seconds && rounds < w.maxRounds)
    val wallS = (System.nanoTime() - t0) / 1e9
    val roundS = (wallS - (w.waitS - w0)) / rounds
    w.summarize()
    stats.settle()
    val engine = Map(
      "spark.jobs" -> stats.jobs.get().toDouble,
      "spark.stages" -> stats.stages.get().toDouble,
      "spark.tasks" -> stats.tasks.get().toDouble,
      "spark.shuffle_write_bytes" -> stats.shuffleWrite.get().toDouble,
      "spark.shuffle_read_bytes" -> stats.shuffleRead.get().toDouble,
      "spark.spill_bytes" -> stats.spill.get().toDouble,
      "spark.gc_ms" -> stats.gcMs.get().toDouble,
      "spark.executor_run_ms" -> stats.runMs.get().toDouble,
      "spark.busy_ratio" -> stats.runMs.get() / (wallS * 1000.0 * cores),
      "spark.task_skew" -> stats.heaviestStageSkew)
    quietProbes()
    val speed = Probe.ReferenceS / Stats.median(env.probes)

    val verifyS = secs(w.verify())
    val rssMb = Stats.peakRssMb

    val requests = w.ops.filter(o => o.ok && o.request)
    val okOps = requests.map(_.seconds * 1000.0)
    // geometric mean of the per-kind medians: every request kind weighs the
    // same, and the run's few samples of each kind all count
    val kindMs = requests.groupBy(_.kind).values
      .map(os => Stats.median(os.map(_.seconds * 1000.0))).toSeq
    val requestMs =
      if (kindMs.isEmpty) Double.NaN
      else math.exp(kindMs.map(math.log).sum / kindMs.size)
    val failed = w.ops.count(!_.ok)
    val (tailMs, tailPct, n) =
      if (okOps.nonEmpty) Stats.tail(okOps) else (Double.NaN, 0.0, 0)
    val e2e = Seq(
      ("setup_s", setupS * speed, "s"),
      ("round_s", roundS * speed, "s"),
      ("request_ms", requestMs * speed, "ms"))

    val layerMetrics: Seq[(String, Double, String)] =
      Layers.All.map { case (m, unit) =>
        val v = engine.get(m).orElse(w.layer.get(m).filter(_.nonEmpty)
          .map(xs => Stats.median(xs))).getOrElse(0.0)
        (m, v, unit)
      }

    val correct = w.checkFailures.isEmpty && failed == 0 &&
      e2e.forall(m => !m._2.isNaN)
    if (trace) {
      val out = work.getParent.resolve("traces")
      Files.createDirectories(out)
      val self = tracer.selfSeconds.toSeq.sortBy(-_._2)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      Files.write(out.resolve(s"$name-seed${env.seed}.json"),
        (s"""{"workload":"$name","seed":${env.seed},"self_s":$self,""" +
          s""""spans":${tracer.spansJson}}""" + "\n").getBytes("UTF-8"))
    }

    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val opsJson = w.ops.map { o =>
      s"""{"kind":"${o.kind}","ms":${num(o.seconds * 1000)},"request":${o.request},"ok":${o.ok}""" +
        (if (o.ok) "}" else s""","error":"${o.error}"}""")
    }.mkString("[", ",", "]")
    println(obj(Seq("report" -> obj(Seq(
      "workload" -> s""""$name"""",
      "seed" -> env.seed.toString,
      "trace" -> trace.toString,
      "cores" -> cores.toString,
      "setup" -> obj(Seq("session_s" -> num(sessionS),
        "materialize_s" -> num(materializeS),
        "warmup_s" -> num(warmS))),
      "timed_wall_s" -> num(wallS),
      "verify_s" -> num(verifyS),
      "op_tail_ms" -> num(tailMs),
      "op_tail_pct" -> num(tailPct),
      "op_samples" -> n.toString,
      "rounds" -> rounds.toString,
      "raw" -> obj(Seq("setup_s" -> num(setupS), "round_s" -> num(roundS),
        "request_ms" -> num(requestMs))),
      "op_p50_ms" -> num(if (okOps.nonEmpty) Stats.median(okOps) else Double.NaN),
      "probe_s" -> env.probes.map(num).mkString("[", ",", "]"),
      "listener_wait_s" -> num(w.waitS - w0),
      "host_steal_s" -> num(Stats.stealS - steal0),
      "speed" -> num(speed),
      "peak_rss_mb" -> num(rssMb),
      "named" -> obj(w.report.toSeq.map { case (k, v) => k -> num(v) }),
      "op_fail_ratio" -> num(if (w.ops.isEmpty) 0.0 else failed.toDouble / w.ops.size),
      "check_failures" -> w.checkFailures.map(f =>
        "\"" + f.replaceAll("[\"\\\\]", " ") + "\"").mkString("[", ",", "]"),
      "ops" -> opsJson)))))

    val shown = if (trace) layerMetrics else e2e
    val metrics = obj(shown.map { case (k, v, u) =>
      k -> s"""{"value":${num(v)},"unit":"$u"}""" })
    println(s"""{"correct":$correct,"attempted":${math.max(1, w.ops.size)},""" +
      s""""failed":$failed,"metrics":$metrics}""")
    spark.stop()
  }
}

/** The per-layer metrics of the traced run, with units. Layers a
  * workload does not exercise report 0. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.rows" -> "count",
    "geo.encode_s" -> "s", "geo.cover_cells" -> "count",
    "spatialjoin.pip_s" -> "s", "spatialjoin.candidates" -> "count",
    "spatialjoin.emitted" -> "count", "spatialjoin.yield" -> "ratio",
    "tilepyramid.assign_s" -> "s", "tilepyramid.leaf_s" -> "s",
    "tilepyramid.rollup_s" -> "s", "tilepyramid.level_rows" -> "count",
    "tilepyramid.shuffle_bytes" -> "bytes",
    "retrieval.descend_ms" -> "ms", "retrieval.collapse_ms" -> "ms",
    "retrieval.jobs_per_req" -> "count", "retrieval.tiles_ranked" -> "count",
    "knn.exact_ms" -> "ms", "knn.exact_jobs" -> "count",
    "knn.selfjoin_s" -> "s", "knn.pairs" -> "count",
    "knn.topk_rows_shuffled" -> "count", "knn.reduction" -> "ratio",
    "knn.hot_task_skew" -> "ratio",
    "snapshot.write_s" -> "s", "snapshot.merge_s" -> "s",
    "snapshot.read_s" -> "s", "snapshot.bytes_written" -> "bytes",
    "snapshot.files_written" -> "count", "snapshot.touched_cells" -> "count",
    "multimodal.decode_s" -> "s", "multimodal.images" -> "count",
    "multimodal.agg_s" -> "s",
    "queries.derive_aknn_s" -> "s", "queries.consumer_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_ms" -> "ms",
    "spark.executor_run_ms" -> "ms", "spark.busy_ratio" -> "ratio",
    "spark.task_skew" -> "ratio")
}
