package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in one process: set-up, warm-up, then a closed loop
  * with one client thread for `--seconds` of timed operations, on at most
  * 4 Spark task threads. Prints the result as one JSON line, last.
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics. Traced
  * (`--trace 1`) it alternates the operations of each kind between the
  * same work split into one span per public engine call and the plain
  * call, and reports the per-layer metrics from those spans.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the same fixed-shape settings graft.Bench measures the engine with
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(spark.sparkContext, traced)
    val ctx = Ctx(spark, tracer, work, seed, cores)
    if (name == "train") {
      // the build's training run: load the classes both workloads use, for
      // the class-data archive the JVM writes at exit (see run.py)
      Seq(new Interactive(ctx, InteractiveRoutes), new Nightly(ctx, NightlyRoutes))
        .foreach { w => w.setup(); w.warmup() }
      spark.stop()
      return
    }
    val wl: Workload = name match {
      case "interactive" => new Interactive(ctx, nRoutes = InteractiveRoutes)
      case "nightly" => new Nightly(ctx, nRoutes = NightlyRoutes)
      case "pruned_dense" => new PrunedDense(ctx, routeCount = PrunedRoutes)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val t0 = System.nanoTime()
    wl.setup()
    val t1 = System.nanoTime()
    wl.warmup()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val phases = Seq("session_s" -> sessionS, "inputs_s" -> (t1 - t0) / 1e9,
      "warmup_s" -> (System.nanoTime() - t1) / 1e9)

    val plain = mutable.ArrayBuffer[OpResult]()
    val decomposed = mutable.ArrayBuffer[OpResult]()
    var attempted = 0
    def run(i: Int, split: Boolean): Unit = {
      wl.opId = attempted
      attempted += 1
      wl.during(Seq(wl.opId)) {
        try {
          val r = wl.op(i, split)
          System.err.println(f"perfbench op $i%d ${r.kind}%s ${r.ms}%.1f ms${if (split) " split" else ""}%s")
          if (split) decomposed += r else plain += r
        } catch {
          case e: Exception => wl.check(ok = false, s"operation $i: $e")
        }
      }
    }
    var i = 0
    def measuredMs = (plain ++ decomposed).map(_.ms).sum
    // traced: each kind's operations alternate, split first, then plain
    val ofKind = mutable.Map[String, Int]().withDefaultValue(0)
    while (measuredMs < seconds * 1000.0 || i % wl.roundSize != 0) {
      val kind = wl.kindOf(i)
      run(i, split = traced && ofKind(kind) % 2 == 0)
      ofKind(kind) += 1
      i += 1
    }
    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd(wl, plain.toSeq, setupS)
      else perLayer(wl, tracer, plain.toSeq, decomposed.toSeq, Paths.get(opts("traces")), name, seed)
    try wl.finish() catch {
      case e: Exception => wl.during(0 until attempted)(wl.check(ok = false, s"checks: $e"))
    }
    val failed = wl.failedOps.size
    wl.failures.take(20).foreach(f => System.err.println(s"CHECK FAILED: $f"))
    val shape = wl.shape.toSeq.sortBy(_._1)
    println(detail(name, plain.toSeq, wl.checked, shape,
      phases ++ Seq("checks_s" -> wl.checkNs / 1e9, "peak_rss_mb" -> peakRssMb())))
    println(json(failed == 0 && wl.failures.isEmpty, attempted, failed, metrics))
    spark.stop()
  }

  /** The engine-call spans' self times must cover all but at most this
    * share of the split operations' wall. The rest is root-span time outside
    * any engine call: the benchmark's own glue and the timer.
    */
  val SelfSumTolerance = 0.05

  val InteractiveRoutes = 20000
  val NightlyRoutes = 1500
  val PrunedRoutes = 1200

  /** Peak resident set of this JVM (Linux `VmHWM`), for the detail line. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Heap the workload still holds after the loop: used heap after full
    * collections, off the clock. Unlike the resident set it does not move
    * with how far the collector happened to grow the heap.
    */
  private def liveHeapMb(): Double = {
    (0 until 2).foreach { _ => System.gc(); Thread.sleep(200) }
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** The end-to-end metrics, from untraced operations. `latency_p50_ms` is
    * the median of the workload's headline request, `map_p50_ms` the median
    * map read, and `scores_per_s` the median over its committing requests
    * of the scores each wrote per second. A workload run by hand that makes
    * no map reads leaves `map_p50_ms` out.
    */
  private def endToEnd(wl: Workload, ops: Seq[OpResult], setupS: Double): Seq[(String, Double, String)] = {
    def of(kind: String) = ops.filter(_.kind == kind)
    val values = Map(
      "setup_s" -> setupS,
      "live_heap_mb" -> liveHeapMb(),
      "latency_p50_ms" -> Stats.median(of(wl.headline).map(_.ms)),
      "scores_per_s" -> Stats.median(of(wl.commitKind).map(c => c.rows / (c.ms / 1000.0)))) ++
      (if (of("map").isEmpty) Nil else Seq("map_p50_ms" -> Stats.median(of("map").map(_.ms))))
    listed("end_to_end").flatMap { case (m, unit) => values.get(m).map((m, _, unit)) }
  }

  /** Metric names and units, in the order BENCHMARK.json lists them. */
  private def listed(key: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File("BENCHMARK.json"))
    root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  /** Per-kind latency percentiles and sample counts, for the human reader. */
  private def detail(name: String, ops: Seq[OpResult], checked: Long,
                     shape: Seq[(String, Double)], phases: Seq[(String, Double)]): String = {
    val kinds = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      val ms = rs.map(_.ms)
      s""""$k": {"n": ${rs.length}, "p50_ms": ${num(Stats.median(ms))}, """ +
        s""""p90_ms": ${num(Stats.quantile(ms, 0.9))}, "max_ms": ${num(ms.max)}, """ +
        s""""rows_per_s": ${num(rs.map(_.rows).sum / (ms.sum / 1000.0))}}"""
    }
    val shapeJson = shape.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    val phaseJson = phases.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    s"""{"workload": "$name", "checks": $checked, "ops": {${kinds.mkString(", ")}}, """ +
      s""""setup": {$phaseJson}, "shape": {$shapeJson}}"""
  }

  private def perLayer(wl: Workload, tracer: Tracer, plain: Seq[OpResult],
                       decomposed: Seq[OpResult], traces: java.nio.file.Path,
                       name: String, seed: Long): Seq[(String, Double, String)] = {
    val w = tracer.work()
    val roots = tracer.roots
    // a plain operation is a root span without children
    val (splitRoots, plainRoots) = roots.partition(r => tracer.subtree(r).length > 1)
    val layer = wl.layers(w, plainRoots, splitRoots)
    val splitWall = decomposed.map(_.ms).sum
    def moduleShare(prefix: String): Double =
      splitRoots.flatMap(tracer.subtree).filter(_.name.startsWith(prefix + "."))
        .map(tracer.selfMs).sum / math.max(1e-9, splitWall)
    val engineSelf = splitRoots.flatMap(r => tracer.subtree(r).tail).map(tracer.selfMs).sum
    val selfSum = engineSelf / math.max(1e-9, splitWall)
    wl.check(selfSum >= 1.0 - SelfSumTolerance,
      f"engine-call spans cover $selfSum%.4f of the traced wall")
    val plainWork = plainRoots.flatMap(r => w.get(r.id))
    // what the split operations would take plain, at each kind's mean
    val plainEquivalent = decomposed.groupBy(_.kind).map { case (kind, ds) =>
      val ps = plain.filter(_.kind == kind).map(_.ms)
      if (ps.isEmpty) 0.0 else ds.length * ps.sum / ps.length
    }.sum
    val common = Map(
      "spark.gc_s" -> plainWork.map(_.gcMs).sum / 1000.0 / math.max(1, plainRoots.length),
      "spark.shuffle_bytes" ->
        plainWork.map(_.shuffleBytes).sum.toDouble / math.max(1, plainRoots.length),
      "trace.overhead_frac" -> (splitWall / math.max(1e-9, plainEquivalent) - 1.0),
      "trace.self_sum_frac" -> selfSum,
      "share.weather" -> moduleShare("weather"),
      "share.kernel" -> moduleShare("kernel"),
      "share.pipeline" -> moduleShare("pipeline"),
      "share.analytics" -> moduleShare("analytics"))
    Files.createDirectories(traces)
    tracer.write(traces.resolve(s"$name-$seed.jsonl"), w)
    val values = layer ++ common
    // a workload outside BENCHMARK.json may report layers of its own
    val own = wl.ownLayerUnits.toSeq.sorted.collect { case (m, unit) if layer.contains(m) =>
      (m, layer(m), unit)
    }
    listed("per_layer").map { case (m, unit) => (m, values.getOrElse(m, 0.0), unit) } ++
      own.filterNot { case (m, _, _) => listed("per_layer").exists(_._1 == m) }
  }

  /** Full precision; Double.toString never depends on the default locale. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def json(correct: Boolean, attempted: Int, failed: Int,
                   metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
