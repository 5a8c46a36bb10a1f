package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

import graft.kernel.{KernelPruning, SafetyKernel}

/** The scale-up path: the grid-pruned kernel over 10× the production
  * accident density, clustered like the production corpus, into the
  * `noop` sink. Candidate generation, the prefilters and the radius gate
  * do the work; weather, the sink and per-request overhead do none.
  */
final class PrunedDense(ctx: Ctx, routeCount: Int) extends Workload(ctx) {
  import PrunedDense._

  private var world: Gen.World = _
  private var routes, accidents: DataFrame = _
  private var nRoutes = 0L
  private val gated = mutable.ArrayBuffer[Long]()
  private val aboveFloor = mutable.ArrayBuffer[Long]()
  private var broadcastBytes = 0L

  def headline: String = "pruned"
  def commitKind: String = "pruned"

  def setup(): Unit = {
    world = Gen.world(ctx.seed, 300, routeCount, 69000)
    routes = Gen.kernelRoutes(spark, world).cache()
    accidents = Gen.accidents(spark, world.accidents.toSeq).cache()
    nRoutes = routes.count()
    accidents.count()
  }

  def warmup(): Unit = plain()

  def kindOf(i: Int): String = "pruned"

  private def planDate = to_date(lit(PlanDate))

  private def plain(): Unit =
    KernelPruning.scoreRoutesPruned(routes, accidents, planDate)
      .write.format("noop").mode("overwrite").save()

  private def decomposed(): Unit = {
    gated += tracer.span("kernel.pruned_pairs") {
      KernelPruning.pairInfluencePruned(routes, accidents, planDate).count()
    }
    tracer.span("kernel.pruned_score") {
      val scored = KernelPruning.scoreRoutesPruned(routes, accidents, planDate)
        .agg(sum("n_contributing"))
      // collect() runs this Dataset's own plan, whose metrics are read below
      aboveFloor += scored.collect().head.getLong(0)
      broadcastBytes = scored.queryExecution.executedPlan.collect {
        case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum
    }
  }

  def op(i: Int, decomposedRun: Boolean): OpResult = {
    val (_, ms) = timed(tracer.op("pruned_dense") {
      if (decomposedRun) decomposed() else plain()
    })
    if (i % 2 == 0) offClock(checkSample(i))
    OpResult("pruned", ms, nRoutes)
  }

  /** Sampled routes: pruned and exact scores agree within the pruning
    * contract — every pair at or above the floor is kept, so the counts
    * match, and the dropped pairs move risk by less than nAcc · floor · 7.
    */
  private def checkSample(i: Int): Unit = {
    val rng = new java.util.SplittableRandom(ctx.seed * 7 + i)
    val ids = Seq.fill(12)(world.routes(rng.nextInt(world.routes.length)).id).distinct
    val sample = routes.where(col("route_id").isin(ids: _*))
    def scores(df: DataFrame): Map[Long, (Double, Long)] = df.collect()
      .map(r => r.getAs[Long]("route_id") ->
        (r.getAs[Double]("risk_score"), r.getAs[Long]("n_contributing"))).toMap
    val pruned = scores(KernelPruning.scoreRoutesPruned(sample, accidents, planDate))
    val exact = scores(SafetyKernel.scoreRoutes(sample, accidents, planDate))
    val bound = world.accidents.length * SafetyKernel.SignificanceFloor * 7.0 + 1e-9
    check(pruned.keySet == exact.keySet, s"pruned routes ${pruned.keySet} vs exact ${exact.keySet}")
    exact.foreach { case (id, (risk, n)) =>
      check(pruned.get(id).exists { case (pr, pn) =>
        pn == n && math.abs(pr - risk) <= bound && pr >= 0.0 && pr <= 100.0
      }, s"pruned route $id: ${pruned.get(id)} vs exact ($risk, $n)")
    }
  }

  def shape: Map[String, Double] = Map(
    "routes" -> nRoutes.toDouble,
    "accidents" -> world.accidents.length.toDouble,
    "distinct_coords_per_route" -> world.distinctCoordsPerRoute,
    "top10_area_accident_share" -> world.top10AreaAccidentShare)

  override def ownLayerUnits: Map[String, String] = Map(
    "kernel.pruned_pairs_s" -> "s", "kernel.pruned_agg_s" -> "s", "kernel.gated_pairs" -> "count",
    "kernel.gate_keep_frac" -> "frac", "kernel.floor_keep_frac" -> "frac",
    "kernel.broadcast_mb" -> "MB", "kernel.task_skew" -> "ratio")

  def layers(work: Map[Int, SparkWork], plain: Seq[Span],
             decomposed: Seq[Span]): Map[String, Double] = {
    val spans = decomposed.flatMap(tracer.subtree)
    def named(n: String) = spans.filter(_.name == n)
    val score = named("kernel.pruned_score")
    val scoreWork = new SparkWork
    score.foreach(s => work.get(s.id).foreach(scoreWork.add))
    val taskMs = scoreWork.taskMs.map(_.toDouble).toSeq
    val pairs = nRoutes.toDouble * world.accidents.length
    val g = if (gated.isEmpty) 0.0 else Stats.median(gated.map(_.toDouble).toSeq)
    Map(
      "kernel.pruned_pairs_s" -> Stats.median(named("kernel.pruned_pairs").map(tracer.selfMs)) / 1000,
      "kernel.pruned_agg_s" -> Stats.median(score.map(tracer.selfMs)) / 1000,
      "kernel.gated_pairs" -> g,
      "kernel.gate_keep_frac" -> g / pairs,
      "kernel.floor_keep_frac" ->
        (if (g == 0) 0.0 else Stats.median(aboveFloor.map(_.toDouble).toSeq) / g),
      "kernel.broadcast_mb" -> broadcastBytes / 1e6,
      "kernel.core_util" ->
        (scoreWork.taskNs / 1e6) / math.max(1e-9, score.map(_.ms).sum * ctx.cores),
      "kernel.task_skew" ->
        (if (taskMs.isEmpty) 0.0 else taskMs.max / math.max(1.0, Stats.median(taskMs))))
  }
}

object PrunedDense {
  val PlanDate = "2025-07-15"
}
