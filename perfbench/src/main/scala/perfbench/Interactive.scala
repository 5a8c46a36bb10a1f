package perfbench

import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expr.WeightExprs
import graft.kernel.{Predict, SafetyKernel}
import graft.kernel.Predict.{Prediction, PredictionRequest}
import graft.pipeline.ScoringPipeline
import graft.weather.{Forecast, WeatherAssembly, WeatherExprs}

/** One client in a closed loop over the three interactive requests, in
  * rounds of 4 predicts, then 6 map reads, then 5 refreshes. The map reads
  * the score table the refreshes write.
  *
  * No source gives the service's request mix, so this one is a choice: a
  * round holds each predict stratum once, each map season twice, and
  * enough refreshes that their median leaves out the first one and an
  * outlier. The order is fixed because a request's latency depends on the
  * one before it: the first request of a kind after another kind runs
  * slower (a refresh 4.0-5.1 s, against 2.0-3.5 s for the ones after it,
  * on a 4-core host). A seeded order made `scores_per_s` move with how
  * many refreshes the seed put after another kind; grouped, each kind's
  * median falls on the requests that follow their own kind.
  */
final class Interactive(ctx: Ctx, nRoutes: Int) extends Workload(ctx) with MapReads {
  import Interactive._

  private val scorePath = dir("scores")
  private val scoreDate = Date.valueOf(ScoreDate)

  private var world: Gen.World = _
  private var accCdf: Array[Double] = _
  private var accidents, weather, current, elevation, kRoutes: DataFrame = _
  private var dense, sparse, sparseNoForecast: Array[Site] = _
  private var nKernelRoutes = 0L
  private var refreshes = 0
  private var predicts = 0
  /** Outputs the checks after the loop need: each predict with its
    * request, and each refresh with its batch, keyed by operation number.
    */
  private val predicted = mutable.ArrayBuffer[(Int, Int, PredictionRequest, Prediction)]()
  private val refreshed = mutable.ArrayBuffer[(Int, Seq[Gen.Accident])]()
  /** Every route's stored (total_influence, n_contributing, risk_score) before the loop. */
  private var totalsBefore: Map[Long, (Double, Long, Double)] = Map.empty

  def headline: String = "predict"
  def commitKind: String = "refresh"

  def setup(): Unit = {
    world = Gen.world(ctx.seed, 300, nRoutes, 6900)
    accCdf = Gen.accidentAreaCdf(world.areas.length)
    val rng = new java.util.SplittableRandom(ctx.seed ^ 0x5173L)
    val placed = world.routes.flatMap(r => world.coords(r))
    def site(onRoute: Boolean): Site = {
      val elev = 1000.0 + 2500.0 * rng.nextDouble()
      if (onRoute) {
        val (la, lo) = placed(rng.nextInt(placed.length))
        Site(la, lo, elev)
      } else Site(33.0 + 15.5 * rng.nextDouble(), -123.0 + 18.0 * rng.nextDouble(), elev)
    }
    // request sites: on routes (dense areas, in the forecast table and the
    // elevation grid), anywhere (sparse, forecast only), and anywhere
    // without a forecast (the neutral-weather path)
    dense = Array.fill(100)(site(onRoute = true))
    sparse = Array.fill(100)(site(onRoute = false))
    sparseNoForecast = Array.fill(100)(site(onRoute = false))
    val forecastDays = (-6 to 3).map(k => LocalDate.parse(ScoreDate).plusDays(k.toLong))
    val blacklist = Seq.fill(3)(world.routes(rng.nextInt(world.routes.length)).name) :+ "no such route"

    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    accidents = cached(Gen.accidents(spark, world.accidents.toSeq))
    weather = cached(Gen.weatherRows(spark, world.accidents.toSeq, ctx.seed))
    current = cached(Gen.currentWeather(spark,
      (dense ++ sparse).map(s => (Gen.bucket(s.lat), Gen.bucket(s.lon))).toSeq, forecastDays, ctx.seed))
    elevation = cached(Gen.elevationGrid(spark, dense.map(s => (s.lat, s.lon, s.elev)).toSeq))
    kRoutes = cached(Gen.kernelRoutes(spark, world))
    nKernelRoutes = kRoutes.count()

    setupMaps(world, blacklist)

    // a synthetic score table for one date; refreshes merge into it
    val h = xxhash64(col("route_id"), lit(ctx.seed))
    val total = exp(pmod(h, lit(1000L)).cast("double") / 250.0 - 3.0)
    ScoringPipeline.writeScores(kRoutes.select(col("route_id"))
      .withColumn("total_influence", total)
      .withColumn("n_contributing", pmod(h, lit(97L)))
      .withColumn("risk_score", WeightExprs.normalizeRiskScore(col("total_influence")))
      .withColumn("color_code", WeightExprs.colorCode(col("risk_score")))
      .withColumn("calculated_at", current_timestamp())
      .withColumn("prediction_date", lit(scoreDate)), scorePath)
  }

  def warmup(): Unit = {
    val rng = new java.util.SplittableRandom(ctx.seed ^ 0x3a3aL)
    // the elevation lookup and the weather path, which cover most of the
    // predict plans; the median of 4 absorbs a first neutral-weather one
    predictPlain(request(1, rng))
    mapPlain(scorePath, scoreDate, "all")
    refreshPlain(newAccidents(-1))
    offClock { totalsBefore = storedTotals(None) }
  }

  // --- the request stream ----------------------------------------------------

  private lazy val siteRng = new java.util.SplittableRandom(ctx.seed ^ 0x7e9L)

  override def roundSize: Int = Round.length

  def kindOf(i: Int): String = Round(i % Round.length)

  /** Predict `k`, stratified so every seed sees the same mix. In turn: a
    * dense site with elevation and grade given, a dense site whose
    * elevation is looked up, a sparse site with no grade, and a sparse site
    * whose forecast is missing (the neutral-weather path). The route type
    * cycles through `PredictTypes`, so a round of 4 asks for the three
    * types whose strict gate lets distant close-type accidents through,
    * and one whose gate keeps only its own type. The seed picks the sites.
    */
  private def request(k: Int, rng: java.util.SplittableRandom): PredictionRequest = {
    val t = PredictTypes(k % PredictTypes.length)
    val date = LocalDate.parse(ScoreDate).plusDays((k % 4).toLong).toString
    k % 4 match {
      case 0 =>
        val s = dense(rng.nextInt(dense.length))
        PredictionRequest(s.lat, s.lon, Some(s.elev), t, date, Some(Gen.gradeFor(rng, t)))
      case 1 =>
        val s = dense(rng.nextInt(dense.length))
        PredictionRequest(s.lat, s.lon, None, t, date, None)
      case k4 =>
        val pool = if (k4 == 2) sparse else sparseNoForecast
        val s = pool(rng.nextInt(pool.length))
        PredictionRequest(s.lat, s.lon, None, t, date, None)
    }
  }

  /** 100 new accidents for refresh `k`, dated in the weeks before the score date. */
  private def newAccidents(k: Int): Seq[Gen.Accident] = {
    val rng = new java.util.SplittableRandom(ctx.seed * 31 + k)
    (0 until 100).map(j => Gen.accident(rng, world.areas, accCdf,
      10000000L + (k + 10L) * 100 + j, LocalDate.parse(ScoreDate).minusDays(60), 60))
  }

  // --- the three requests, as the service makes them -------------------------

  private def predictPlain(req: PredictionRequest): Prediction =
    Predict.predictWithWeather(spark, Predict.resolveElevation(req, elevation),
      accidents, weather, current)

  private def readScores(): DataFrame = readScores(scorePath, scoreDate)

  private def refreshPlain(batch: Seq[Gen.Accident]): Unit =
    ScoringPipeline.mergeScores(spark,
      ScoringPipeline.applyAccidentDelta(readScores(), kRoutes, Gen.accidents(spark, batch),
        to_date(lit(ScoreDate)), pruned = true), scorePath)

  // --- the same requests as one span per public call -------------------------

  private val keep = mutable.ArrayBuffer[DataFrame]()
  private var gatedSum, validSum, gatePasses = 0L
  /** The last split predict's gated and enriched accidents, counted after
    * its clock stops; None on the neutral-weather path.
    */
  private var lastGate: Option[(DataFrame, DataFrame)] = None

  private def predictDecomposed(req0: PredictionRequest): Prediction = {
    val req = tracer.span("kernel.resolve_elevation")(Predict.resolveElevation(req0, elevation))
    val target = to_date(lit(req.plannedDate))
    val (cur, withWeather) = tracer.span("weather.forecast") {
      val c = materialize(Forecast.currentPattern(current, req.latitude, req.longitude, target), keep)
      (c, c.select(col("cur_days")).head().getInt(0) >= WeatherExprs.MinWeatherDaysRequired)
    }
    lastGate = None
    if (!withWeather)
      tracer.span("kernel.predict")(Predict.predict(spark, req, accidents))
    else {
      val gated = tracer.span("kernel.gate")(materialize(Predict.gateAccidents(req, accidents), keep))
      val enriched = tracer.span("weather.assemble") {
        materialize(gated
          .join(WeatherAssembly.assemblePatterns(weather, gated), Seq("accident_id"), "left")
          .crossJoin(broadcast(cur.select("cur_pattern")))
          .withColumn("__has_pattern", col("pattern").isNotNull)
          .withColumn("wsim", when(col("pattern").isNull, lit(SafetyKernel.NeutralWeatherSimilarity))
            .otherwise(graft.expr.WeatherPatternSimilarity.similarity(col("cur_pattern"), col("pattern"))))
          .drop("pattern", "n_days", "cur_pattern"), keep)
      }
      lastGate = Some((gated, enriched))
      tracer.span("kernel.predict")(Predict.predict(spark, req, enriched.drop("__has_pattern")))
    }
  }

  private def refreshDecomposed(batch: Seq[Gen.Accident]): Unit = try {
    val old = tracer.span("pipeline.read_scores")(readScores())
    val updates = tracer.span("pipeline.delta") {
      materialize(ScoringPipeline.applyAccidentDelta(old, kRoutes, Gen.accidents(spark, batch),
        to_date(lit(ScoreDate)), pruned = true), keep)
    }
    tracer.span("pipeline.merge")(ScoringPipeline.mergeScores(spark, updates, scorePath))
  } finally release(keep)

  // --- the loop ---------------------------------------------------------------

  def op(i: Int, decomposed: Boolean): OpResult = kindOf(i) match {
    case "predict" =>
      val k = predicts
      predicts += 1
      val req = request(k, siteRng)
      try {
        val (p, ms) = timed(tracer.op("interactive.predict") {
          if (decomposed) predictDecomposed(req) else predictPlain(req)
        })
        if (decomposed) lastGate.foreach { case (gated, enriched) =>
          gatedSum += gated.count()
          validSum += enriched.where(col("__has_pattern")).count()
          gatePasses += 1
        }
        predicted += ((opId, k, req, p))
        OpResult("predict", ms, 1L)
      } finally release(keep)
    case "map" => mapOp(scorePath, scoreDate, decomposed)
    case _ =>
      refreshes += 1
      val batch = newAccidents(refreshes)
      val (_, ms) = timed(tracer.op("interactive.refresh") {
        if (decomposed) refreshDecomposed(batch) else refreshPlain(batch)
      })
      refreshed += ((opId, batch))
      // the merge rewrites the date's partition: every route's score
      OpResult("refresh", ms, nKernelRoutes)
  }

  // --- output checks, after the loop ------------------------------------------

  override def finish(): Unit = offClock {
    predicted.foreach { case (id, k, req, p) =>
      during(Seq(id))(checkPrediction(req, p, exact = Math.floorMod(k - ctx.seed, 4L) == 0L))
    }
    if (refreshed.nonEmpty)
      during(refreshed.map(_._1).toSeq)(checkRefreshes(refreshed.map(_._2).toSeq))
  }

  /** Every predict's risk is in [0, 100]. One in 4 is also bit-equal to
    * `SafetyKernel.scoreRoutes` over the same gated accidents,
    * weather-enriched through the batch assembly path. Which stratum a run
    * checks exactly rotates with the seed, so every stratum is checked on
    * a quarter of the seeds.
    */
  private def checkPrediction(req0: PredictionRequest, p: Prediction, exact: Boolean): Unit = {
    check(p.riskScore >= 0.0 && p.riskScore <= 100.0, s"predict risk ${p.riskScore} outside [0,100]")
    if (!exact) return
    import spark.implicits._
    val req = Predict.resolveElevation(req0, elevation)
    val target = to_date(lit(req.plannedDate))
    val cur = Forecast.currentPattern(current, req.latitude, req.longitude, target)
    val gated = Predict.gateAccidents(req, accidents)
    val enriched =
      if (cur.select(col("cur_days")).head().getInt(0) < WeatherExprs.MinWeatherDaysRequired) gated
      else WeatherAssembly.accidentsWithSimilarity(
        gated.crossJoin(broadcast(cur.select("cur_pattern"))), weather, col("cur_pattern"))
        .drop("cur_pattern")
    val route = Seq((1L, req.latitude, req.longitude, req.elevation, req.routeType,
      req.routeGrade.flatMap(graft.expr.GradeParser.parse)))
      .toDF("route_id", "lat", "lon", "elev", "route_type", "difficulty")
    val (risk, n) = SafetyKernel.scoreRoutes(route, enriched, target).collect().headOption
      .map(r => (r.getAs[Double]("risk_score"), r.getAs[Long]("n_contributing")))
      .getOrElse((0.0, 0L))
    check(java.lang.Double.doubleToLongBits(risk) == java.lang.Double.doubleToLongBits(p.riskScore) &&
      n == p.numContributing,
      s"predict $req: risk ${p.riskScore} n ${p.numContributing} vs scoreRoutes $risk n $n")
  }

  /** Per batch, the routes nearest its first accident; plus a few anywhere. */
  private def refreshProbe(batches: Seq[Seq[Gen.Accident]]): Seq[Long] = {
    val routes = world.routes.flatMap(r => world.coords(r).map(c => r.id -> c))
    val near = batches.flatMap { batch =>
      val a = batch.head
      routes.sortBy { case (_, (la, lo)) =>
        val dx = (lo - a.lon) * math.cos(math.toRadians(a.lat))
        val dy = la - a.lat
        dx * dx + dy * dy
      }.take(20).map(_._1)
    }
    val rng = new java.util.SplittableRandom(ctx.seed + batches.length)
    (near ++ Seq.fill(10)(routes(rng.nextInt(routes.length))._1)).distinct
  }

  /** Stored (total_influence, n_contributing, risk_score) of the routes
    * `ids`, or of every route.
    */
  private def storedTotals(ids: Option[Seq[Long]]): Map[Long, (Double, Long, Double)] = {
    val scores = readScores()
    ids.fold(scores)(is => scores.where(col("route_id").isin(is: _*)))
      .select("route_id", "total_influence", "n_contributing", "risk_score").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getDouble(3))).toMap
  }

  /** After the loop's refreshes, each probed route's total is its total
    * before the loop plus the exact delta of every batch, up to the pruned
    * kernel's floor bound (each dropped pair contributes less than the
    * floor), and its count of contributing pairs grew by the exact count.
    */
  private def checkRefreshes(batches: Seq[Seq[Gen.Accident]]): Unit = {
    val ids = refreshProbe(batches)
    val after = storedTotals(Some(ids))
    val all = batches.flatten
    val exact = SafetyKernel.scoreRoutes(kRoutes.where(col("route_id").isin(ids: _*)),
      Gen.accidents(spark, all), to_date(lit(ScoreDate))).collect()
      .map(r => r.getAs[Long]("route_id") ->
        (r.getAs[Double]("total_influence"), r.getAs[Long]("n_contributing"))).toMap
    val bound = all.length * SafetyKernel.SignificanceFloor
    ids.foreach { id =>
      val (t0, n0, _) = totalsBefore(id)
      val (t1, n1, risk) = after(id)
      val (dt, dn) = exact(id)
      check(n1 == n0 + dn && math.abs(t1 - (t0 + dt)) <= bound && risk >= 0.0 && risk <= 100.0,
        s"refresh route $id: $t0+$dt vs $t1, n $n0+$dn vs $n1, risk $risk")
    }
  }

  // --- reporting ----------------------------------------------------------------

  def shape: Map[String, Double] = Map(
    "routes" -> world.routes.length.toDouble,
    "locations" -> world.locations.length.toDouble,
    "accidents" -> world.accidents.length.toDouble,
    "distinct_coords_per_route" -> world.distinctCoordsPerRoute,
    "top10_area_accident_share" -> world.top10AreaAccidentShare)

  def layers(work: Map[Int, SparkWork], plain: Seq[Span],
             decomposed: Seq[Span]): Map[String, Double] = {
    def selfMs(name: String): Seq[Double] =
      decomposed.flatMap(tracer.subtree).filter(_.name == name).map(tracer.selfMs)
    def perPlain(kind: String)(f: SparkWork => Long): Double = {
      val ws = plain.filter(_.name == kind).map(s => work.getOrElse(s.id, new SparkWork))
      if (ws.isEmpty) 0.0 else ws.map(f).sum.toDouble / ws.length
    }
    mapLayers(work, plain, decomposed) ++ Map(
      "weather.forecast_ms" -> Stats.median(selfMs("weather.forecast")),
      "weather.assemble_ms" -> Stats.median(selfMs("weather.assemble")),
      "weather.valid_pattern_frac" -> validSum.toDouble / math.max(1L, gatedSum),
      "kernel.gate_ms" -> Stats.median(selfMs("kernel.gate")),
      "kernel.gate_pass_frac" ->
        gatedSum.toDouble / math.max(1L, gatePasses * world.accidents.length),
      "kernel.predict_ms" -> Stats.median(selfMs("kernel.predict")),
      "spark.jobs_per_predict" -> perPlain("interactive.predict")(_.jobs),
      "spark.tasks_per_predict" -> perPlain("interactive.predict")(_.tasks),
      "pipeline.delta_ms" -> Stats.median(selfMs("pipeline.delta")),
      "pipeline.merge_ms" -> Stats.median(selfMs("pipeline.merge")),
      "pipeline.merge_bytes_written" ->
        sizeOf(ctx.work.resolve("scores").resolve(s"prediction_date=$ScoreDate"))._1.toDouble)
  }
}

object Interactive {
  final case class Site(lat: Double, lon: Double, elev: Double)

  /** A round, the same for every seed. */
  val Round: Seq[String] = Seq.fill(4)("predict") ++ Seq.fill(6)("map") ++ Seq.fill(5)("refresh")

  val ScoreDate = "2025-06-01"

  /** The 3 types whose strict gate admits distant close-type accidents
    * (alpine, ice, mixed) come first, then the 4 that admit only their own.
    */
  val PredictTypes: Seq[String] = Seq("alpine", "ice", "mixed", "sport", "trad", "boulder", "aid")
}
