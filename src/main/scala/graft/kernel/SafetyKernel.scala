package graft.kernel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.{GeoExprs, WeightExprs}

/** The influence kernel — the heart of the engine (SURVEY §2.7).
  *
  * Reference dataflow (`backend/app/services/safety_algorithm.py:197-345`,
  * vectorized twin `safety_algorithm_vectorized.py:314-379`): every planned
  * route is scored against every accident —
  *
  * {{{
  * base = spatial × temporal × elevation × route_type × severity × grade
  * influence = base × weather_factor(similarity)
  * risk(route) = min(100, max(0, Σ_accidents influence × 7.0))
  * }}}
  *
  * Spark-first shape: the accidents side is small (~6.9K rows in the
  * reference; ≪ broadcast threshold even at 100× that), so the conceptual
  * cross join is a **broadcast nested-loop join** with zero shuffle on the
  * routes side; the kernel itself is one `select` of pure column arithmetic
  * (whole-stage codegen, no UDFs), followed by a hash aggregation on
  * `route_id`. At 100 TB of routes this scales linearly with route
  * partitions: no route-side shuffle until the final (already partial-
  * aggregated) groupBy, whose key cardinality = #routes.
  *
  * Expected input columns —
  *   routes:    route_id, lat, lon, elev, route_type (canonical lowercase),
  *              difficulty (nullable Double)
  *   accidents: accident_id, a_lat, a_lon, a_elev, acc_type, severity_raw,
  *              a_date, a_difficulty, and optionally wsim (weather
  *              similarity in [0,1]; missing column → neutral 0.5, the
  *              reference's missing-pattern path `safety_algorithm.py:265-269`)
  */
object SafetyKernel {

  val NeutralWeatherSimilarity = 0.5
  val SignificanceFloor = 1e-6 // O8, location_safety_computation.py:406-411

  /** THE canonical route-type list (`route_type_weights.py` key order) —
    * the kernel's matrix/index building and every oracle-side type
    * enumeration (KernelQueries.typesDf/typesValues, Sql.TypeByIdx) derive
    * from this one value, so a type added or renamed here propagates
    * everywhere or nowhere.
    */
  private[graft] val CanonicalTypes =
    Seq("alpine", "ice", "mixed", "trad", "sport", "aid", "boulder")

  /** Canonical type index (0-6) or -1; lets the per-pair path use integer
    * arithmetic instead of string comparisons.
    */
  private def typeIdx(typeLc: Column): Column =
    CanonicalTypes.zipWithIndex.foldLeft(when(lit(false), lit(0))) {
      case (acc, (t, i)) => acc.when(typeLc === t, i)
    }.otherwise(-1)

  /** The 7×7 matrix flattened route-major for int-indexed lookup. */
  private val rtMatrixFlat: Seq[Double] =
    for (p <- CanonicalTypes; a <- CanonicalTypes)
      yield WeightExprs.RouteTypeWeights((p, a))

  /** Per-(route × accident) influence decomposition over a broadcast cross
    * join. Returns the pair grain with every factor as its own column —
    * downstream ops (risk agg, top-k breakdown, factor-contribution
    * analytics A13) all derive from this one plan.
    *
    * Everything that depends on only ONE side is computed BEFORE the join
    * (type-bandwidth/elevation-constant/temporal slot per route; severity
    * weight, per-type temporal weight per accident) so the
    * O(routes × accidents) inner loop is pure numeric trig/exp — no string
    * ops, no when-chains over strings. Results are bit-identical to the
    * reference composition (the hoisted values are the same values,
    * evaluated once).
    */
  def pairInfluence(routes: DataFrame, accidents: DataFrame, planDate: Column): DataFrame =
    influenceColumns(
      enrichRoutes(balance(routes)).crossJoin(broadcast(enrichAccidents(accidents, Seq(planDate)))),
      hoistedDistance)

  /** The broadcast-NLJ kernel parallelizes over ROUTE partitions only — a
    * small single-file parquet scan (one split) would run the whole
    * routes × accidents loop on one core (graft.Partitioning.balanced).
    */
  private def balance(routes: DataFrame): DataFrame = graft.Partitioning.balanced(routes)

  /** Temporal slots per plan date: one per canonical type, the default last. */
  private val TemporalSlots = CanonicalTypes.size + 1

  /** Route-side enrichment: every type-dependent constant hoisted out of
    * the pair loop.
    */
  private[kernel] def enrichRoutes(routes: DataFrame): DataFrame =
    routes
      .withColumn("__rt_lc", lower(col("route_type")))
      .withColumn("__h", WeightExprs.spatialBandwidthKm(col("__rt_lc")))
      .withColumn("__elev_c",
        WeightExprs.ElevationDecayConstant.foldLeft(when(lit(false), lit(0.0))) {
          case (acc, (k, v)) => acc.when(col("__rt_lc") === k, v)
        }.otherwise(WeightExprs.ElevationDecayDefault))
      .withColumn("__rt_idx", typeIdx(col("__rt_lc")))
      // 1-based position of the route's type in one date's temporal slots
      // (the default slot last) — see enrichAccidents
      .withColumn("__tw_slot",
        when(col("__rt_idx") >= 0, col("__rt_idx") + 1).otherwise(TemporalSlots))
      // pair-loop hoists: cos(lat) for the haversine, 2h² for the spatial
      // Gaussian — both depend on the route row only
      .withColumn("__coslat", cos(radians(col("lat"))))
      .withColumn("__two_h2", lit(2.0) * pow(col("__h"), 2))

  /** Accident-side enrichment for the plan dates: severity weight, type
    * index, weather factor, cos(lat) — all per accident, never per pair —
    * and the temporal weight of every (date, route-type slot) as one flat
    * array `__tw`, date i's slots at i·8 + `__tw_slot`. λ can only be one
    * of the canonical types' values or the default, so the two per-pair
    * pow() calls and the season test of the temporal weight collapse to
    * this per-ACCIDENT precompute; the pair loop just indexes it. Same
    * constants, same op order → the picked value is bit-identical to the
    * inline formula.
    */
  private[kernel] def enrichAccidents(accidents: DataFrame, dates: Seq[Column]): DataFrame = {
    require(dates.nonEmpty, "enrichAccidents: empty dates list")
    val accBase =
      if (accidents.columns.contains("wsim")) accidents
      else accidents.withColumn("wsim", lit(NeutralWeatherSimilarity))
    // each date's day count and season multiplier, once per accident (as
    // columns, so the eight slots of a date reference them instead of
    // inlining eight copies)
    val perDate = dates.zipWithIndex.flatMap { case (d, i) => Seq(
      s"__days_$i" -> abs(datediff(d, col("a_date"))).cast("double"),
      s"__season_$i" -> when(WeightExprs.seasonOf(d) === WeightExprs.seasonOf(col("a_date")),
        seasonalMultiplier).otherwise(lit(1.0)))
    }
    accBase
      .withColumn("__sev_w", WeightExprs.severityWeightKernel(col("severity_raw")))
      .withColumn("__acc_idx", typeIdx(lower(col("acc_type"))))
      .withColumn("__wfactor", WeightExprs.weatherFactor(col("wsim")))
      .withColumn("__a_coslat", cos(radians(col("a_lat"))))
      .withColumns(perDate.toMap)
      .withColumn("__tw", array(dates.indices.flatMap(temporalSlots): _*))
      .drop(perDate.map(_._1): _*)
  }

  private val seasonalMultiplier = lit(1.0 +
    (WeightExprs.SeasonalBoost - 1.0) * WeightExprs.TemporalSeasonalImpact)

  /** Date i's temporal weight per canonical type (+ the default slot
    * last) for the accident row: 1 − 0.35·(1 − (λ^days)^1.5), ×1.05 in
    * the accident's season (×1.0 otherwise — exact, so equal to the
    * unmultiplied weight).
    */
  private def temporalSlots(i: Int): Seq[Column] =
    (CanonicalTypes.map(WeightExprs.TemporalLambda) :+ WeightExprs.TemporalLambdaDefault)
      .map { lam =>
        (lit(1.0) - lit(WeightExprs.TemporalDecayImpact) *
          (lit(1.0) - pow(pow(lit(lam), col(s"__days_$i")), WeightExprs.TemporalDecayShape))) *
          col(s"__season_$i")
      }

  /** The exact shapes' distance: haversine over the hoisted cos(lat)s. */
  private def hoistedDistance: Column =
    GeoExprs.haversineKmHoisted(col("__coslat"), col("lat"), col("lon"),
      col("__a_coslat"), col("a_lat"), col("a_lon"))

  /** THE influence definition, shared by every kernel shape: over an
    * enriched (routes × accidents) pair frame, adds `dist_km` (the shape's
    * own distance column `dist`) and the date-independent factors —
    * spatial, elevation, route-type, severity, grade, weather. `pin` wraps
    * each computed factor: identity at pair grain, EvalOnce under the
    * multi-date fan-out. Date i's influence is then [[influence]] of
    * [[temporal]](i) over these columns.
    *
    * If the ROUTE side carries a `wmult` column (the A7 extreme-weather
    * multiplier from the route-location bucket's historical stats,
    * `weather_similarity.py:221-344` / batch per-bucket caching in
    * `safety_computation_optimized.py:516-560`), the weather factor is
    * computed per PAIR from the amplified similarity
    * `wsim × wmult` (final_similarity = base × multiplier,
    * `weather_similarity.py:473`) instead of the accident-hoisted factor —
    * exclusion threshold and quadratic power apply to the amplified value.
    */
  private def withFactors(pairs: DataFrame, dist: Column, pin: Column => Column): DataFrame = {
    val elevDiff = abs(col("a_elev") - col("elev"))
    pairs
      .withColumn("dist_km", pin(dist))
      // spatial: exp(-d²/(2h²)) with per-route bandwidth (2h² hoisted)
      .withColumn("spatial_w", pin(exp(-(pow(col("dist_km"), 2)) / col("__two_h2"))))
      // elevation: bonus-only gaussian with per-route constant
      .withColumn("elevation_w", pin(
        when(col("elev").isNull || col("a_elev").isNull, lit(1.0))
          .otherwise(lit(1.0) + lit(WeightExprs.ElevationBonusMax) *
            exp(-pow(elevDiff / col("__elev_c"), 2)))))
      // route-type: int-indexed flat 7×7 matrix (same literals as the map form)
      .withColumn("route_type_w", pin(
        when(col("__rt_idx") >= 0 && col("__acc_idx") >= 0,
          element_at(array(rtMatrixFlat.map(lit): _*),
            (col("__rt_idx") * 7 + col("__acc_idx") + 1).cast("int")))
          .otherwise(WeightExprs.DefaultRouteTypeWeight)))
      .withColumn("severity_w", col("__sev_w"))
      .withColumn("grade_w", pin(WeightExprs.gradeWeight(col("difficulty"), col("a_difficulty"))))
      .withColumn("weather_factor",
        if (pairs.columns.contains("wmult"))
          pin(WeightExprs.weatherFactor(col("wsim") * col("wmult")))
        else col("__wfactor"))
  }

  /** Date i's temporal weight: the accident's precomputed slot for the
    * route's type (see [[enrichAccidents]]).
    */
  private def temporal(i: Int): Column =
    element_at(col("__tw"), col("__tw_slot") + i * TemporalSlots)

  /** spatial·temporal·elevation·route_type·severity·grade — the
    * multiplication order of the reference (safety_algorithm.py:293-319)
    * and of the DuckDB oracle SQL.
    */
  private def baseInfluence(temporal: Column): Column =
    col("spatial_w") * temporal * col("elevation_w") *
      col("route_type_w") * col("severity_w") * col("grade_w")

  private def influence(temporal: Column): Column =
    baseInfluence(temporal) * col("weather_factor")

  /** The enrichment columns the pair grain drops. */
  private val Hoisted = Seq("__rt_lc", "__h", "__elev_c", "__rt_idx", "__tw_slot",
    "__coslat", "__two_h2", "__sev_w", "__acc_idx", "__wfactor", "__a_coslat", "__tw")

  private val PairFactors = Seq("dist_km", "spatial_w", "temporal_w", "elevation_w",
    "route_type_w", "severity_w", "grade_w", "base_influence", "weather_factor", "influence")

  /** The pair-grain shape over an already-joined (enriched-routes ×
    * enriched-accidents, one plan date) frame — shared by the exact
    * cross-join path and the grid-pruned equi-join path (KernelPruning),
    * each passing its own distance column. Output: the input's own
    * columns, then every factor, `base_influence` and `influence`.
    */
  private[kernel] def influenceColumns(pairs: DataFrame, dist: Column): DataFrame =
    withFactors(pairs, dist, identity)
      .withColumn("temporal_w", temporal(0))
      .withColumn("base_influence", baseInfluence(col("temporal_w")))
      .withColumn("influence", influence(col("temporal_w")))
      .select((pairs.columns.filterNot(c => c == "dist_km" || Hoisted.contains(c)) ++
        PairFactors).map(col): _*)

  /** Aggregate pair influences to per-route risk (A1 + F16).
    *
    * The explicit narrow projection before the groupBy matters at scale:
    * without it the plan keeps the full ~20-column factor frame alive
    * through several Project layers and materializes every pair row
    * (~3.5× slower at 1.16B pairs); with it, Catalyst collapses the kernel
    * into one fused Project producing exactly (route_id, influence).
    */
  def scoreRoutes(pairs: DataFrame): DataFrame =
    pairs
      .select("route_id", "influence")
      .groupBy("route_id")
      .agg(
        sum("influence").as("total_influence"),
        sum(when(col("influence") > SignificanceFloor, 1L).otherwise(0L))
          .as("n_contributing"))
      .withColumn("risk_score", WeightExprs.normalizeRiskScore(col("total_influence")))
      .withColumn("color_code", WeightExprs.colorCode(col("risk_score")))

  /** End-to-end: routes × accidents → per-route risk. */
  def scoreRoutes(routes: DataFrame, accidents: DataFrame, planDate: Column): DataFrame =
    scoreRoutes(pairInfluence(routes, accidents, planDate))

  /** Multi-date scoring with SHARED pair geometry — the nightly batch
    * (ScoringPipeline.computeDailyScores), the 7-day forecast and cache
    * warming (Predict) score the same routes × accidents for several plan
    * dates, and only the TEMPORAL factor depends on the date. ONE
    * broadcast cross join evaluates every date-independent factor once
    * per (route, accident) pair (EvalOnce-pinned so the per-date products
    * reference them as attributes instead of inlining N copies — without
    * the pin CollapseProject would inline each factor's definition into
    * every date's product, the guide-§4.4 duplication, one asin-haversine
    * per date again; the pin is value-transparent, EvalOnce's generated
    * code IS the child's). Each date's influence is one product COLUMN
    * over those attributes, the aggregate stays keyed by route alone (N
    * sums per route, not N× the pair rows — the round-17 explode re-keyed
    * the same pair stream through an N×-bigger aggregation input), and the
    * per-date fan-out runs AFTER the aggregate, over |routes| rows.
    *
    * Per-(route, date) results are bit-identical to
    * `scoreRoutes(routes, accidents, dates(i))`: the factors and the
    * product are the same definitions ([[withFactors]], [[influence]]),
    * including the amplified weather factor when routes carry `wmult`, and
    * each (route, date) group accumulates its accidents in the same
    * broadcast-iteration order, from exactly one map partition — pinned
    * by ScoringPipelineSpec's multi-date ≡ per-date arm.
    *
    * Returns the scoreRoutes columns + `prediction_date`.
    */
  def scoreRoutesForDates(routes: DataFrame, accidents: DataFrame,
                          dates: Seq[Column]): DataFrame = {
    require(dates.nonEmpty, "scoreRoutesForDates: empty dates list")
    import graft.expr.EvalOnceExpr.evalOnce
    val pairs = withFactors(
      enrichRoutes(balance(routes)).crossJoin(broadcast(enrichAccidents(accidents, dates))),
      hoistedDistance, evalOnce)
    val narrow = pairs.select(
      col("route_id") +: dates.indices.map(i => influence(temporal(i)).as(s"__infl_$i")): _*)
    val aggCols = dates.indices.flatMap { i =>
      Seq(sum(col(s"__infl_$i")).as(s"__tot_$i"),
        sum(when(col(s"__infl_$i") > SignificanceFloor, 1L).otherwise(0L))
          .as(s"__n_$i"))
    }
    narrow
      .groupBy("route_id")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("route_id"), posexplode(array(dates.indices.map(i =>
        struct(col(s"__tot_$i").as("t"), col(s"__n_$i").as("n"))): _*)))
      .select(col("route_id"),
        col("col.t").as("total_influence"), col("col.n").as("n_contributing"),
        col("pos").as("__di"))
      .withColumn("risk_score", WeightExprs.normalizeRiskScore(col("total_influence")))
      .withColumn("color_code", WeightExprs.colorCode(col("risk_score")))
      .withColumn("prediction_date", element_at(array(dates: _*), col("__di") + 1))
      .drop("__di")
  }

  /** Top-k contributing accidents per route (W1) — rank-filter BEFORE any
    * collect so the shuffle carries ≤ k rows per route, never the full
    * pair fan-out (SURVEY §7.4(5)).
    */
  def topContributors(pairs: DataFrame, k: Int = 50): DataFrame = {
    val w = Window.partitionBy("route_id")
      .orderBy(col("influence").desc, col("accident_id").asc)
    pairs
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
