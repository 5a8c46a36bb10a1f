package perfbench

import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernel.SafetyKernel
import graft.pipeline.ScoringPipeline
import graft.weather.{Forecast, WeatherAssembly}

/** The committed nightly from source tables in parquet: weather assembly
  * and similarity, the exact multi-date kernel over every route × accident
  * pair for 3 plan dates, the partition-overwrite sink with its row-count
  * invariant, and retention. Each nightly scores the next 3-day window, so
  * retention drops the oldest date every time. Each is followed by two
  * map reads of the scores it committed, timed on their own: the first
  * reads users make of the new scores.
  */
final class Nightly(ctx: Ctx, nRoutes: Int) extends Workload(ctx) with MapReads {
  import Nightly._

  private val outPath = dir("nightly_scores")
  private var world: Gen.World = _
  private var region: (Double, Double) = _
  private var runs = 0
  private var nKernelRoutes = 0L
  private val contributing = mutable.ArrayBuffer[(Long, Long)]()

  def headline: String = "nightly"
  def commitKind: String = "nightly"

  def setup(): Unit = {
    world = Gen.world(ctx.seed, 300, nRoutes, 6900)
    // one regional forecast: the bucket of the most popular area
    val top = world.areas.head
    region = (Gen.bucket(top.lat), Gen.bucket(top.lon))
    val days = (-6 to 40).map(k => LocalDate.parse(FirstDate).plusDays(k.toLong))
    val routes = Gen.kernelRoutes(spark, world)
    routes.write.mode("overwrite").parquet(dir("src/routes"))
    nKernelRoutes = world.routes.count(r => world.coords(r).isDefined).toLong
    Gen.accidents(spark, world.accidents.toSeq).write.mode("overwrite").parquet(dir("src/accidents"))
    Gen.weatherRows(spark, world.accidents.toSeq, ctx.seed)
      .write.mode("overwrite").parquet(dir("src/weather"))
    Gen.currentWeather(spark, Seq(region), days, ctx.seed)
      .write.mode("overwrite").parquet(dir("src/current_weather"))
    setupMaps(world, Nil)
  }

  def warmup(): Unit = {
    nextPlain()
    mapPlain(outPath, firstDate, "all")
  }

  /** At least 3 nightlies per run, each followed by two map reads. The
    * first nightly after warm-up still runs partly cold, about 15% slower
    * than the next ones on a quiet host; the median of 3 leaves it out.
    * With one read per nightly, the median of 4 reads spread 0.34 over 4
    * seeds on a contended host, against 0.05-0.08 for the median of 6 in
    * `interactive`.
    */
  override def roundSize: Int = 9

  def kindOf(i: Int): String = if (i % 3 == 0) "nightly" else "map"

  private def datesOf(run: Int): Seq[String] =
    (0 until 3).map(k => LocalDate.parse(FirstDate).plusDays((run + k).toLong).toString)

  private def scan(name: String): DataFrame = spark.read.parquet(dir(s"src/$name"))

  /** Accidents with `wsim` against the regional forecast for the first date. */
  private def withSimilarity(accidents: DataFrame, weather: DataFrame, current: DataFrame,
                             firstDate: String): DataFrame = {
    val cur = Forecast.currentPattern(current, region._1, region._2, to_date(lit(firstDate)))
    WeatherAssembly.accidentsWithSimilarity(
      accidents.crossJoin(broadcast(cur.select("cur_pattern"))), weather, col("cur_pattern"))
      .drop("cur_pattern")
  }

  /** The window the last nightly committed. */
  private def lastDates: Seq[String] = datesOf(runs - 1)
  private def firstDate: Date = Date.valueOf(lastDates.head)

  private def nextPlain(): Long = {
    val dates = datesOf(runs)
    runs += 1
    val routes = scan("routes")
    val acc = withSimilarity(scan("accidents"), scan("weather"), scan("current_weather"), dates.head)
    val written = ScoringPipeline.runDaily(spark, routes, acc, dates, outPath)
    ScoringPipeline.retainDates(spark, outPath, dates)
    written
  }

  private val keep = mutable.ArrayBuffer[DataFrame]()
  private var bytesWritten, filesWritten = 0L
  private var lastScores: DataFrame = _

  private def nextDecomposed(): Long = {
    val dates = datesOf(runs)
    runs += 1
    val (routes, accidents, weather, current) = tracer.span("pipeline.scan") {
      (materialize(scan("routes"), keep), materialize(scan("accidents"), keep),
        materialize(scan("weather"), keep), materialize(scan("current_weather"), keep))
    }
    val acc = tracer.span("weather.assemble") {
      materialize(withSimilarity(accidents, weather, current, dates.head), keep)
    }
    val scores = tracer.span("kernel.multidate") {
      materialize(ScoringPipeline.computeDailyScores(routes, acc, dates), keep)
    }
    tracer.span("pipeline.write")(ScoringPipeline.writeScores(scores, outPath))
    val written = tracer.span("pipeline.verify") {
      // the invariant `runDaily` enforces after its write
      val n = spark.read.parquet(outPath)
        .where(col("prediction_date").isin(dates.map(d => Date.valueOf(d)): _*)).count()
      require(n == routes.count() * dates.length, s"nightly wrote $n rows")
      n
    }
    tracer.span("pipeline.retain")(ScoringPipeline.retainDates(spark, outPath, dates))
    lastScores = scores
    written
  }

  def op(i: Int, decomposed: Boolean): OpResult =
    if (kindOf(i) == "map") mapOp(outPath, firstDate, decomposed)
    else try {
      val (rows, ms) = timed(tracer.op("nightly") {
        if (decomposed) nextDecomposed() else nextPlain()
      })
      if (decomposed) {
        // bookkeeping for the traced metrics, after the clock stops
        val (b, f) = sizeOf(ctx.work.resolve("nightly_scores"))
        bytesWritten = b; filesWritten = f
        contributing += (lastScores.agg(sum("n_contributing")).head().getLong(0) -> rows)
      }
      lastNightly = Some(opId)
      OpResult("nightly", ms, rows)
    } finally release(keep)

  private var lastNightly: Option[Int] = None

  /** Checks the last nightly's commit, after the loop. */
  override def finish(): Unit = lastNightly.foreach { id => offClock(during(Seq(id))(checkCommitted())) }

  /** The committed risk of sampled routes, per date, is bit-equal to the
    * single-date kernel over the same weather-enriched accidents; the
    * retained table holds exactly the window's dates.
    */
  private def checkCommitted(): Unit = {
    val dates = lastDates
    val routes = scan("routes")
    val lazyAcc = withSimilarity(scan("accidents"), scan("weather"), scan("current_weather"), dates.head)
    // one materialization in the plan's own row order, which fixes the
    // broadcast order and with it each route's summation order
    val acc = lazyAcc.cache()
    val rng = new java.util.SplittableRandom(ctx.seed + runs)
    val ids = Seq.fill(12)(world.routes(rng.nextInt(world.routes.length)).id).distinct
    val sample = routes.where(col("route_id").isin(ids: _*))
    val committed = spark.read.parquet(outPath)
    val kept = committed.select("prediction_date").distinct().collect().map(_.getDate(0).toString).toSet
    check(kept == dates.toSet, s"nightly retained $kept, expected ${dates.toSet}")
    def key(r: org.apache.spark.sql.Row) = (r.getDate(0).toString, r.getLong(1))
    val exact = dates.map(d => SafetyKernel.scoreRoutes(sample, acc, to_date(lit(d)))
      .select(to_date(lit(d)).as("prediction_date"), col("route_id"), col("risk_score")))
      .reduce(_ union _).collect().map(r => key(r) -> r.getDouble(2)).toMap
    val got = committed.where(col("route_id").isin(ids: _*))
      .select("prediction_date", "route_id", "risk_score").collect()
      .map(r => key(r) -> r.getDouble(2)).toMap
    check(got.keySet == exact.keySet, s"nightly committed ${got.keySet} vs ${exact.keySet}")
    exact.foreach { case ((d, id), risk) =>
      check(got.get((d, id)).exists(g =>
        java.lang.Double.doubleToLongBits(g) == java.lang.Double.doubleToLongBits(risk)),
        s"nightly $d route $id committed ${got.get((d, id))} vs scoreRoutes $risk")
    }
    acc.unpersist(blocking = false)
  }

  def shape: Map[String, Double] = Map(
    "routes" -> nKernelRoutes.toDouble,
    "accidents" -> world.accidents.length.toDouble,
    "dates" -> 3.0,
    "distinct_coords_per_route" -> world.distinctCoordsPerRoute,
    "top10_area_accident_share" -> world.top10AreaAccidentShare)

  def layers(work: Map[Int, SparkWork], plain: Seq[Span],
             decomposed: Seq[Span]): Map[String, Double] = {
    val spans = decomposed.flatMap(tracer.subtree)
    def selfS(name: String): Double =
      Stats.median(spans.filter(_.name == name).map(tracer.selfMs)) / 1000.0
    val kernel = spans.filter(_.name == "kernel.multidate")
    val kernelWork = kernel.map(s => work.getOrElse(s.id, new SparkWork))
    val routes = shape("routes")
    val pairEvals = routes * world.accidents.length * 3
    mapLayers(work, plain, decomposed) ++ Map(
      "pipeline.scan_s" -> selfS("pipeline.scan"),
      "weather.assemble_s" -> selfS("weather.assemble"),
      "kernel.multidate_s" -> selfS("kernel.multidate"),
      "kernel.pair_evals" -> pairEvals,
      "kernel.contributing_frac" -> (if (contributing.isEmpty) 0.0
        else contributing.map(_._1).sum.toDouble / (pairEvals * contributing.length)),
      "kernel.core_util" -> (kernelWork.map(_.taskNs).sum / 1e6) /
        math.max(1e-9, kernel.map(_.ms).sum * ctx.cores),
      "pipeline.write_s" -> selfS("pipeline.write"),
      "pipeline.bytes_written" -> bytesWritten.toDouble,
      "pipeline.files_written" -> filesWritten.toDouble,
      "pipeline.verify_s" -> selfS("pipeline.verify"),
      "pipeline.retain_s" -> selfS("pipeline.retain"))
  }
}

object Nightly {
  val FirstDate = "2025-07-01"
}
