package perfbench

import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded, production-shaped inputs. The engine only ever receives the
  * tables built here; the seed never reaches it.
  *
  * Shape (all drawn from one `SplittableRandom(seed)`):
  *  - `nAreas` crag areas in the western US, popularity Zipf(1.0);
  *  - locations jittered inside areas picked by popularity, until the
  *    route count is reached;
  *  - 1 + Geometric(mean 2.7) routes per location, sharing its coordinates
  *    unless the route carries its own (8%);
  *  - accidents near areas picked by a steeper Zipf(1.2), 5% scattered;
  *  - 7 weather rows per accident, 10% of accidents kept short of the
  *    5-day rule, with the falsy-zero and NULL quirks the assembly defaults;
  *  - severities serious / minor / fatal / unknown = 49.8 / 26.6 / 18.5 / 5.1 %;
  *  - grades in the YDS, V, WI, M and A systems by route type.
  */
object Gen {

  val Types: Array[String] = Array("sport", "trad", "boulder", "alpine", "ice", "mixed", "aid")
  private val TypeCdf = cdf(Array(0.35, 0.28, 0.15, 0.08, 0.06, 0.04, 0.04))
  // accident corpora lean to the serious-terrain types
  private val AccTypeCdf = cdf(Array(0.18, 0.22, 0.04, 0.30, 0.12, 0.09, 0.05))
  private val Severities = Array("serious", "minor", "fatal", "unknown")
  private val SeverityCdf = cdf(Array(0.498, 0.266, 0.185, 0.051))

  final case class Area(lat: Double, lon: Double, spread: Double)
  final case class Location(id: Long, lat: Option[Double], lon: Option[Double],
                            elev: Option[Double], area: Int)
  final case class Route(id: Long, name: String, locationId: Long, rtype: String,
                         grade: Option[String], lat: Option[Double], lon: Option[Double])
  final case class Accident(id: Long, lat: Double, lon: Double, elev: Option[Double],
                            accType: String, severity: String, date: LocalDate,
                            difficulty: Option[Double], area: Int)

  /** One generated world; `Accident.area` is -1 for a scattered accident. */
  final case class World(areas: Array[Area], locations: Array[Location],
                         routes: Array[Route], accidents: Array[Accident]) {
    lazy val locById: Map[Long, Location] = locations.map(l => l.id -> l).toMap

    /** Effective coordinates (own, else the location's), as the map serves them. */
    def coords(r: Route): Option[(Double, Double)] = {
      val loc = locById(r.locationId)
      for (la <- r.lat.orElse(loc.lat); lo <- r.lon.orElse(loc.lon)) yield (la, lo)
    }

    /** Distinct effective route coordinates over routes with coordinates. */
    def distinctCoordsPerRoute: Double = {
      val cs = routes.flatMap(coords)
      cs.distinct.length.toDouble / math.max(1, cs.length)
    }

    /** Share of accidents that fall in the 10 areas holding the most accidents. */
    def top10AreaAccidentShare: Double = {
      val counts = accidents.filter(_.area >= 0).groupBy(_.area).values.map(_.length).toSeq
      counts.sorted(Ordering[Int].reverse).take(10).sum.toDouble / math.max(1, accidents.length)
    }
  }

  private def cdf(w: Array[Double]): Array[Double] = {
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }

  private def pick(rng: java.util.SplittableRandom, cdf: Array[Double]): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i + 1 else -i - 1)
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] =
    cdf(Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s)))

  def gauss(rng: java.util.SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u1 = math.max(rng.nextDouble(), 1e-12)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  private def round(v: Double, places: Int): Double =
    java.math.BigDecimal.valueOf(v).setScale(places, java.math.RoundingMode.HALF_UP).doubleValue()

  def gradeFor(rng: java.util.SplittableRandom, rtype: String): String = rtype match {
    case "boulder" => s"V${rng.nextInt(13)}"
    case "ice" => s"WI${2 + rng.nextInt(5)}"
    case "mixed" => s"M${2 + rng.nextInt(9)}"
    case "aid" => s"A${rng.nextInt(5)}"
    case _ =>
      val n = 4 + rng.nextInt(11)
      if (n < 10) s"5.$n" + (if (rng.nextInt(4) == 0) "+" else "")
      else s"5.$n" + "abcd".charAt(rng.nextInt(4))
  }

  /** Build a world with exactly `nRoutes` routes (over about nRoutes / 3.7
    * locations) and `nAccidents` accidents.
    */
  def world(seed: Long, nAreas: Int, nRoutes: Int, nAccidents: Int): World = {
    val rng = new java.util.SplittableRandom(seed)
    val areas = Array.fill(nAreas)(Area(
      33.0 + 15.5 * rng.nextDouble(), -123.0 + 18.0 * rng.nextDouble(),
      0.02 + 0.18 * rng.nextDouble()))
    val locCdf = zipfCdf(nAreas, 1.0)
    val locations = ArrayBuffer[Location]()
    val routes = ArrayBuffer[Route]()
    while (routes.length < nRoutes) {
      val a = pick(rng, locCdf)
      val ar = areas(a)
      val lat = ar.lat + ar.spread * gauss(rng)
      val lon = ar.lon + ar.spread * gauss(rng)
      val hasCoords = rng.nextDouble() >= 0.03
      val elev = 900.0 + 1500.0 * (1 + math.sin(lat * 3.1) * math.cos(lon * 2.3)) +
        200.0 * rng.nextDouble()
      val loc = Location(locations.length.toLong,
        if (hasCoords) Some(round(lat, 5)) else None,
        if (hasCoords) Some(round(lon, 5)) else None,
        if (rng.nextDouble() < 0.9) Some(round(elev, 1)) else None, a)
      locations += loc
      var k = 1
      while (rng.nextDouble() < 2.7 / 3.7) k += 1
      (0 until math.min(k, nRoutes - routes.length)).foreach { _ =>
        val id = routes.length.toLong
        val t = Types(pick(rng, TypeCdf))
        val own = rng.nextDouble() < 0.08 && loc.lat.isDefined
        routes += Route(id, s"route $id", loc.id, t,
          if (rng.nextDouble() < 0.9) Some(gradeFor(rng, t)) else None,
          if (own) loc.lat.map(v => round(v + 0.002 * gauss(rng), 5)) else None,
          if (own) loc.lon.map(v => round(v + 0.002 * gauss(rng), 5)) else None)
      }
    }
    val accCdf = accidentAreaCdf(nAreas)
    val accidents = Array.tabulate(nAccidents)(i =>
      accident(rng, areas, accCdf, i.toLong, LocalDate.parse("2010-01-01"), 15 * 365))
    World(areas, locations.toArray, routes.toArray, accidents)
  }

  /** Accident popularity over areas: steeper than the route Zipf(1.0). */
  def accidentAreaCdf(nAreas: Int): Array[Double] = zipfCdf(nAreas, 1.2)

  /** One accident near an area picked by Zipf(1.2) popularity, or scattered
    * anywhere (5%), dated uniformly over `days` days from `from`.
    */
  def accident(rng: java.util.SplittableRandom, areas: Array[Area], accCdf: Array[Double],
               id: Long, from: LocalDate, days: Int): Accident = {
    val scattered = rng.nextDouble() < 0.05
    val a = if (scattered) -1 else pick(rng, accCdf)
    val (lat, lon) =
      if (scattered) (33.0 + 15.5 * rng.nextDouble(), -123.0 + 18.0 * rng.nextDouble())
      else {
        val ar = areas(a)
        (ar.lat + 1.5 * ar.spread * gauss(rng), ar.lon + 1.5 * ar.spread * gauss(rng))
      }
    val t = Types(pick(rng, AccTypeCdf))
    val diff =
      if (rng.nextDouble() < 0.6) graft.expr.GradeParser.parse(gradeFor(rng, t)) else None
    Accident(id, round(lat, 5), round(lon, 5),
      if (rng.nextDouble() < 0.85) Some(round(1200.0 + 2800.0 * rng.nextDouble(), 1)) else None,
      t, Severities(pick(rng, SeverityCdf)),
      from.plusDays(rng.nextInt(days).toLong), diff, a)
  }

  // --- tables ---------------------------------------------------------------

  private def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def opt(o: Option[Any]): Any = o.orNull

  private val RouteSchema = StructType(Seq(
    StructField("route_id", LongType, false), StructField("lat", DoubleType),
    StructField("lon", DoubleType), StructField("elev", DoubleType),
    StructField("route_type", StringType), StructField("difficulty", DoubleType)))

  /** Kernel routes: every route with effective coordinates, elevation from
    * its location and difficulty parsed from its grade.
    */
  def kernelRoutes(spark: SparkSession, w: World): DataFrame =
    df(spark, w.routes.toSeq.flatMap { r =>
      w.coords(r).map { case (la, lo) =>
        Row(r.id, la, lo, opt(w.locById(r.locationId).elev), r.rtype,
          opt(r.grade.flatMap(graft.expr.GradeParser.parse)))
      }
    }, RouteSchema)

  /** The map-serving routes table (FIXTURES §3 subset). */
  def mapRoutes(spark: SparkSession, w: World): DataFrame =
    df(spark, w.routes.toSeq.map(r =>
      Row(r.id, r.name, r.locationId, r.rtype, opt(r.grade), opt(r.lat), opt(r.lon))),
      StructType(Seq(
        StructField("mp_route_id", LongType, false), StructField("name", StringType),
        StructField("location_id", LongType), StructField("type", StringType),
        StructField("grade", StringType), StructField("latitude", DoubleType),
        StructField("longitude", DoubleType))))

  /** Locations projected as mapWithSafety expects them. */
  def mapLocations(spark: SparkSession, w: World): DataFrame =
    df(spark, w.locations.toSeq.map(l => Row(l.id, opt(l.lat), opt(l.lon))),
      StructType(Seq(StructField("mp_id", LongType, false),
        StructField("loc_lat", DoubleType), StructField("loc_lon", DoubleType))))

  val AccidentSchema: StructType = StructType(Seq(
    StructField("accident_id", LongType, false), StructField("a_lat", DoubleType),
    StructField("a_lon", DoubleType), StructField("a_elev", DoubleType),
    StructField("acc_type", StringType), StructField("severity_raw", StringType),
    StructField("a_date", DateType), StructField("a_difficulty", DoubleType)))

  def accidentRow(a: Accident): Row =
    Row(a.id, a.lat, a.lon, opt(a.elev), a.accType, a.severity,
      Date.valueOf(a.date), opt(a.difficulty))

  def accidents(spark: SparkSession, accs: Seq[Accident]): DataFrame =
    df(spark, accs.map(accidentRow), AccidentSchema)

  /** FIXTURES §2 weather rows: 7 per accident ending on its date; 10% of
    * accidents keep only 2-4 of them.
    */
  def weatherRows(spark: SparkSession, accs: Seq[Accident], seed: Long): DataFrame = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5eedL)
    var wid = 0L
    val rows = accs.flatMap { a =>
      val keep = if (rng.nextDouble() < 0.10) 2 + rng.nextInt(3) else 7
      val month = a.date.getMonthValue
      val seasonal = 12.0 - 12.0 * math.cos((month - 1) / 12.0 * 2 * math.Pi)
      (0 until 7).filter(_ >= 7 - keep).map { k =>
        wid += 1
        val t = seasonal + 4.0 * gauss(rng)
        val tAvg: Any = rng.nextDouble() match {
          case u if u < 0.02 => null
          case u if u < 0.03 => 0.0
          case _ => round(t, 2)
        }
        Row(wid, a.id, Date.valueOf(a.date.minusDays(6 - k)), round(a.lat, 2), round(a.lon, 2),
          tAvg, round(t - 2 - 6 * rng.nextDouble(), 2), round(t + 2 + 6 * rng.nextDouble(), 2),
          round(1 + 11 * rng.nextDouble(), 2), round(3 + 15 * rng.nextDouble(), 2),
          if (rng.nextDouble() < 0.7) 0.0 else round(math.exp(3 * rng.nextDouble()) - 1, 2),
          if (rng.nextDouble() < 0.1) null else round(2000 + 8000 * rng.nextDouble(), 0),
          round(100 * rng.nextDouble(), 1))
      }
    }
    df(spark, rows, StructType(Seq(
      StructField("weather_id", LongType, false), StructField("accident_id", LongType),
      StructField("date", DateType, false), StructField("latitude", DoubleType),
      StructField("longitude", DoubleType), StructField("temperature_avg", DoubleType),
      StructField("temperature_min", DoubleType), StructField("temperature_max", DoubleType),
      StructField("wind_speed_avg", DoubleType), StructField("wind_speed_max", DoubleType),
      StructField("precipitation_total", DoubleType), StructField("visibility_avg", DoubleType),
      StructField("cloud_cover_avg", DoubleType))))
  }

  /** FIXTURES §5 current-weather rows: one per (bucket, day) over `days`. */
  def currentWeather(spark: SparkSession, buckets: Seq[(Double, Double)],
                     days: Seq[LocalDate], seed: Long): DataFrame = {
    val rng = new java.util.SplittableRandom(seed ^ 0xc0ffeeL)
    val rows = for (b <- buckets.distinct; d <- days) yield {
      val t = 10.0 + 12.0 * rng.nextDouble()
      Row(b._1, b._2, Date.valueOf(d), round(t, 2), round(t - 2 - 6 * rng.nextDouble(), 2),
        round(t + 2 + 6 * rng.nextDouble(), 2),
        if (rng.nextDouble() < 0.6) 0.0 else round(8 * rng.nextDouble(), 2),
        round(3 + 15 * rng.nextDouble(), 2), round(100 * rng.nextDouble(), 1))
    }
    df(spark, rows, StructType(Seq(
      StructField("lat_bucket", DoubleType), StructField("lon_bucket", DoubleType),
      StructField("date", DateType), StructField("temperature_mean", DoubleType),
      StructField("temperature_min", DoubleType), StructField("temperature_max", DoubleType),
      StructField("precipitation_sum", DoubleType), StructField("wind_speed_max", DoubleType),
      StructField("cloud_cover_mean", DoubleType))))
  }

  /** 0.01° forecast bucket, HALF_EVEN like `Forecast.bucketOf`. */
  def bucket(v: Double): Double =
    java.math.BigDecimal.valueOf(v).setScale(2, java.math.RoundingMode.HALF_EVEN).doubleValue()

  /** 0.001° elevation-grid key, HALF_UP like `Predict.resolveElevation`. */
  def gridKey(v: Double): Double = round(v, 3)

  def elevationGrid(spark: SparkSession, cells: Seq[(Double, Double, Double)]): DataFrame =
    df(spark, cells.map { case (la, lo, e) => (gridKey(la), gridKey(lo)) -> e }
      .toMap.toSeq.sortBy(_._1).map { case ((la, lo), e) => Row(la, lo, e) },
      StructType(Seq(StructField("g_lat", DoubleType), StructField("g_lon", DoubleType),
        StructField("elevation_m", DoubleType))))
}
