package perfbench

import java.sql.Date

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analytics.Analytics

/** The map endpoint's read, as both workloads serve it:
  * `Analytics.mapWithSafety` over route and location tables read from
  * parquet, joined to one date of a stored score table and collected to
  * the driver. Successive reads cycle through the seasons.
  */
trait MapReads extends Workload {
  import MapReads._

  private var mapRoutes, mapLocations: DataFrame = _
  private var blacklist: Seq[String] = Nil
  private var expectedRows: Map[String, Long] = Map.empty
  private var maps = 0
  private val mapRowsSeen: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()

  /** Writes the map's dimension tables and counts, from the generator's own
    * arrays, the rows each season must serve.
    */
  protected def setupMaps(world: Gen.World, blacklist: Seq[String]): Unit = {
    this.blacklist = blacklist
    Gen.mapRoutes(spark, world).write.mode("overwrite").parquet(dir("map_routes"))
    Gen.mapLocations(spark, world).write.mode("overwrite").parquet(dir("locations"))
    mapRoutes = spark.read.parquet(dir("map_routes"))
    mapLocations = spark.read.parquet(dir("locations"))
    val black = blacklist.map(_.toLowerCase).toSet
    expectedRows = Seasons.map { season =>
      season -> world.routes.count(r => world.coords(r).isDefined &&
        seasonOk(r.rtype, season) && !black.contains(r.name.toLowerCase)).toLong
    }.toMap
  }

  protected def readScores(path: String, date: Date): DataFrame =
    spark.read.parquet(path).where(col("prediction_date") === lit(date))

  private def served(path: String, date: Date): DataFrame =
    readScores(path, date).select(col("route_id").as("mp_route_id"), col("risk_score"), col("color_code"))

  protected def mapPlain(path: String, date: Date, season: String): Array[Row] =
    Analytics.mapWithSafety(mapRoutes, mapLocations, served(path, date), season, blacklist).collect()

  /** One map read, timed, then checked off the clock. */
  protected def mapOp(path: String, date: Date, decomposed: Boolean): OpResult = {
    val season = Seasons(maps % Seasons.length)
    maps += 1
    val (rows, ms) = timed(tracer.op("map") {
      if (!decomposed) mapPlain(path, date, season)
      else {
        val scores = tracer.span("pipeline.read_scores")(served(path, date))
        tracer.span("analytics.map") {
          Analytics.mapWithSafety(mapRoutes, mapLocations, scores, season, blacklist).collect()
        }
      }
    })
    offClock(checkMap(season, rows))
    mapRowsSeen += rows.length.toDouble
    OpResult("map", ms, rows.length.toLong)
  }

  /** Served rows = routes with coordinates passing the season and name
    * filters, and every one of them carries a score.
    */
  private def checkMap(season: String, rows: Array[Row]): Unit = {
    check(rows.length == expectedRows(season),
      s"map $season served ${rows.length} rows, expected ${expectedRows(season)}")
    val unscored = rows.count(_.isNullAt(rows.head.fieldIndex("risk_score")))
    check(unscored == 0, s"map $season served $unscored rows without a score")
  }

  /** Median self time and Spark jobs of the map layer, for traced runs. */
  protected def mapLayers(work: Map[Int, SparkWork], plain: Seq[Span],
                          decomposed: Seq[Span]): Map[String, Double] = {
    val plainMaps = plain.filter(_.name == "map")
    Map(
      "analytics.map_ms" -> Stats.median(decomposed.flatMap(tracer.subtree)
        .filter(_.name == "analytics.map").map(tracer.selfMs)),
      "analytics.map_rows" -> Stats.median(mapRowsSeen.toSeq),
      "spark.jobs_per_map" -> (if (plainMaps.isEmpty) 0.0
        else plainMaps.map(s => work.get(s.id).map(_.jobs).getOrElse(0L)).sum.toDouble / plainMaps.length))
  }
}

object MapReads {
  val Seasons: Seq[String] = Seq("all", "rock", "winter")

  /** The season filter of `Analytics.mapWithSafety`, restated over the generator's types. */
  def seasonOk(rtype: String, season: String): Boolean = {
    val t = rtype.toLowerCase
    season match {
      case "winter" => t.contains("ice") || t.contains("mixed")
      case "rock" => !t.contains("ice") && !t.contains("mixed") && t != "unknown"
      case _ => true
    }
  }
}
