package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: Path, seed: Long, cores: Int)

/** One timed operation. `kind` names what a user would call it (predict,
  * map, refresh, nightly, pruned); `rows` is what it delivered.
  */
final case class OpResult(kind: String, ms: Double, rows: Long)

/** A workload: set-up off the clock, then operations in a closed loop with
  * one client. Each operation carries its own output checks, which run
  * outside its timed region and report failures through `check`.
  */
abstract class Workload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  val tracer: Tracer = ctx.tracer

  /** Input generation and table materialization. */
  def setup(): Unit

  /** Untimed calls that let codegen, JIT and caches settle. */
  def warmup(): Unit

  /** The request kind whose median latency is the workload's headline. */
  def headline: String

  /** The request kind that commits scores; its rows are the scores it commits. */
  def commitKind: String

  /** The loop runs whole rounds of this many operations, so every run
    * measures the same mix.
    */
  def roundSize: Int = 1

  /** The kind of operation `i` of the loop, as its `OpResult` names it. */
  def kindOf(i: Int): String

  /** Operation `i` of the loop. `decomposed` runs it as a chain of spans,
    * one per public engine call, each materializing its output.
    */
  def op(i: Int, decomposed: Boolean): OpResult

  /** Input sizes and sharing properties, reported with every run. */
  def shape: Map[String, Double]

  /** Units of layer metrics this workload reports beyond BENCHMARK.json's list. */
  def ownLayerUnits: Map[String, String] = Map.empty

  /** Per-layer metrics from the spans of a traced run. */
  def layers(work: Map[Int, SparkWork], plain: Seq[Span], decomposed: Seq[Span]): Map[String, Double]

  /** Output checks that need the loop's outputs, run after the loop, so
    * that no check's work, garbage or evicted plans fall on a timed
    * operation.
    */
  def finish(): Unit = ()

  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()
  var checked = 0L
  var checkNs = 0L

  /** Number of the operation the loop runs now; a deferred check keeps it. */
  var opId = 0
  /** Operations with an error or a failed check. */
  val failedOps: mutable.Set[Int] = mutable.Set[Int]()
  private var checking: Seq[Int] = Nil

  /** Attribute the checks in `body` to operations `ops`. */
  def during[T](ops: Seq[Int])(body: => T): T = {
    val prev = checking
    checking = ops
    try body finally checking = prev
  }

  /** Run output checks, timing them apart from the operations. */
  protected def offClock(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally checkNs += System.nanoTime() - t0
  }

  /** Record one output check; a failure fails the operation it belongs to. */
  def check(ok: Boolean, what: => String): Boolean = {
    checked += 1
    if (!ok) { failures += what; failedOps ++= checking }
    ok
  }

  /** Wall time of `body` in milliseconds. */
  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Materialize a lazy engine output inside the current span, so the
    * span's self time holds the work of the call that produced it.
    */
  protected def materialize(df: DataFrame, keep: mutable.Buffer[DataFrame]): DataFrame = {
    val c = df.cache()
    c.count()
    keep += c
    c
  }

  protected def release(keep: mutable.Buffer[DataFrame]): Unit = {
    keep.foreach(_.unpersist(blocking = false))
    keep.clear()
  }

  protected def dir(name: String): String = ctx.work.resolve(name).toString

  /** Bytes and data files under a directory tree (parquet part files). */
  protected def sizeOf(p: Path): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val files = s.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.startsWith("part-")).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    } finally s.close()
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.length - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
