package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One traced call: `parent` is -1 for an operation's root span, and all
  * spans of one operation share `op`.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long) {
  var end: Long = start
  def ms: Double = (end - start) / 1e6
}

/** Per-span Spark work, attributed through the job group each span sets. */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer[Long]()
  def add(o: SparkWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskNs += o.taskNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; taskMs ++= o.taskMs
  }
}

/** Listener owned by the benchmark: maps each job to the span whose job
  * group launched it, and folds the job's task metrics into that span.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map[Int, Int]()
  val work: mutable.Map[Int, SparkWork] = mutable.Map[Int, SparkWork]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null && group.startsWith(Tracer.GroupPrefix)) {
      val id = group.stripPrefix(Tracer.GroupPrefix).toInt
      work.getOrElseUpdate(id, new SparkWork).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val w = work.getOrElseUpdate(id, new SparkWork)
      w.tasks += 1
      w.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        w.taskNs += m.executorRunTime * 1000000L
        w.gcMs += m.jvmGCTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}

/** In-memory span recorder. With tracing off every method just runs its
  * body, so untraced runs pay nothing but a branch.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var ops = 0
  private val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  /** A root span: one operation of the workload. */
  def op[T](name: String)(body: => T): T = {
    ops += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), ops,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Spark work per span, after the listener bus has drained. */
  def work(): Map[Int, SparkWork] = {
    org.apache.spark.PerfbenchBus.drain(sc, 30000L)
    listener.synchronized(listener.work.toMap)
  }

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Duration minus the part of it the span's children cover (children of
    * one span run sequentially on the client thread, so they never overlap).
    */
  def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  /** The span and all of its descendants. */
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def roots: Seq[Span] = spans.toSeq.filter(_.parent < 0)

  /** All spans as JSON lines, written once at the end of a traced run. */
  def write(path: java.nio.file.Path, work: Map[Int, SparkWork]): Unit = {
    val lines = spans.map { s =>
      val w = work.getOrElse(s.id, new SparkWork)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ms":${Main.num(selfMs(s))},""" +
        s""""jobs":${w.jobs},"tasks":${w.tasks},"task_ms":${Main.num(w.taskNs / 1e6)},""" +
        s""""gc_ms":${w.gcMs},"shuffle_bytes":${w.shuffleBytes}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
