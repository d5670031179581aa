package graft.bench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark engine counters, summed over every job and task the session
  * runs, and per operation: an operation that wants its own counters tags
  * the jobs its thread starts (a Spark local property), so they stay its
  * own while other clients run jobs beside it. */
final class EngineCounters extends SparkListener {
  import EngineCounters._
  private val totals = new Counts
  private val byOp = new ConcurrentHashMap[String, Counts]()
  private val stageOp = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    totals.jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty(OpTag))).foreach { op =>
      byOp.computeIfAbsent(op, _ => new Counts).jobs.incrementAndGet()
      e.stageIds.foreach(stageOp.put(_, op))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      totals.add(m)
      Option(stageOp.get(e.stageId)).flatMap(op => Option(byOp.get(op))).foreach(_.add(m))
    }

  def snapshot(): Map[String, Long] = totals.toMap

  /** The counters of the jobs tagged `op`, forgetting them. */
  def take(op: String): Map[String, Long] =
    Option(byOp.remove(op)).getOrElse(new Counts).toMap
}

object EngineCounters {
  /** The local property that tags a job with its operation. */
  val OpTag = "graftbench.op"

  final class Counts {
    val jobs, tasks, cpuNs, shuffleWriteBytes, spillBytes, gcMs = new AtomicLong

    def add(m: TaskMetrics): Unit = {
      tasks.incrementAndGet()
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }

    def toMap: Map[String, Long] = Map(
      "jobs" -> jobs.get, "tasks" -> tasks.get, "cpu_ns" -> cpuNs.get,
      "shuffle_write_bytes" -> shuffleWriteBytes.get,
      "spill_bytes" -> spillBytes.get, "gc_ms" -> gcMs.get)
  }
}

/** One timed operation of a workload; `traced` when its spans and
  * engine counters were recorded. */
final class Op(val kind: String, val name: String, val start: Long, val traced: Boolean) {
  @volatile var end: Long = start
  @volatile var failure: Option[String] = None
  val attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty

  def fail(reason: String): Unit = if (failure.isEmpty) failure = Some(reason)
}

final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Long, end: Long)

/** Records every operation's latency and outcome. When tracing, it also
  * records, for each traced operation, a span around each call into the
  * library (kept in memory, written out at the end) and the engine
  * counters at the operation's boundaries. A traced run traces only some
  * of its operations; the others, interleaved with them, time the same
  * sequence without tracing, so the difference is the tracing overhead. */
final class Recorder(val tracing: Boolean, sc: SparkContext,
                     counters: EngineCounters) {
  private val ops = new ConcurrentLinkedQueue[Op]
  private val spans = new ConcurrentLinkedQueue[Span]
  private val checkFailures = new ConcurrentLinkedQueue[String]
  private val ids = new AtomicLong
  // (span id, op id) of the innermost open span on this thread; (-1, -1)
  // outside a traced operation
  private val open = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (-1L, -1L)
  }

  def counterSnapshot(): Map[String, Long] = {
    org.apache.spark.GraftBenchBus.drain(sc)
    counters.snapshot()
  }

  /** Run one operation, traced when `traced` and the recorder is tracing.
    * An exception fails the operation and is not rethrown; `withCounters`
    * attributes to a traced operation the engine counters of the jobs
    * its thread starts. */
  def op[A](kind: String, name: String, withCounters: Boolean = false,
            traced: Boolean = true)(body: Op => A): Option[A] = {
    val on = tracing && traced
    val tag = if (on && withCounters) Some(s"op-${ids.incrementAndGet()}") else None
    val o = new Op(kind, name, System.nanoTime(), on)
    if (on) open.set((0L, 0L))
    tag.foreach(sc.setLocalProperty(EngineCounters.OpTag, _))
    val out = try span(s"$kind:$name", root = Some(o)) {
      try Some(body(o)) catch { case e: Throwable =>
        o.fail(s"${e.getClass.getSimpleName}: ${Option(e.getMessage)
          .getOrElse("").takeWhile(_ != '\n').take(200)}")
        None
      }
    } finally {
      open.set((-1L, -1L))
      if (tag.isDefined) sc.setLocalProperty(EngineCounters.OpTag, null)
    }
    o.end = System.nanoTime()
    tag.foreach { t =>
      org.apache.spark.GraftBenchBus.drain(sc)
      counters.take(t).foreach { case (k, v) => o.attrs("spark." + k) = v }
    }
    ops.add(o)
    out
  }

  /** A child span of the innermost open span (recorded only inside a
    * traced operation). */
  def span[A](name: String, root: Option[Op] = None)(body: => A): A = {
    val (parent, op) = open.get()
    if (parent < 0) body
    else {
      val id = ids.incrementAndGet()
      val opId = if (root.isDefined) id else op
      open.set((id, opId))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, if (root.isDefined) 0L else parent, opId, name,
          t0, System.nanoTime()))
        open.set((parent, op))
      }
    }
  }

  /** A correctness failure found after the loop, outside any operation. */
  def checkFailed(reason: String): Unit = checkFailures.add(reason)

  def opList: Seq[Op] = ops.asScala.toSeq.sortBy(_.start)
  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
  def checkFailureList: Seq[String] = checkFailures.asScala.toSeq
}
