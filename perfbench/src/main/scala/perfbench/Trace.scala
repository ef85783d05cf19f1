package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, made from the benchmark's side of the
  * public API. `op` groups the spans of one operation (an epoch, a
  * search, a tick); `parent` is the enclosing span's id, -1 at the top. */
final case class Span(id: Int, name: String, op: String, parent: Int,
    startNs: Long, endNs: Long)

/** Spans and listener counts, kept in memory and written out at the end.
  *
  * Every call is timed whether or not tracing is on, because the
  * end-to-end metrics are those same durations; only the span records
  * and the Spark listeners are tracing's cost. */
final class Trace(val enabled: Boolean) {
  import Trace._
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  /** Runs `body` as span `name` of operation `op`; returns its result and
    * wall milliseconds. */
  def timed[T](name: String, op: String)(body: => T): (T, Double) = {
    val id = nextId.getAndIncrement()
    val parent = stack.get.headOption.getOrElse(-1)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try {
      val out = body
      val t1 = System.nanoTime()
      if (enabled) spans.add(Span(id, name, op, parent, t0, t1))
      (out, (t1 - t0) / 1e6)
    } finally stack.set(stack.get.tail)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  // ---- Spark's public listener hooks, installed only when tracing ----

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val phases = new ConcurrentLinkedQueue[Phases]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  // listener events carry wall-clock ms; spans use nanoTime — one
  // offset, read once, maps the former onto the latter
  private val wallToNanoMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
  def wallMsToNs(ms: Long): Long = (ms - wallToNanoMs) * 1000000L

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Job(wallMsToNs(e.time), -1L))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endNs = wallMsToNs(e.time))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          tasks.add(Task(wallMsToNs(e.taskInfo.finishTime), m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled))
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val p = qe.tracker.phases
        def ms(k: String): Double = p.get(k).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
        val start = p.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
        phases.add(Phases(wallMsToNs(start), ms("analysis"), ms("optimization"), ms("planning")))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Progress(p.id.toString,
          java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
  }

  /** Streaming progress events with input rows, as (start ns, event). */
  def epochs: Seq[(Long, Progress)] =
    progress.asScala.toSeq.filter(_.rows > 0).map(p => wallMsToNs(p.startMs) -> p)
      .sortBy(_._1)

  /** Listener counts inside [startNs, endNs): jobs started in it and the
    * time at least one of them ran, tasks ended in it with their run time,
    * shuffle and spill bytes, and the Catalyst phases of the queries that
    * started in it. */
  def window(startNs: Long, endNs: Long): Window = {
    val js = jobs.values.asScala.toSeq
      .filter(j => j.startNs >= startNs && j.startNs < endNs)
    val ivs = js.map(j => (j.startNs, if (j.endNs < 0) endNs else math.min(j.endNs, endNs)))
      .sortBy(_._1)
    var busy = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    ivs.foreach { case (s, e) =>
      if (s > curE) { busy += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += math.max(0L, curE - curS)
    val ts = tasks.asScala.toSeq.filter(t => t.endNs >= startNs && t.endNs < endNs)
    val ph = phases.asScala.toSeq.filter(p => p.startNs >= startNs && p.startNs < endNs)
    Window(js.size, busy / 1e6, ts.map(_.runMs).sum.toDouble,
      ts.map(t => t.shuffleRead + t.shuffleWrite).sum, ts.map(_.spill).sum,
      ph.map(_.analysisMs).sum, ph.map(_.optimizationMs).sum, ph.map(_.planningMs).sum,
      ts.size, ph.size)
  }

  /** Streaming-layer metrics over the given epochs (progress events with
    * input), under `prefix`: epoch count, rows, the `durationMs` phases,
    * addBatch at the start and end of the run (table age), and the
    * scheduler counts inside each epoch; `slots` is the local core count. */
  def streamMetrics(prefix: String, es: Seq[(Long, Progress)], slots: Int,
      out: scala.collection.mutable.Map[String, Double]): Unit = if (es.nonEmpty) {
    def d(p: Progress, k: String): Double = p.durations.getOrElse(k, 0L).toDouble
    // progress durations are whole milliseconds: report medians and, for
    // a figure that resolves below one millisecond, means
    def phase(name: String, f: Progress => Double): Unit = {
      val xs = es.map(e => f(e._2))
      out(s"$prefix.${name}_p50_ms") = Stats.median(xs)
      out(s"$prefix.${name}_mean_ms") = xs.sum / xs.size
    }
    out(s"$prefix.epochs") = es.size
    out(s"$prefix.rows_per_epoch_p50") = Stats.median(es.map(_._2.rows.toDouble))
    phase("latest_offset", d(_, "latestOffset"))
    phase("query_planning", d(_, "queryPlanning"))
    phase("add_batch", d(_, "addBatch"))
    phase("checkpoint", p => d(p, "walCommit") + d(p, "commitOffsets"))
    out(s"$prefix.add_batch_ms_per_mrow") =
      es.map(e => d(e._2, "addBatch")).sum / (es.map(_._2.rows).sum / 1e6)
    // a fixed share of epochs at each end shows how epoch cost grows
    // with table age
    val n = math.max(1, math.min(20, es.size / 4))
    out(s"$prefix.add_batch_early_ms") = es.take(n).map(e => d(e._2, "addBatch")).sum / n
    out(s"$prefix.add_batch_late_ms") = es.takeRight(n).map(e => d(e._2, "addBatch")).sum / n
    val wins = es.map { case (s, p) =>
      val ms = d(p, "triggerExecution"); window(s, s + (ms * 1e6).toLong) -> ms }
    val wall = wins.map(_._2).sum
    out(s"$prefix.jobs_per_epoch") = wins.map(_._1.jobs).sum.toDouble / wins.size
    out(s"$prefix.driver_gap_share") = 1.0 - wins.map(_._1.jobBusyMs).sum / wall
    out(s"$prefix.task_busy_share") = wins.map(_._1.taskRunMs).sum / (slots * wall)
    out(s"$prefix.shuffle_bytes_per_epoch") = wins.map(_._1.shuffleBytes.toDouble).sum / wins.size
    out(s"$prefix.spill_bytes") = wins.map(_._1.spillBytes.toDouble).sum
  }

  /** Forces the optimizer and the physical planner on `df` and returns
    * their wall milliseconds; an action on `df` afterwards reuses both. */
  def catalyst(df: org.apache.spark.sql.DataFrame, op: String): (Double, Double) = {
    val opt = timed("catalyst.optimize", op)(df.queryExecution.optimizedPlan)._2
    val plan = timed("catalyst.plan", op)(df.queryExecution.executedPlan)._2
    (opt, plan)
  }

  /** Per span name: calls and self milliseconds (duration minus the part
    * of it that child spans cover). */
  def selfTimes: Map[String, (Int, Double)] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
      name -> (ss.size, self)
    }
  }

  /** Spans as JSON lines (times in ms from the first span), each with the
    * listener counts inside it. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = allSpans
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      val w = window(s.startNs, s.endNs)
      f"""{"id":${s.id},"name":"${s.name}","op":"${s.op}","parent":${s.parent},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""jobs":${w.jobs},"job_busy_ms":${w.jobBusyMs}%.3f,"tasks":${w.tasks},""" +
        f""""task_run_ms":${w.taskRunMs}%.0f,"shuffle_bytes":${w.shuffleBytes},""" +
        f""""spill_bytes":${w.spillBytes},"queries":${w.queries},""" +
        f""""analysis_ms":${w.analysisMs}%.0f,"optimization_ms":${w.optimizationMs}%.0f,""" +
        f""""planning_ms":${w.planningMs}%.0f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  final case class Job(startNs: Long, var endNs: Long)
  final case class Task(endNs: Long, runMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long)
  final case class Phases(startNs: Long, analysisMs: Double,
      optimizationMs: Double, planningMs: Double)
  /** One streaming progress event: `durations` is its `durationMs`. */
  final case class Progress(queryId: String, startMs: Long, rows: Long,
      durations: Map[String, Long])
  /** Listener counts inside a time interval (see [[Trace.window]]). */
  final case class Window(jobs: Int, jobBusyMs: Double, taskRunMs: Double,
      shuffleBytes: Long, spillBytes: Long, analysisMs: Double,
      optimizationMs: Double, planningMs: Double, tasks: Int, queries: Int)
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Peak live memory: the heap in use right after a full collection, taken
  * at operation boundaries outside the timed calls, plus what the JVM holds
  * outside the heap (metaspace, code cache). Unlike the process's resident
  * set, it does not depend on how far the collector chose to grow the heap
  * in a run, so a leak or a bigger working set moves it. */
final class Mem {
  private var peakHeap = 0L
  def sample(): Unit = {
    System.gc()
    peakHeap = math.max(peakHeap,
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = {
    sample()
    val nonHeap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getNonHeapMemoryUsage.getUsed
    (peakHeap + nonHeap) / (1024.0 * 1024.0)
  }
}

/** Counts operations attempted and failed; a failed operation yields no
  * timing, so it can never be reported as fast. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  def run[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }
}
