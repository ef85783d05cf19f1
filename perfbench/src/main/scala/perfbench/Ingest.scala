package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.AvroPlcCodec
import graft.sources.{LogLake, WireLog}
import graft.streaming.Streams

/** The reference pipeline: `wirelog` → `Streams.fromWire` → quarantine
  * filter → `loglake` stream sink, in two phases, each run on a fresh wire
  * directory and table.
  *
  *  - Catch-up: a pre-landed backlog drained with `maxSegmentsPerTrigger`
  *    (per-row cost), three times, the first to warm the JVM; the
  *    landing of the backlog is the set-up.
  *  - Steady: an open-loop generator appends one segment per tick at a
  *    fixed rate, stamping each record with the tick's due time, so a
  *    stall in the generator or the pipeline shows as freshness
  *    (per-epoch cost).
  */
object Ingest {
  val Machines = Array("M1", "M2", "M3")
  val Sensors = Array("temperature", "pressure", "vibration")
  val SchemaId = 1
  /** Share of frames the generator corrupts on purpose (quarantine path). */
  val BadShare = 0.01

  /** Catch-up phases. The first runs on a cold JVM and is verified but not
    * reported. */
  val CatchupPhases = 3
  val CatchupSegments = 6
  val CatchupRowsPerSegment = 40000
  val CatchupSegmentsPerTrigger = 1

  /** 20k rows/s, 50× the reference producer's pacing, in 500 ms ticks:
    * an epoch (~200 ms) then leaves the pipeline idle more than half the
    * time, so freshness measures epoch cost. At 250 ms ticks it ran at
    * ~75 % utilisation and a run on a 30 % slower machine saturated it,
    * doubling p50 — the figure measured the machine, not the code. */
  val TickMs = 500L
  val RowsPerTick = 10000
  /** Steady ticks before the measured window (the query's first epochs). */
  val WarmupMs = 2000L

  private val mUtf = Machines.map(UTF8String.fromString)
  private val sUtf = Sensors.map(UTF8String.fromString)

  /** Generator-side expectation: per-(machine, sensor) good-row counts
    * and reading checksums (sum of reading × 1e5, exact in a long), and
    * the malformed frames injected. */
  final class Tally {
    val count = new Array[Long](9)
    val sum = new Array[Long](9)
    var bad = 0L
    def good: Long = count.sum
    def add(o: Tally): Unit = synchronized {
      for (i <- 0 until 9) { count(i) += o.count(i); sum(i) += o.sum(i) }
      bad += o.bad
    }
  }

  /** One segment's records, seeded; `tStamp` is the records' epoch seconds. */
  def records(rng: SplittableRandom, n: Int, tStamp: Double, tally: Tally)
      : IndexedSeq[(String, Array[Byte])] =
    IndexedSeq.tabulate(n) { _ =>
      val m = rng.nextInt(3); val s = rng.nextInt(3)
      val r = rng.nextInt(10000000)
      val frame = AvroPlcCodec.encode(mUtf(m), sUtf(s), r / 1e5, tStamp, SchemaId)
      if (rng.nextDouble() < BadShare) {
        tally.bad += 1
        // half truncated, half with a wrong magic byte: both must quarantine
        if (rng.nextBoolean()) (Machines(m), frame.take(1 + rng.nextInt(frame.length - 1)))
        else { frame(0) = 1; (Machines(m), frame) }
      } else {
        tally.count(m * 3 + s) += 1; tally.sum(m * 3 + s) += r
        (Machines(m), frame)
      }
    }

  def start(spark: SparkSession, wire: String, lake: String, chk: String,
      maxSegs: Option[Int], trigger: Trigger): StreamingQuery = {
    val src = maxSegs.foldLeft(spark.readStream.format("wirelog"))(
      (r, n) => r.option("maxSegmentsPerTrigger", n.toLong)).load(wire)
    Streams.fromWire(src)
      .filter(col("decode_ok"))
      .select("machine_id", "sensor", "reading", "event_time")
      .writeStream.format("loglake")
      .option("path", lake)
      .option("checkpointLocation", chk)
      .trigger(trigger)
      .start()
  }

  /** Lake content and wire quarantine against the generator's tally;
    * returns the rows in the lake. */
  def verify(spark: SparkSession, wire: String, lake: String, tally: Tally,
      phase: String, res: Main.Result): Long = {
    val got = LogLake.snapshot(spark, lake)
      .groupBy("machine_id", "sensor")
      .agg(count(lit(1)).as("n"), sum(round(col("reading") * 1e5).cast("long")).as("cs"))
      .collect()
      .map(r => (Machines.indexOf(r.getString(0)) * 3 + Sensors.indexOf(r.getString(1))) ->
        (r.getLong(2), r.getLong(3)))
      .toMap
    val expect = (0 until 9).filter(tally.count(_) > 0)
      .map(i => i -> (tally.count(i), tally.sum(i))).toMap
    val landed = got.values.map(_._1).sum
    res.check(s"$phase: lake rows == good frames, exactly once", landed == tally.good)
    res.check(s"$phase: per-(machine, sensor) count and checksum", got == expect)
    val quarantined = Streams.fromWire(spark.read.format("wirelog").load(wire))
      .filter(!col("decode_ok")).count()
    res.check(s"$phase: quarantined frames == injected malformed frames", quarantined == tally.bad)
    landed
  }

  def run(seed: Long, seconds: Int, trace: Trace, work: Path, res: Main.Result): Unit = {
    val spark = Main.session("local[3]", 3, work)
    trace.install(spark)
    val rng = new SplittableRandom(seed)
    val drains = catchup(spark, rng, trace, work, res)
    val (queryId, measureFrom, measureTo, versions) = steady(spark, rng, seconds, trace, work, res)
    if (trace.enabled) {
      val steadyEpochs = trace.epochs.filter(_._2.queryId == queryId)
      trace.streamMetrics("ingest", steadyEpochs.filter { case (s, _) =>
        s >= trace.wallMsToNs(measureFrom) && s < trace.wallMsToNs(measureTo) }, 3, res.metrics)
      trace.streamMetrics("catchup", trace.epochs.filter { case (s, _) =>
        drains.exists { case (a, b) => s >= a && s < b } }, 3, res.metrics)
      res.metrics("ingest.commits_per_epoch") = versions.toDouble / math.max(1, steadyEpochs.size)
    }
  }

  /** Lands and drains the catch-up backlogs; returns the measured drains'
    * (start, end) nanoTimes. */
  private def catchup(spark: SparkSession, rng: SplittableRandom, trace: Trace,
      work: Path, res: Main.Result): Seq[(Long, Long)] = {
    val setupMs = ArrayBuffer[Double]()
    val drainMs = ArrayBuffer[Double]()
    val rowsPerS = ArrayBuffer[Double]()
    val drains = ArrayBuffer[(Long, Long)]()
    for (k <- 0 until CatchupPhases) {
      val dir = work.resolve(s"catchup-$k").toString
      val (wire, lake) = (s"$dir/wire", s"$dir/lake")
      val tally = new Tally
      val phaseRng = rng.split()
      res.ops.run(s"catchup-$k") {
        val landMs = trace.timed("setup.land_backlog", s"catchup-$k") {
          for (i <- 0 until CatchupSegments) {
            val recs = trace.timed("expressions.AvroPlc.encode", s"catchup-$k") {
              records(phaseRng, CatchupRowsPerSegment, 1.7e9 + i, tally)
            }._1
            trace.timed("sources.WireLog.append", s"catchup-$k")(WireLog.append(wire, recs))
          }
        }._2
        val t0 = System.nanoTime()
        val ms = trace.timed("streaming.catchup_drain", s"catchup-$k") {
          val q = start(spark, wire, lake, s"$dir/chk", Some(CatchupSegmentsPerTrigger),
            Trigger.AvailableNow())
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }._2
        System.err.println(f"[perfbench] catch-up $k%d: landed in $landMs%.0f ms, " +
          f"drained ${tally.good}%d rows in $ms%.0f ms")
        if (k > 0) {
          setupMs += landMs; drainMs += ms
          rowsPerS += tally.good / (ms / 1000.0)
          drains += ((t0, System.nanoTime()))
        }
        verify(spark, wire, lake, tally, s"catchup-$k", res)
        res.mem.sample()
      }
    }
    if (setupMs.nonEmpty) {
      res.metrics("setup_s") = Stats.median(setupMs.toSeq) / 1000.0
      res.metrics("catchup.drain_p50_ms") = Stats.median(drainMs.toSeq)
      res.metrics("ingest.catchup_rows_per_s") = Stats.median(rowsPerS.toSeq)
    }
    drains.toSeq
  }

  /** The open-loop phase; returns the query id, the measured window of
    * due times (wall ms) and the table's final version. */
  private def steady(spark: SparkSession, rng: SplittableRandom, seconds: Int,
      trace: Trace, work: Path, res: Main.Result): (String, Long, Long, Long) = {
    val dir = work.resolve("steady").toString
    val (wire, lake) = (s"$dir/wire", s"$dir/lake")
    val q = start(spark, wire, lake, s"$dir/chk", None, Trigger.ProcessingTime(0L))
    val tally = new Tally
    val genRng = rng.split()
    val nTicks = ((WarmupMs + seconds * 1000L) / TickMs).toInt
    val lagMs = new Array[Double](nTicks)
    val backlog = new Array[Long](nTicks)
    val writeMs = ArrayBuffer[Double]()
    val appendMs = ArrayBuffer[Double]()
    val encodeUsPerRow = ArrayBuffer[Double]()
    def committedSeg(): Long = Option(q.lastProgress)
      .flatMap(p => """-?\d+""".r.findFirstIn(p.sources.head.endOffset)).map(_.toLong)
      .getOrElse(0L)
    // due times on the wall clock (they become the rows' t_stamp), lateness
    // on the monotonic clock
    val t0 = System.currentTimeMillis() + 500L
    val t0Ns = System.nanoTime() + 500L * 1000000L
    val gen = new Thread(() => {
      for (i <- 0 until nTicks) {
        val due = t0 + i * TickMs
        val dueNs = t0Ns + i * TickMs * 1000000L
        // the schedule never waits for the pipeline: a late tick runs at
        // once and keeps its due time
        val waitNs = dueNs - System.nanoTime()
        if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
        lagMs(i) = (System.nanoTime() - dueNs) / 1e6
        backlog(i) = i - committedSeg()
        res.ops.run(s"tick-$i") {
          val t = new Tally
          val (recs, encMs) = trace.timed("expressions.AvroPlc.encode", s"tick-$i") {
            records(genRng, RowsPerTick, due / 1000.0, t)
          }
          val (_, apMs) = trace.timed("sources.WireLog.append", s"tick-$i")(WireLog.append(wire, recs))
          tally.add(t)
          if (i * TickMs >= WarmupMs) {
            writeMs += encMs + apMs; appendMs += apMs
            encodeUsPerRow += encMs * 1000.0 / RowsPerTick
          }
        }
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    trace.timed("streaming.steady_drain", "steady")(q.processAllAvailable())
    res.mem.sample()
    q.stop()
    q.exception.foreach(e => throw e)
    val (measureFrom, measureTo) = (t0 + WarmupMs, t0 + nTicks * TickMs)

    // freshness: lake commit time minus the tick's due time. Every row of a
    // tick shares both (a segment lands in one epoch), so a tick is one
    // sample.
    val v = LogLake.currentVersion(lake)
    val r0 = System.nanoTime()
    val (feed, buildMs) = trace.timed("sources.LogLake.changeFeed", "readback")(
      LogLake.changeFeed(spark, lake, 0L, v))
    val perTick = feed.groupBy(col("event_time"), col("_commit_timestamp")).count()
    val (optMs, planMs) = trace.catalyst(perTick, "readback")
    val (cells, execMs) = trace.timed("readback.collect", "readback") {
      perTick.collect()
        .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime, r.getLong(2)))
    }
    val readWin = trace.window(r0, System.nanoTime())
    val ticks = cells.filter { case (due, _, _) => due >= measureFrom && due < measureTo }
      .groupBy(_._1).map { case (due, cs) => (cs.map(_._2).max - due).toDouble }.toSeq
    val measuredTicks = (0 until nTicks).count(_ * TickMs >= WarmupMs)
    res.check("steady: every tick of the measured window landed", ticks.size == measuredTicks)
    if (ticks.nonEmpty) {
      res.metrics("ingest.freshness_p50_ms") = Stats.quantile(ticks, 0.5)
      res.metrics("ingest.freshness_p90_ms") = Stats.quantile(ticks, 0.9)
    }
    res.metrics("ingest.freshness_ticks") = ticks.size
    res.metrics("readback.build_ms") = buildMs
    res.metrics("readback.exec_ms") = execMs
    res.metrics("readback.optimize_ms") = optMs
    res.metrics("readback.plan_ms") = planMs
    if (trace.enabled) {
      res.metrics("readback.jobs") = readWin.jobs
      res.metrics("readback.tracker_analysis_ms") = readWin.analysisMs
      res.metrics("readback.tracker_optimization_ms") = readWin.optimizationMs
      res.metrics("readback.tracker_planning_ms") = readWin.planningMs
    }
    val landed = verify(spark, wire, lake, tally, "steady", res)
    res.metrics("ingest.landed_share") = landed.toDouble / math.max(1L, tally.good)

    // open-loop honesty: the generator kept its schedule, the backlog held
    val lagMax = lagMs.max
    res.metrics("gen.lag_max_ms") = lagMax
    res.check("steady: generator never ran more than one tick late", lagMax <= TickMs)
    val inWindow = (0 until nTicks).filter(_ * TickMs >= WarmupMs).map(backlog(_).toDouble)
    val quarter = math.max(1, inWindow.size / 4)
    val grew = Stats.median(inWindow.takeRight(quarter)) - Stats.median(inWindow.take(quarter))
    res.metrics("ingest.backlog_growth_segments") = grew
    res.check("steady: backlog did not grow across the measured window", grew <= 2.0)
    if (writeMs.nonEmpty) {
      res.metrics("gen.write_p50_ms") = Stats.median(writeMs.toSeq)
      res.metrics("gen.append_p50_ms") = Stats.median(appendMs.toSeq)
      res.metrics("gen.encode_us_per_row") = Stats.median(encodeUsPerRow.toSeq)
    }

    // storage cost of the table, and what resolving it costs
    val resolveMs = (0 until 5).map(_ =>
      trace.timed("sources.LogLake.activeState", "lake")(LogLake.activeState(lake))._2)
    val (files, _) = LogLake.activeState(lake)
    res.metrics("ingest.lake_resolve_p50_ms") = Stats.median(resolveMs)
    res.metrics("ingest.lake_versions") = v.toDouble
    res.metrics("ingest.lake_files_end") = files.size
    res.metrics("ingest.lake_bytes_per_row") =
      files.map(_.bytes).sum.toDouble / math.max(1L, files.map(_.rows).sum)
    res.metrics("ingest.wire_segments_end") = WireLog.listSegments(wire).size
    (q.id.toString, measureFrom, measureTo, v)
  }
}
