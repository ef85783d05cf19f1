package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{LogLake, WireLog}
import graft.streaming.Streams

/** Streaming epochs launch no subprocess. Every epoch writes its offset
  * log and commit log (and a stateful query its state-store files)
  * through Hadoop's FileContext; on `file:` without libhadoop, Hadoop's
  * own LocalFs forks `chmod` per created file and `readlink` per rename
  * side, ~10 forks an epoch. A JFR `jdk.ProcessStart` recording counts
  * them: a count, not a timing. */
class ForkFreeStreamingSpec extends SparkTestBase {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"forkfree-$name").toString

  private def readings(from: Int, until: Int): DataFrame =
    spark.range(from, until).select(
      concat(lit("M"), (col("id") % 3 + 1)).as("machine_id"),
      element_at(array(lit("temperature"), lit("pressure"), lit("vibration")),
        (col("id") % 3 + 1).cast("int")).as("sensor"),
      (col("id") * 1.5 + 0.25).as("reading"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("event_time"))

  private def produce(dir: String, df: DataFrame): Unit =
    WireLog.append(dir, Streams.toWire(df).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toSeq)

  /** Runs `body` under a recording of process starts with stack traces. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("forkfree", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def describe(e: RecordedEvent): String = {
    val frames = Option(e.getStackTrace).map(_.getFrames.asScala.take(12)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")).getOrElse(Nil)
    s"[${e.getThread.getJavaName}] ${e.getString("command")} <- ${frames.mkString(" <- ")}"
  }

  /** Launched by streaming execution: on the micro-batch thread, or from
    * streaming code on any thread (state-store commits run in tasks). */
  private def streaming(e: RecordedEvent): Boolean =
    Option(e.getThread).exists(_.getJavaName.startsWith("stream execution thread")) ||
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.spark.sql.execution.streaming")))

  test("wirelog → loglake epochs and a stateful query fork no subprocess") {
    val in = tmp("in"); val lake = tmp("lake"); val counts = tmp("counts")
    (0 until 3).foreach(i => produce(in, readings(i * 100, (i + 1) * 100)))

    var epochs = 0
    val events = processStarts {
      // one wire segment per epoch: three epochs, three sink commits
      val q = Streams.fromWire(spark.readStream.format("wirelog")
          .option("maxSegmentsPerTrigger", "1").load(in))
        .filter(col("decode_ok"))
        .select("machine_id", "sensor", "reading", "event_time")
        .writeStream.format("loglake")
        .option("path", lake).option("checkpointLocation", tmp("chk"))
        .start()
      try q.processAllAvailable() finally q.stop()
      epochs = q.recentProgress.count(_.numInputRows > 0)

      // stateful: the aggregation's state store writes its delta files
      val agg = Streams.fromWire(spark.readStream.format("wirelog").load(in))
        .filter(col("decode_ok"))
        .groupBy("sensor").agg(count(lit(1)).as("n"))
        .writeStream.format("loglake").outputMode("complete")
        .option("path", counts).option("checkpointLocation", tmp("agg-chk"))
        .start()
      try agg.processAllAvailable() finally agg.stop()

      // control: the recording does see a process start in this JVM
      new ProcessBuilder("true").start().waitFor()
    }

    assert(epochs >= 3, s"fixture: expected ≥3 non-empty epochs, got $epochs")
    assert(LogLake.currentVersion(lake) >= 3L)
    assert(spark.read.format("loglake").load(lake).count() == 300L)
    assert(spark.read.format("loglake").load(counts).select("n").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq == Seq(100L, 100L, 100L))
    assert(events.exists(_.getString("command") == "true"),
      "the control process start was not recorded")

    val forked = events.filter(streaming)
    assert(forked.isEmpty,
      s"${forked.size} subprocess launches from streaming execution:\n" +
        forked.take(10).map(describe).mkString("\n"))
  }
}
