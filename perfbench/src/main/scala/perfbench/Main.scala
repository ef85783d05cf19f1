package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: `Main <workload> <seed> <seconds> <trace 0|1> <workdir>`.
  *
  * Runs one workload against the engine's public API and prints one line
  * `PERFBENCH {...}` with the raw metrics (name → value), the operation
  * counts and whether every correctness check passed. `perfbench/run.py`
  * builds this program, launches it and maps the raw metrics onto the
  * names `BENCHMARK.json` declares. */
object Main {

  /** What a workload hands back. `metrics` carries every measurement by
    * its raw name; `checks` every correctness condition, by name. */
  final class Result {
    val metrics = mutable.LinkedHashMap[String, Double]()
    val checks = mutable.LinkedHashMap[String, Boolean]()
    val ops = new Ops
    val mem = new Mem
    def check(name: String, ok: Boolean): Unit = {
      checks(name) = checks.getOrElse(name, true) && ok
      if (!ok) System.err.println(s"[perfbench] CHECK FAILED: $name")
    }
  }

  def session(master: String, cores: Int, work: Path): SparkSession = {
    val spark = graft.Sessions.builder(master, cores)
      // keep every file the engine writes inside the benchmark's work dir
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.loglake.warehouse", work.resolve("loglake-wh").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("chk-default").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toInt, new Trace(traceS == "1"))
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)
    val result = new Result
    val started = try {
      workload match {
        case "ingest" => Ingest.run(seed, seconds, trace, work, result)
        case "ann_maintain" => AnnMaintain.run(seed, seconds, trace, work, result)
        case "analytics" => Analytics.run(seed, seconds, trace, work, result)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      true
    } catch {
      case e: Throwable =>
        // a workload that cannot start still reports what it attempted
        e.printStackTrace()
        result.ops.attempted = math.max(1L, result.ops.attempted)
        result.ops.failed = math.max(1L, result.ops.failed)
        result.check("workload completed", ok = false)
        false
    }
    result.metrics("peak_live_mb") = result.mem.peakMb
    result.metrics("fail_ratio") =
      result.ops.failed.toDouble / math.max(1L, result.ops.attempted)
    if (trace.enabled) {
      trace.writeSpans(work.resolve(s"trace/$workload-$seed.spans.jsonl"))
      trace.selfTimes.toSeq.sortBy(_._1).foreach { case (name, (n, self)) =>
        result.metrics(s"self.$name.ms") = self
        result.metrics(s"self.$name.calls") = n.toDouble
      }
    }
    result.ops.errors.foreach(e => System.err.println(s"[perfbench] failed op: $e"))
    val correct = started && result.checks.values.forall(identity)
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    val metricsJson = result.metrics.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
    val checksJson = result.checks.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""PERFBENCH {"workload":"$workload","correct":$correct,""" +
      s""""attempted":${result.ops.attempted},"failed":${result.ops.failed},""" +
      s""""checks":{$checksJson},"metrics":{$metricsJson}}""")
    System.out.flush()
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(if (started) 0 else 1)
  }
}
