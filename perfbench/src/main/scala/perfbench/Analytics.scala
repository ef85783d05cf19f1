package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The control: one client running a closed loop of passes over four
  * registry queries that have a DuckDB oracle and never touch `LogLake`:
  * the Avro wire codec (q76) and the operator kernels RankPick (q49),
  * MinHash (q42) and the native as-of join (q78). Set-up generates the seeded tables the queries read, in the
  * fixture schemas at about a tenth of the sf0.1 sizes. The first pass is
  * the warm-up and writes each result as parquet for the oracle compare
  * that `run.py` makes after the JVM exits; measured passes evaluate each
  * query through the noop sink, clearing the cache after each. */
object Analytics {
  val Queries = Seq(
    "q76_avro_wire", "q49_percentile_disc", "q42_ngram_jaccard",
    "q78_interp_resample")

  val OrderKeys = 15000
  val LineItems = 60000
  val Events = 10000
  val Users = 150
  val Documents = 500
  /** Input rows one pass scans: lineitem (q49), events twice (q76, q78),
    * documents (q42). */
  val ScannedRows: Double = LineItems + 2 * Events + Documents
  /** Share of documents that copy an earlier one with a few words changed,
    * so the near-duplicate queries have pairs to find. */
  val DupShare = 0.15

  /** Table generations: the first on a cold JVM, the rest reported. */
  val SetupRepeats = 3
  /** Measured passes: one per this many seconds of --seconds, at least one.
    * A fixed count, not a deadline, so every run of a seed measures the same
    * passes however fast the machine is. */
  val SecondsPerPass = 6

  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val Langs = Array("en", "de", "fr", "es", "zh")
  private val Vocab = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(" ")

  private def money(rng: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0
  private def pick[T](rng: SplittableRandom, xs: Array[T]): T = xs(rng.nextInt(xs.length))
  private val Day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Ts0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** The seeded tables the queries read, as (name, schema, rows).
    * Timestamps are zone-less, as in the fixtures. */
  def tables(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    val rng = new SplittableRandom(seed)
    val lineitem = (0 until LineItems).map { i =>
      val qty = (1 + rng.nextInt(50)).toDouble
      Row(rng.nextInt(OrderKeys).toLong, rng.nextInt(2000).toLong, rng.nextInt(100).toLong,
        1 + i % 7, qty, math.round(qty * (900 + rng.nextInt(1000) / 10.0) * 100) / 100.0,
        rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0, pick(rng, Array("A", "N", "R")),
        pick(rng, Array("F", "O")), Day0.plusDays(rng.nextInt(2500)))
    }
    val events = (0 until Events).map(i => Row(i.toLong,
      Ts0.plusNanos(rng.nextLong(30L * 86400L * 1000000L) * 1000L),
      rng.nextInt(Users).toLong, pick(rng, EventTypes), money(rng, 0.01, 490),
      s"""{"k": ${rng.nextInt(100)}}"""))
    val texts = ArrayBuffer[Array[String]]()
    (0 until Documents).foreach { i =>
      texts += (if (i > 10 && rng.nextDouble() < DupShare) {
        val w = texts(rng.nextInt(i)).clone()
        (0 until 1 + rng.nextInt(3)).foreach(_ => w(rng.nextInt(w.length)) = pick(rng, Vocab))
        w
      } else Array.fill(10 + rng.nextInt(90))(pick(rng, Vocab)))
    }
    val documents = texts.zipWithIndex.map { case (w, i) =>
      val text = w.mkString(" ")
      Row(i.toLong, text, pick(rng, Langs), s"src${rng.nextInt(20)}", text.length.toLong)
    }.toSeq
    Seq(
      ("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType), lineitem),
      ("events", schema("event_id" -> LongType, "ts" -> TimestampNTZType,
        "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType), events),
      ("documents", schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), documents))
  }

  /** Generates and writes the tables under `dir` (one parquet file each);
    * returns each table's write milliseconds. */
  def writeTables(spark: SparkSession, seed: Long, dir: String, trace: Trace,
      op: String): Seq[Double] =
    tables(seed).map { case (name, sch, rows) =>
      trace.timed("setup.write_table", op)(
        spark.createDataFrame(rows.asJava, sch).coalesce(1)
          .write.parquet(s"$dir/$name.parquet"))._2
    }

  def run(seed: Long, seconds: Int, trace: Trace, work: Path, res: Main.Result): Unit = {
    val spark = Main.session("local[4]", 4, work)
    trace.install(spark)

    // ---- set-up: the seeded tables, generated and written again on fresh
    // directories; the first run is on a cold JVM and not reported
    val setupMs = ArrayBuffer[Double]()
    val writeMs = ArrayBuffer[Double]()
    var dir = ""
    for (k <- 0 until SetupRepeats) {
      dir = work.resolve(s"data-$k").toString
      res.ops.run(s"setup-$k") {
        val (ws, ms) = trace.timed("setup.tables", s"setup-$k")(
          writeTables(spark, seed, dir, trace, s"setup-$k"))
        if (k > 0) { setupMs += ms; writeMs ++= ws }
      }
    }
    require(setupMs.size == SetupRepeats - 1, "table set-up failed")
    res.metrics("setup_s") = Stats.median(setupMs.toSeq) / 1000.0
    res.metrics("analytics.table_write_p50_ms") = Stats.median(writeMs.toSeq)

    // ---- the loop: pass 0 is the warm-up and writes results for the
    // oracle compare; the rest run through the noop sink
    val out = work.resolve("results")
    final case class Pass(ms: Double, buildMs: Double, execMs: Double, clearMs: Double,
        perQuery: Seq[Double], win: (Long, Long))
    val passes = ArrayBuffer[Pass]()
    var p = 0
    while (p < 1 + math.max(1, seconds / SecondsPerPass)) {
      val op = s"pass-$p"
      val t0 = System.nanoTime()
      // per query: build, execute and clear-cache milliseconds
      val qs = Queries.map { name =>
        val bx = res.ops.run(s"$op-$name") {
          val (df, b) = trace.timed("analytics.build", op)(SparkEntry.queries(name)(spark, dir))
          val (_, x) = trace.timed(s"analytics.$name", op) {
            if (p == 0) df.coalesce(1).write.parquet(out.resolve(name).toString)
            else df.write.format("noop").mode("overwrite").save()
          }
          (b, x)
        }
        val c = trace.timed("analytics.clear_cache", op)(spark.catalog.clearCache())._2
        bx.map { case (b, x) => (b, x, c) }
      }
      val t1 = System.nanoTime()
      res.mem.sample()
      if (qs.forall(_.isDefined)) {
        val bxc = qs.flatten
        if (p == 0) {
          res.metrics("analytics.warmup_exec_ms") = bxc.map(_._2).sum
          res.metrics("analytics.result_write_p50_ms") = Stats.median(bxc.map(_._2))
        } else passes += Pass((t1 - t0) / 1e6, bxc.map(_._1).sum, bxc.map(_._2).sum,
          bxc.map(_._3).sum, bxc.map { case (b, x, _) => b + x }, (t0, t1))
      }
      p += 1
    }
    writeOracle(dir, out)

    if (passes.nonEmpty) {
      val ps = passes.toSeq
      res.metrics("analytics.passes") = ps.size
      res.metrics("analytics.pass_p50_ms") = Stats.median(ps.map(_.ms))
      res.metrics("analytics.queries_per_s") = Queries.size * ps.size / (ps.map(_.ms).sum / 1000.0)
      res.metrics("analytics.build_p50_ms") = Stats.median(ps.map(_.buildMs))
      res.metrics("analytics.exec_p50_ms") = Stats.median(ps.map(_.execMs))
      res.metrics("analytics.exec_ms_per_mrow") =
        Stats.median(ps.map(_.execMs)) / (ScannedRows / 1e6)
      res.metrics("analytics.build_per_query_ms") = Stats.median(ps.map(_.buildMs)) / Queries.size
      res.metrics("analytics.clear_cache_ms") = Stats.median(ps.map(_.clearMs))
      Queries.zipWithIndex.foreach { case (name, i) =>
        res.metrics(s"analytics.q.${name}_s") = Stats.median(ps.map(_.perQuery(i))) / 1000.0
      }
      if (trace.enabled) {
        val ws = ps.map(x => trace.window(x.win._1, x.win._2) -> x.ms)
        val wall = ws.map(_._2).sum
        def med(f: Trace.Window => Double): Double = Stats.median(ws.map(w => f(w._1)))
        res.metrics("analytics.jobs_per_pass") = med(_.jobs.toDouble)
        res.metrics("analytics.jobs_per_query") = med(_.jobs.toDouble) / Queries.size
        res.metrics("analytics.driver_gap_share") = 1.0 - ws.map(_._1.jobBusyMs).sum / wall
        res.metrics("analytics.task_busy_share") = ws.map(_._1.taskRunMs).sum / (4 * wall)
        res.metrics("analytics.shuffle_bytes") = med(_.shuffleBytes.toDouble)
        res.metrics("analytics.shuffle_bytes_per_query") = med(_.shuffleBytes.toDouble) / Queries.size
        res.metrics("analytics.spill_bytes") = med(_.spillBytes.toDouble)
        res.metrics("analytics.analysis_ms") = med(_.analysisMs)
        res.metrics("analytics.optimization_ms") = med(_.optimizationMs)
        res.metrics("analytics.planning_ms") = med(_.planningMs)
      }
    }
    // the control makes no streaming query and no LogLake call: the
    // streaming and table-format layers' counts are zero here
    res.metrics("none") = 0.0
  }

  /** The oracle side of the compare: the data directory and each query's
    * DuckDB SQL, next to the results. */
  private def writeOracle(dir: String, out: Path): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sql = Queries.map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}").mkString(",")
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle.json"), s"""{"data": ${q(dir)}, "sql": {$sql}}""")
  }
}
