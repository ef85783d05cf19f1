package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, AnnLake}
import graft.sources.LogLake

/** The LLM-data-prep loop over a persisted ANN index: a closed loop of
  * epochs, each a corpus write (append perturbed vectors, merge-on-read
  * delete of live ones), one `maintainStream` AvailableNow drain that
  * carries the corpus change feed into the six index tables, and one
  * search for fixed query vectors. MERGE, change-feed reads, snapshot
  * resolves and many small jobs dominate it; the index build over the
  * seeded corpus is the set-up. */
object AnnMaintain {
  val CorpusSize = 2000
  val Dim = 64
  val Clusters = 40
  val Spread = 1.5
  val AppendPerEpoch = 100
  val DeletePerEpoch = 30
  val QueryCount = 20
  /** Index builds on fresh directories; the first runs on a cold JVM and
    * is not reported. */
  val SetupRepeats = 3
  /** Epochs before the measured loop (first run of each plan shape). Epochs
    * keep getting faster for a few more as the JIT warms (about 13, 11, 9.5
    * and 9 s for the first four on a 4-core VM), but a run has no time for
    * more: the measured epochs are the second and later, the same ones in
    * every run. */
  val WarmupEpochs = 1
  /** Measured epochs: one per this many seconds of --seconds, at least one.
    * A fixed count, not a deadline, so every run of a seed measures the same
    * epochs however fast the machine is. */
  val SecondsPerEpoch = 8
  /** recall@5 below this fails the run. */
  val RecallFloor = 0.6

  private val IndexTables = Seq("books1", "books2", "rescb", "postings", "codes", "cells")

  private def gauss(rng: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (SplittableRandom has no nextGaussian)
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }
  private def near(rng: SplittableRandom, c: Array[Float], spread: Double): Array[Float] =
    c.map(x => (x + spread * gauss(rng)).toFloat)

  def run(seed: Long, seconds: Int, trace: Trace, work: Path, res: Main.Result): Unit = {
    val spark = Main.session("local[4]", 4, work)
    import spark.implicits._
    trace.install(spark)
    val rng = new SplittableRandom(seed)
    val centers = Array.fill(Clusters)(Array.fill(Dim)(gauss(rng).toFloat))
    val live = mutable.LinkedHashMap[Long, Array[Float]]()
    (0 until CorpusSize).foreach(i =>
      live(i.toLong) = near(rng, centers(rng.nextInt(Clusters)), Spread))
    val queries = (0 until QueryCount)
      .map(i => (1000000L + i, near(rng, centers(rng.nextInt(Clusters)), Spread)))
      .toDF("vec_id", "embedding")
    def frame(rows: Seq[(Long, Array[Float])]): DataFrame = rows.toDF("vec_id", "embedding")

    // ---- set-up: the index build over the corpus, repeated on fresh
    // directories; the last index is the one maintained
    val corpus = work.resolve("ann-corpus").toString
    LogLake.create(spark, corpus, frame(live.toSeq))
    LogLake.setTableProperties(corpus, Map("loglake.enableChangeDataFeed" -> "true"))
    val setupMs = ArrayBuffer[Double]()
    var root = ""
    for (k <- 0 until SetupRepeats) {
      root = work.resolve(s"ann-index-$k").toString
      res.ops.run(s"setup-$k") {
        val ms = trace.timed("setup.build_index", s"setup-$k")(
          AnnLake.buildIndex(spark, root, LogLake.snapshot(spark, corpus)))._2
        if (k > 0) setupMs += ms
      }
    }
    require(setupMs.size == SetupRepeats - 1, "index set-up failed")
    res.metrics("setup_s") = Stats.median(setupMs.toSeq) / 1000.0
    val vBuild = LogLake.currentVersion(corpus)
    val chk = work.resolve("ann-maintain-chk").toString
    def indexVersions(): Long = IndexTables.map(t => LogLake.currentVersion(s"$root/$t")).sum

    final case class Epoch(writeMs: Double, appendMs: Double, deleteMs: Double,
        maintainMs: Double, searchBuildMs: Double, searchExecMs: Double,
        optimizeMs: Double, planMs: Double, resolveMs: Double, commits: Long,
        maintainWin: (Long, Long), searchWin: (Long, Long))
    val epochs = ArrayBuffer[Epoch]()
    val erased = mutable.Set[Long]()
    var nextId = CorpusSize.toLong
    var e = 0
    while (e < WarmupEpochs + math.max(1, seconds / SecondsPerEpoch)) {
      val op = s"epoch-$e"
      // 1. corpus write: perturbed copies of live vectors, then a DV delete
      val ids = live.keys.toIndexedSeq
      val adds = (0 until AppendPerEpoch).map { _ =>
        nextId += 1
        (nextId, near(rng, live(ids(rng.nextInt(ids.size))), Spread / 4))
      }
      val dels = rng.ints(0, ids.size).distinct().limit(DeletePerEpoch).toArray.map(ids(_)).toSeq
      val write = res.ops.run(s"write-$e") {
        trace.timed("corpus.write", op) {
          val a = trace.timed("sources.LogLake.append", op)(LogLake.append(spark, corpus, frame(adds)))._2
          val d = trace.timed("sources.LogLake.delete", op)(
            LogLake.delete(spark, corpus, col("vec_id").isin(dels: _*), mor = true))._2
          (a, d)
        }._1
      }
      if (write.isDefined) {
        adds.foreach { case (id, v) => live(id) = v }
        dels.foreach { id => live.remove(id); erased += id }
      }
      // 2. one maintenance drain
      val v0 = indexVersions()
      val m0 = System.nanoTime()
      val maintain = res.ops.run(s"maintain-$e") {
        trace.timed("ops.AnnLake.maintainStream", op) {
          val q = AnnLake.maintainStream(spark, corpus, root, chk, vBuild)
          q.awaitTermination()
          q.exception.foreach(ex => throw ex)
        }._2
      }
      val m1 = System.nanoTime()
      val commits = indexVersions() - v0
      // 3. one search for the fixed queries
      val s0 = System.nanoTime()
      val search = res.ops.run(s"search-$e") {
        val (df, buildMs) = trace.timed("ops.AnnLake.searchIndex", op)(AnnLake.searchIndex(spark, root, queries))
        val (optMs, planMs) = trace.catalyst(df, op)
        val (rows, execMs) = trace.timed("search.collect", op)(df.collect())
        (rows, buildMs, execMs, optMs, planMs)
      }
      val s1 = System.nanoTime()
      val (_, resolveMs) = trace.timed("sources.LogLake.activeState", op)(
        IndexTables.foreach(t => LogLake.activeState(s"$root/$t")))

      // correctness, outside the timed calls
      val post = LogLake.snapshot(spark, s"$root/postings")
        .agg(count(lit(1)), count(when(col("vec_id").isin(erased.toSeq: _*), 1))).first()
      val nCorpus = LogLake.snapshot(spark, corpus).count()
      val nCells = LogLake.snapshot(spark, s"$root/cells").agg(sum("cnt")).first().getLong(0)
      res.check("ann: postings == live corpus == sum(cells.cnt)",
        post.getLong(0) == live.size && nCorpus == live.size && nCells == live.size)
      res.check("ann: erased ids absent from postings", post.getLong(1) == 0L)
      res.check("ann: six index commits per epoch", maintain.isEmpty || commits == 6)
      search.foreach { case (rows, _, _, _, _) =>
        res.check("ann: k neighbours per query, none erased",
          rows.length == QueryCount * AnnIndex.K && !rows.exists(r => erased(r.getLong(2))))
      }
      res.mem.sample()
      System.err.println(f"[perfbench] epoch $e%d write ${write.map(w => w._1 + w._2).getOrElse(-1.0)}%.0f ms, " +
        f"maintain ${maintain.getOrElse(-1.0)}%.0f ms, search ${(s1 - s0) / 1e6}%.0f ms")
      for ((aMs, dMs) <- write; mMs <- maintain; (_, bMs, xMs, oMs, pMs) <- search
           if e >= WarmupEpochs)
        epochs += Epoch(aMs + dMs, aMs, dMs, mMs, bMs, xMs, oMs, pMs, resolveMs, commits,
          (m0, m1), (s0, s1))
      e += 1
    }

    val recall = trace.timed("ops.AnnLake.recallAt", "recall")(
      AnnLake.recallAt(spark, root, LogLake.snapshot(spark, corpus), queries))._1
    res.metrics("ann.recall_at_5") = recall
    res.check(s"ann: recall@5 >= $RecallFloor", recall >= RecallFloor)

    def med(f: Epoch => Double): Double = Stats.median(epochs.toSeq.map(f))
    def searchMs(x: Epoch): Double = x.searchBuildMs + x.optimizeMs + x.planMs + x.searchExecMs
    def epochMs(x: Epoch): Double = x.writeMs + x.maintainMs + searchMs(x)
    if (epochs.nonEmpty) {
      res.metrics("ann.epochs") = epochs.size
      res.metrics("ann.epoch_p50_ms") = med(epochMs)
      res.metrics("ann.changes_per_s") =
        (AppendPerEpoch + DeletePerEpoch) * epochs.size / (epochs.map(epochMs).sum / 1000.0)
      res.metrics("ann.write_p50_ms") = med(_.writeMs)
      res.metrics("ann.maintain_p50_ms") = med(_.maintainMs)
      res.metrics("ann.search_p50_ms") = med(searchMs)
      res.metrics("ann.corpus_append_p50_ms") = med(_.appendMs)
      res.metrics("ann.corpus_delete_p50_ms") = med(_.deleteMs)
      res.metrics("ann.maintain_commits") = med(_.commits.toDouble)
      res.metrics("ann.snapshot_resolve_p50_ms") = med(_.resolveMs)
      res.metrics("ann.search_build_p50_ms") = med(_.searchBuildMs)
      res.metrics("ann.search_exec_p50_ms") = med(_.searchExecMs)
      res.metrics("ann.search_optimize_p50_ms") = med(_.optimizeMs)
      res.metrics("ann.search_plan_p50_ms") = med(_.planMs)
    }
    val index = IndexTables.map(t => LogLake.activeState(s"$root/$t")._1)
    res.metrics("ann.index_versions_end") = indexVersions().toDouble
    res.metrics("ann.index_files_end") = index.map(_.size).sum
    res.metrics("ann.index_bytes_per_row") =
      index.flatten.map(_.bytes).sum.toDouble / math.max(1, live.size)
    if (trace.enabled && epochs.nonEmpty) {
      val inMaintain = trace.epochs.filter { case (s, _) =>
        epochs.exists(x => s >= x.maintainWin._1 && s < x.maintainWin._2) }
      trace.streamMetrics("ann.maintain", inMaintain, 4, res.metrics)
      val mw = epochs.toSeq.map(x => trace.window(x.maintainWin._1, x.maintainWin._2) -> x.maintainMs)
      val sw = epochs.toSeq.map(x => trace.window(x.searchWin._1, x.searchWin._2))
      res.metrics("ann.maintain_jobs_p50") = Stats.median(mw.map(_._1.jobs.toDouble))
      res.metrics("ann.maintain_driver_gap_share") =
        1.0 - mw.map(_._1.jobBusyMs).sum / mw.map(_._2).sum
      res.metrics("ann.maintain_task_busy_share") = mw.map(_._1.taskRunMs).sum / (4 * mw.map(_._2).sum)
      res.metrics("ann.maintain_shuffle_bytes") = Stats.median(mw.map(_._1.shuffleBytes.toDouble))
      res.metrics("ann.search_jobs_p50") = Stats.median(sw.map(_.jobs.toDouble))
      res.metrics("ann.search_tracker_analysis_ms") = Stats.median(sw.map(_.analysisMs))
      res.metrics("ann.search_tracker_optimization_ms") = Stats.median(sw.map(_.optimizationMs))
      res.metrics("ann.search_tracker_planning_ms") = Stats.median(sw.map(_.planningMs))
    }
  }
}
