package graft

/** Results must be independent of physical parallelism: the same query
  * at 2 vs 7 shuffle partitions (co-prime, so every hash boundary
  * moves) must produce byte-identical ordered rows. This is the
  * cluster-resize / AQE-replan safety property the determinism contract
  * (exact decimal sums, total ORDER BY, engine-stable hashing) exists
  * to provide — checked here on the queries whose shapes are most
  * partition-sensitive: salted aggregation, window sorts, iterative
  * label propagation, max_by compaction, exact statistics. The same
  * holds for memory pressure: a window or join whose buffers spill to
  * disk must return the rows it returns in memory.
  */
class PartitionInvarianceSpec extends SparkTestBase {

  private val sensitive = Seq(
    "q28_salted_agg",      // salt spreads groups across partitions
    "q49_percentile_disc", // window sort + broadcast counts
    "q85_contamination",   // persisted shingle index, multi-branch
    "q87_salted_join",     // salted join + derived-session conf
    "q90_scd2_merge",      // full-outer join + generate
    "q91_cdc_compact",     // max_by partial aggregation
    "q95_corr_covar",      // decimal sufficient statistics
    "q96_percentile_cont", // interpolated ranks
    "q105_mad_outliers",   // two chained rank-pick kernels + threshold agg
    "q108_lm_quality",     // corpus-joined model, dsum mean of ratios
    "q109_containment")    // LSH-band candidates + array intersection

  test("sensitive queries are invariant to shuffle partition count") {
    val a = Sessions.derived(spark, "spark.sql.shuffle.partitions" -> "2")
    val b = Sessions.derived(spark, "spark.sql.shuffle.partitions" -> "7")
    sensitive.foreach { name =>
      val fn = SparkEntry.queries(name)
      val ra = fn(a, sfDir).collect().toSeq
      val rb = fn(b, sfDir).collect().toSeq
      assert(ra == rb,
        s"$name differs between 2 and 7 shuffle partitions " +
          s"(first diff: ${ra.zip(rb).find(p => p._1 != p._2)})")
      assert(ra.nonEmpty, s"$name returned no rows — vacuous invariance")
    }
  }

  /** The window and join shapes among [[sensitive]]: the operators
    * whose buffers spill to disk when a group outgrows memory. */
  private val spillPaths = Seq("q49_percentile_disc", "q96_percentile_cont",
    "q105_mad_outliers", "q87_salted_join", "q90_scd2_merge")

  test("window and join queries return the same rows when forced to spill") {
    // The window / sort-merge-join buffers hold rows in memory up to
    // the in-memory threshold and hand them to an external sorter past
    // it; at sf0.001 no group reaches Spark's default of 4096, so both
    // thresholds are lowered until the external-sort path runs. The
    // listener proves it ran: a forced run that spills nothing would
    // make the comparison vacuous.
    val spilled = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          spilled.addAndGet(te.taskMetrics.memoryBytesSpilled +
            te.taskMetrics.diskBytesSpilled)
    }
    val forced = Sessions.derived(spark,
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "64",
      "spark.sql.windowExec.buffer.spill.threshold" -> "256",
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "64",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "256",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "16")
    val base = spillPaths.map(name => SparkEntry.queries(name)(spark, sfDir).collect().toSeq)
    spark.sparkContext.addSparkListener(listener)
    try {
      spillPaths.zip(base).foreach { case (name, rows) =>
        val got = SparkEntry.queries(name)(forced, sfDir).collect().toSeq
        assert(got == rows,
          s"$name differs under forced spills " +
            s"(first diff: ${rows.zip(got).find(p => p._1 != p._2)})")
      }
      // task-end events reach the listener asynchronously
      val deadline = System.nanoTime() + 20000000000L
      while (spilled.get() == 0L && System.nanoTime() < deadline) Thread.sleep(200)
      assert(spilled.get() > 0L, "the forced run spilled nothing — vacuous comparison")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
