package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sources.LogLake

/** The change feed's per-version scan scoping: the read for version
  * range (v-1, v] — one micro-batch of a streaming CDF consumer paced
  * at one commit per trigger — scans only the files commit v touched
  * (its adds, the files it removed, its write-time change files), never
  * the rest of the table, so a feed's cost tracks the change volume,
  * not the table size. The history is q122's: append, append,
  * merge-on-read DELETE, merge-on-read UPDATE, each commit leaving
  * files it did not touch.
  */
class ChangeFeedScanSpec extends SparkTestBase {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"cdfscan-$name").toString + "/t"

  private def name(p: String): String = new Path(p).getName

  /** Every file the FileSourceScanExec nodes of `df` read. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collectWithSubqueries {
      case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
    }.flatten.map(name).toSet

  for (cdf <- Seq(false, true))
    test(s"changeFeed(v-1, v) scans only commit v's change files (write-time CDC $cdf)") {
      val dir = tmp(s"cdf-$cdf")
      // range-partitioned, so each file owns a compact k-interval and the
      // DELETE / UPDATE predicates below touch one file each
      def rows(lo: Long, hi: Long, files: Int) = spark.range(lo, hi)
        .select(col("id").as("k"), concat(lit("v"), col("id")).as("s"))
        .repartitionByRange(files, col("k"))
      LogLake.create(spark, dir, rows(0L, 400L, 4), statsCols = Seq("k")) // v1
      if (cdf)
        LogLake.setTableProperties(dir, Map("loglake.enableChangeDataFeed" -> "true"))
      LogLake.append(spark, dir, rows(400L, 600L, 2))                     // v2
      LogLake.delete(spark, dir, col("k") < 50L, mor = true)              // v3
      LogLake.update(spark, dir, col("k") >= 550L,
        Map("s" -> lit("U")), mor = true)                                 // v4

      val commits = LogLake.history(dir)
      assert(commits.map(_.version) == Seq(1L, 2L, 3L, 4L))
      for (m <- commits) {
        val v = m.version
        if (cdf && m.removes.nonEmpty)
          assert(m.cdc.nonEmpty, s"version $v (${m.op}) recorded no change files")
        val touched = (m.adds.map(_.path) ++ m.removes ++ m.cdc).map(name).toSet
        val feed = LogLake.changeFeed(spark, dir, v - 1L, v)
        val scanned = scannedFiles(feed)
        assert(scanned.nonEmpty, s"version $v (${m.op}): the feed scans no file")
        assert(scanned.subsetOf(touched),
          s"version $v (${m.op}) scans files the commit did not touch: " +
            s"${scanned -- touched}")
        if (v > 1L) {
          // non-vacuity: the table holds files this commit left alone
          val live = LogLake.activeState(dir, Some(v))._1.map(a => name(a.path)).toSet
          assert((live -- touched).nonEmpty,
            s"version $v (${m.op}) touched every live file — the check is vacuous")
        }
        assert(feed.count() > 0L, s"version $v (${m.op}) yields no change rows")
      }
    }
}
