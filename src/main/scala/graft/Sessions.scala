package graft

import org.apache.spark.sql.SparkSession

import graft.sources.NioLocalFileSystem

/** One place for the session config every entry point (Verify, Bench,
  * tests) must share so results are reproducible and oracle-comparable.
  */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Deterministic rendering vs the DuckDB oracle:
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark can't read
      // natively; read as long nanos, Tables.events converts to µs.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Write µs INT64 timestamps (not INT96) so pyarrow/DuckDB read
      // back exactly what DuckDB's own results contain.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // AQE: runtime partition coalescing + skew-join splitting — the
      // at-scale defaults we design for.
      .config("spark.sql.adaptive.enabled", "true")
      // Loglake scans pass EXPLICIT file lists resolved from the log —
      // above this many paths Spark launches a whole Spark JOB just to
      // re-stat them (InMemoryFileIndex parallel listing, ~100-200 ms
      // of scheduling per scan at the default threshold of 32, paid by
      // every snapshot read of a 32+-file table). The log already knows
      // these files exist; driver-side listing of a few hundred paths
      // is microseconds locally and a bounded batch of RPCs on object
      // storage (the Delta posture: table state never FS-listed). Tables
      // big enough to exceed this are served by the distributed-planning
      // path, which ships file lists from checkpoints, not listings.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      // Custom codegen expressions (scaled_dot, …) as SQL functions.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // The loglake SQL front door: CREATE/INSERT/SELECT/MERGE INTO …
      // against `loglake.<ns>.<table>` identifiers (DSv2 TableCatalog).
      .config("spark.sql.catalog.loglake", "graft.sources.LogLakeCatalog")
      .config("spark.sql.catalog.loglake.warehouse", "/tmp/graft_loglake_warehouse")
      // Managed tables (bucketed-join demos/tests) go to tmp, not cwd.
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      // Fork-free `file:` for both Hadoop client APIs (FileSystem and
      // FileContext, which streaming checkpoints use); see
      // graft.sources.NioLocalFileSystem.
      .config(NioLocalFileSystem.impls.map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap)
      .config("spark.ui.enabled", "false")

  /** A sibling session sharing the SparkContext (and cached data) but with
    * query-scoped conf overrides — how a multi-tenant cluster pins
    * per-query planner knobs without mutating the shared session.
    * Plan-affecting confs are read at ACTION time, not DataFrame
    * construction, so `set`-then-reset on the caller's session would race;
    * a derived session makes the override airtight. `newSession()`
    * carries the builder's initial options; the determinism-critical keys
    * are re-pinned anyway in case the parent was built elsewhere (tests).
    */
  def derived(parent: SparkSession, overrides: (String, String)*): SparkSession = {
    val s2 = parent.newSession()
    for (k <- Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
                  "spark.sql.legacy.parquet.nanosAsLong",
                  "spark.sql.parquet.outputTimestampType",
                  "spark.sql.adaptive.enabled"))
      s2.conf.set(k, parent.conf.get(k))
    overrides.foreach { case (k, v) => s2.conf.set(k, v) }
    s2
  }
}
