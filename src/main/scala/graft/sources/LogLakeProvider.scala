package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Registers [[LogLake]] as a first-class Spark data source, format
  * name `loglake` — the Delta-shaped integration, built on the same
  * public extension points Delta uses:
  *
  *  - **batch read** `spark.read.format("loglake").load(dir)` (plus
  *    `.option("versionAsOf", v)` time travel) resolves the commit log
  *    to a [[LogLakeFileIndex]] inside a `HadoopFsRelation`, so the
  *    NATIVE parquet path does the reading — vectorized scan,
  *    whole-stage codegen, parquet row-group pushdown all apply — while
  *    the FileIndex does manifest-stats file skipping during planning:
  *    Catalyst hands the query's data filters to `listFiles`, and
  *    pruned files never enter the scan (`FileSourceScanExec`'s
  *    `numFiles` metric records the decision, asserted in spec).
  *  - **batch write** `df.write.format("loglake").mode(m).save(dir)`
  *    maps SaveMode onto the transactional ops: Append → `append`
  *    (creating if absent), Overwrite → `overwrite`, ErrorIfExists →
  *    `create`, Ignore → create-if-absent. `option("statsColumns",
  *    "a,b")` selects the columns whose min/max land in the manifest.
  *  - **streaming read** `spark.readStream.format("loglake")` treats
  *    the commit log itself as the stream: an offset is a table
  *    VERSION, a micro-batch is the files added by versions
  *    `(start, end]` — append-only by contract, failing loudly on a
  *    rewriting commit unless `ignoreChanges=true` (then the rewritten
  *    files' rows re-emit, at-least-once — Delta's documented
  *    semantics; for a merge-on-read commit the re-emit is DV-masked,
  *    so deleted rows never resurrect). `initialSnapshot=true` reads
  *    the first batch THROUGH active deletion vectors — the post-MERGE
  *    restart a real user hits first. `startingVersion` skips history;
  *    `optimize` commits are invisible (layout-only, content unchanged
  *    by construction).
  *  - **streaming write** `df.writeStream.format("loglake")` commits
  *    each micro-batch as one table version whose txnId derives from
  *    (checkpoint identity, batchId), so a crash-replayed epoch finds
  *    its transaction in the log and no-ops — exactly-once carried by
  *    the TABLE FORMAT, the Delta streaming-sink contract. Append mode
  *    appends; Complete mode overwrites the table each epoch.
  *
  * Together with the `wirelog` connector this closes the reference's
  * end-to-end shape natively: wirelog (Kafka-class log) → transforms →
  * loglake (ACID warehouse table), exactly-once on both hops.
  */
class LogLakeProvider extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  import LogLakeProvider._

  override def shortName(): String = "loglake"

  // ----------------------------------------------------------- batch read

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      // batch CDC read, the Delta table_changes surface: rows +
      // _change_type + _commit_version over (startingVersion-1, ending]
      val d = dir(parameters)
      val from = parameters.getOrElse("startingVersion",
        throw new IllegalArgumentException(
          "loglake: readChangeFeed requires startingVersion")).toLong - 1L
      val to = parameters.get("endingVersion").map(_.toLong)
        .getOrElse(LogLake.currentVersion(d))
      new LogLakeCdfRelation(sqlContext.sparkSession, d, from, to)
    } else {
      // a non-numeric versionAsOf is a NAMED TAG (Iceberg-style ref)
      val byVersion = parameters.get("versionAsOf")
        .map(LogLake.resolveVersionRef(dir(parameters), _))
      val byTime = parameters.get("timestampAsOf").map { t =>
        LogLake.versionAtTimestamp(dir(parameters),
          LogLake.parseTimestampMillis(t))
      }
      require(byVersion.isEmpty || byTime.isEmpty,
        "loglake: versionAsOf and timestampAsOf are mutually exclusive")
      if (parameters.get("withRowIds").exists(_.toBoolean))
        // row-tracking read: table columns + _row_id (stable identity;
        // NULL for rows of files written before tracking) — the reader
        // -API face of LogLake.snapshotWithRowIds, version pinned at
        // construction like every snapshot
        new LogLakeRowIdRelation(sqlContext.sparkSession, dir(parameters),
          Some(byVersion.orElse(byTime)
            .getOrElse(LogLake.currentVersion(dir(parameters)))))
      else
        relation(sqlContext.sparkSession, dir(parameters), byVersion.orElse(byTime))
    }

  // ---------------------------------------------------------- batch write

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val d = dir(parameters)
    val stats = statsCols(parameters)
    // `option("partitionBy", "a,b")` — identity partition spec for the
    // CREATE this write performs (DataFrameWriter.partitionBy does not
    // reach V1 CreatableRelationProvider); appends to an existing
    // partitioned table need no option, the spec is table metadata
    val parts = parameters.get("partitionBy").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val spark = data.sparkSession
    val exists = LogLake.currentVersion(d) > 0L
    require(parts.isEmpty || !exists,
      s"loglake: partitionBy is create-only — table already exists at $d")
    // Delta's selective-overwrite option: mode=overwrite +
    // option("replaceWhere", "<predicate>") replaces only the matching
    // region (partition predicates resolve metadata-only)
    val replaceWhere = parameters.get("replaceWhere").map(expr)
    require(replaceWhere.isEmpty || mode == SaveMode.Overwrite,
      "loglake: replaceWhere requires mode overwrite")
    mode match {
      case SaveMode.Append =>
        if (exists) LogLake.append(spark, d, data, stats)
        else appendCreating(spark, d, data, stats, parts)
      case SaveMode.Overwrite if replaceWhere.isDefined =>
        LogLake.overwriteWhere(spark, d, data, replaceWhere.get, stats)
      case SaveMode.Overwrite =>
        if (exists) LogLake.overwrite(spark, d, data, stats)
        else LogLake.create(spark, d, data, stats, partitionBy = parts)
      case SaveMode.ErrorIfExists =>
        LogLake.create(spark, d, data, stats, partitionBy = parts) // create itself rejects an existing table
      case SaveMode.Ignore =>
        if (!exists) LogLake.create(spark, d, data, stats, partitionBy = parts)
    }
    createRelation(sqlContext, parameters)
  }

  // ------------------------------------------------------- streaming read

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "loglake: the stream schema comes from the table's commit log — do not set one")
    val table = LogLake.cleanSchema(LogLake.declaredSchema(dir(parameters)))
    (shortName(),
      if (parameters.get("readChangeFeed").exists(_.toBoolean))
        LogLakeSource.withCdfColumns(table)
      else table)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new LogLakeSource(sqlContext.sparkSession, dir(parameters), parameters)

  // ------------------------------------------------------ streaming write

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty, "loglake sink does not support partitionBy")
    require(outputMode == OutputMode.Append() || outputMode == OutputMode.Complete(),
      s"loglake sink supports Append (append per epoch) and Complete (overwrite " +
        s"per epoch), not $outputMode")
    val d = dir(parameters)
    // Writer identity must be stable across restarts of the SAME query
    // and distinct across DIFFERENT queries, or txnIds collide and a
    // second query's epochs silently no-op as replays. The
    // checkpointLocation OPTION qualifies when present, but Spark often
    // resolves the checkpoint from conf after createSink and never
    // injects it here — so the sink defers to the runtime query id
    // (checkpoint-persisted, restart-stable) at addBatch time when the
    // option is absent, the DeltaSink derivation.
    val explicitId = parameters.get("checkpointLocation").map(md5id)
    new LogLakeSink(d, statsCols(parameters), explicitId, outputMode)
  }
}

object LogLakeProvider {

  /** The target table directory — `option("branch", name)` addresses
    * a live branch's head through the same path (read, write, CDF,
    * and streaming all resolve here), so
    * `spark.read.format("loglake").option("branch","staging").load(t)`
    * and a branch-addressed writer need no knowledge of the on-disk
    * branch layout. */
  private def dir(parameters: Map[String, String]): String = {
    val base = parameters.getOrElse("path",
      throw new IllegalArgumentException("loglake requires a path option"))
    parameters.get("branch") match {
      case Some(b) =>
        require(LogLake.branches(base).contains(b),
          s"loglake: no branch '$b' at $base (have " +
            s"${LogLake.branches(base).keys.toSeq.sorted.mkString(", ")})")
        LogLake.branchDir(base, b)
      case None => base
    }
  }

  private def md5id(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  private def statsCols(parameters: Map[String, String]): Seq[String] =
    parameters.get("statsColumns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Append-to-absent-table: try `create`, and if another writer won
    * the create race in the window since our existence check, fall
    * back to a plain `append` — SaveMode.Append commutes, so the loser
    * must retry as an append, not surface the race to the caller. */
  private[graft] def appendCreating(spark: SparkSession, d: String,
      data: DataFrame, stats: Seq[String],
      partitionBy: Seq[String] = Nil): Long =
    try LogLake.create(spark, d, data, stats, partitionBy = partitionBy)
    catch {
      case e: Exception if LogLake.currentVersion(d) > 0L =>
        LogLake.append(spark, d, data, stats)
    }

  /** The snapshot as a relation. The common case (no active deletion
    * vectors, no divergent column mapping) rides the NATIVE parquet
    * path — vectorized scan, codegen, planning-time file skipping via
    * [[LogLakeFileIndex]]. A snapshot with active DVs (between a
    * merge-on-read DELETE/UPDATE and the next OPTIMIZE) cannot: the
    * native scan has no row-masking hook. A snapshot whose schema
    * carries a RENAMED column cannot either: the native scan would
    * resolve the logical name against files that store the physical
    * one and silently return NULLs. Both fall back to the frame-backed
    * read ([[LogLake.snapshot]]'s kernel — still a vectorized parquet
    * scan underneath, with projection/filter pushdown through
    * [[FrameBackedScan]], minus manifest stats skipping). The version
    * is PINNED before the DV probe and passed through, so a
    * merge-on-read DELETE committing mid-construction cannot slip a
    * DV-bearing state onto the native path (snapshot isolation holds
    * from the first metadata read). */
  def relation(spark: SparkSession, dir: String,
      asOf: Option[Long]): BaseRelation = {
    val v = asOf.getOrElse(LogLake.currentVersion(dir))
    // the 10⁸-file posture: when the table opts into distributed
    // planning and the snapshot is provably safe for it (all-parquet
    // checkpoint with aggregate footers, zero DVs, unpartitioned,
    // unbucketed — see [[LogLake.lazyPlanInfo]]), the read plans
    // through [[LazyLogLakeFileIndex]] WITHOUT ever assembling state
    // on the driver; skipping runs as a job over the parts
    LogLake.lazyPlanInfo(dir, v).foreach { plan =>
      val index = new LazyLogLakeFileIndex(spark, dir, plan)
      // partitioned snapshots surface their real partitionSchema (the
      // overlapped-column merge keeps the declared order; values come
      // from the PartitionDirectory rows) — DPP eligibility survives
      // the lazy plan
      // BUCKETED snapshots (round 15) hand the planner the same
      // BucketSpec the eager index does: ids ride the file names the
      // skipping job returns, so shuffle-free joins/aggs and bucket
      // pruning survive the lazy plan too. A SORTED spec's
      // outputOrdering check pays one listFiles job at planning (Spark
      // groups files per bucket to prove ≤1-file-per-bucket) — still
      // never an assembled state. Round 16 (ADVICE r15): the spec is
      // served only when the parts' policy footers + tail prove every
      // active file carries a parseable tag — one untagged file
      // (foreign manifest, converted original) now degrades to an
      // unbucketed scan exactly like the eager path, instead of
      // failing every read under distributed planning.
      val buckets = LogLake.bucketSpec(dir)
        .filter(_ => LogLake.lazyBucketTagsTrusted(dir, plan))
        .map(bs => BucketSpec(bs.n, bs.cols, bs.sortCols))
      return HadoopFsRelation(index, partitionSchema = index.partitionSchema,
        dataSchema = plan.schema, bucketSpec = buckets,
        fileFormat = new ParquetFileFormat(), options = Map.empty)(spark)
    }
    // the MERGE-ON-READ WINDOW under distributed planning: DVs active
    // (or another native-scan refusal that masking tolerates), but the
    // table still must not assemble state — the frame-backed relation
    // scopes every scan through the same checkpoint-part job and masks
    // DV rows in its plan
    LogLake.lazyPlanInfo(dir, v, allowDvs = true).foreach { plan =>
      return new LogLakeLazyDvRelation(spark, dir, plan)
    }
    val (files, schema) = LogLake.activeState(dir, Some(v))
    if (files.exists(_.dv.nonEmpty) || LogLake.isDivergent(schema))
      new LogLakeDvRelation(spark, dir, Some(v), LogLake.cleanSchema(schema))
    else {
      val index = new LogLakeFileIndex(spark, dir, Some(v), Some((files, schema)))
      // BUCKETED TABLES surface their hash layout to the planner: the
      // scan reports HashPartitioning(cols, n) (files grouped by the
      // bucket id in their name), so joins/aggregations on the bucket
      // keys run with no shuffle and equality predicates prune to one
      // bucket's files. Defensive: served only when every active file
      // carries a parseable bucket tag (always true for tables created
      // with a spec — the gate keeps untagged writers out); otherwise
      // the same files scan unbucketed, merely unaccelerated. Physical
      // names == logical on this path (divergent mapping took the
      // fallback above).
      val buckets = LogLake.bucketSpec(dir)
        .filter(_ => LogLake.allBucketTagged(files))
        .map(bs => BucketSpec(bs.n, bs.cols, bs.sortCols))
      HadoopFsRelation(index, partitionSchema = index.partitionSchema,
        dataSchema = index.tableSchema, bucketSpec = buckets,
        fileFormat = new ParquetFileFormat(), options = Map.empty)(spark)
    }
  }
}

/** Shared scan shape for the frame-backed relations below: column
  * pruning and filter pushdown re-expressed onto an inner DataFrame.
  * `PrunedFilteredScan` (not `TableScan`) because at 100 TB a relation
  * that always materializes every column is wrong — the projection
  * reaches the inner plan's parquet scan as `ReadSchema`, and pushed
  * filters prune there too (Spark re-applies them above, so a filter
  * this translation skips costs nothing in correctness). */
private[sources] trait FrameBackedScan
    extends org.apache.spark.sql.sources.PrunedFilteredScan {
  self: BaseRelation =>
  protected def spark: SparkSession
  protected def frame(): DataFrame

  override def needConversion: Boolean = false

  /** Hook for relations that can SCOPE the frame by the pushed
    * filters (manifest stats skipping) before the plan is built —
    * default ignores them. */
  protected def frameFor(filters: Array[org.apache.spark.sql.sources.Filter]): DataFrame =
    frame()

  override def buildScan(requiredColumns: Array[String],
      filters: Array[org.apache.spark.sql.sources.Filter]):
      org.apache.spark.rdd.RDD[Row] = {
    val base = frameFor(filters)
    val filtered = filters.foldLeft(base) { (df, f) =>
      FrameBackedScan.translate(f).map(df.filter).getOrElse(df)
    }
    val projected =
      if (requiredColumns.isEmpty)
        // COUNT(*)-style scan: no columns needed, just row multiplicity
        filtered.select()
      else filtered.select(requiredColumns.toIndexedSeq.map(col): _*)
    GraftBridge.toInternalRdd(projected)
      .asInstanceOf[org.apache.spark.rdd.RDD[Row]]
  }
}

private[sources] object FrameBackedScan {
  import org.apache.spark.sql.{sources => sf}

  /** Best-effort V1 Filter → Column translation; None = not translated
    * (Spark re-evaluates every pushed filter above the scan, so an
    * untranslated filter only costs the pruning it would have done). */
  def translate(f: sf.Filter): Option[org.apache.spark.sql.Column] = f match {
    case sf.EqualTo(a, v)            => Some(col(a) === lit(v))
    case sf.EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case sf.GreaterThan(a, v)        => Some(col(a) > lit(v))
    case sf.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sf.LessThan(a, v)           => Some(col(a) < lit(v))
    case sf.LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case sf.In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sf.IsNull(a)                => Some(col(a).isNull)
    case sf.IsNotNull(a)             => Some(col(a).isNotNull)
    case sf.StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case sf.StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case sf.StringContains(a, v)     => Some(col(a).contains(v))
    case sf.And(l, r) =>
      (translate(l), translate(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (one, other)       => one.orElse(other) // half is still sound
      }
    case sf.Or(l, r) =>
      for { a <- translate(l); b <- translate(r) } yield a || b
    // under NOT the partial-And relaxation inverts into unsoundness
    // (!l drops rows satisfying NOT(l AND r) when r is untranslated),
    // so a negated child must translate COMPLETELY or not at all
    case sf.Not(c) => strict(c).map(!_)
    case _ => None
  }

  /** All-or-nothing variant of [[translate]]: every connective requires
    * BOTH children (no partial-And). Leaves share the main table. */
  private def strict(f: sf.Filter): Option[org.apache.spark.sql.Column] = f match {
    case sf.And(l, r) => for { a <- strict(l); b <- strict(r) } yield a && b
    case sf.Or(l, r)  => for { a <- strict(l); b <- strict(r) } yield a || b
    case sf.Not(c)    => strict(c).map(!_)
    case leaf         => translate(leaf)
  }
}

/** Batch change-data-feed relation: [[LogLake.changeFeed]] rows over a
  * pinned version range, `table_changes`-style. Per-commit read cost is
  * the CHANGED-file volume (pre-images resolve through deletion
  * vectors; OPTIMIZE commits skip as layout-only), never table size. */
final class LogLakeCdfRelation(protected val spark: SparkSession,
    dir: String, fromExcl: Long, to: Long) extends BaseRelation
    with FrameBackedScan {
  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = LogLakeSource.withCdfColumns(
    LogLake.cleanSchema(LogLake.activeState(dir, Some(to))._2))
  protected def frame(): DataFrame =
    LogLake.changeFeed(spark, dir, fromExcl, to)
}

/** Row-tracking relation (`option("withRowIds", "true")`): the pinned
  * snapshot plus the stable `_row_id` column
  * ([[LogLake.snapshotWithRowIds]] — materialized ids coalesced with
  * manifest base + row_index, DV-masked). Projection/filter pushdown
  * re-expressed onto the inner frame via [[FrameBackedScan]]; the
  * per-file base map is broadcast, so at 100 TB the id computation
  * adds one manifest-sized build side to the scan. */
final class LogLakeRowIdRelation(protected val spark: SparkSession,
    dir: String, asOf: Option[Long]) extends BaseRelation
    with FrameBackedScan {
  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = StructType(
    LogLake.cleanSchema(LogLake.activeState(dir, asOf)._2).fields :+
      StructField(LogLake.RowIdField,
        org.apache.spark.sql.types.LongType, nullable = true))
  protected def frame(): DataFrame =
    LogLake.snapshotWithRowIds(spark, dir, asOf)
}

/** Fallback relation for a snapshot with ACTIVE deletion vectors: the
  * rows come from [[LogLake.snapshot]]'s merge-on-read read (native
  * parquet scan anti-joined against the expanded DV positions), handed
  * over as InternalRows (`needConversion = false` — no per-row
  * conversion). Used only between a merge-on-read DELETE/UPDATE and
  * the next OPTIMIZE; the DV side is deleted-position volume, so at
  * 100 TB the join broadcasts bytes against the full scan. */
final class LogLakeDvRelation(protected val spark: SparkSession,
    dir: String, asOf: Option[Long], schema0: StructType)
    extends BaseRelation with FrameBackedScan {
  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = schema0
  protected def frame(): DataFrame = LogLake.snapshot(spark, dir, asOf)

  /** Files the LAST scan admitted after stats skipping (spec hook). */
  @volatile var lastScanFiles: Int = -1

  /** Manifest stats skipping on the FALLBACK path too: the pushed
    * filters scope the FILE SET before the DV-masking plan is built —
    * stats describe a file's physical rows (a superset of its live
    * rows), so a file whose stats exclude the predicate holds no
    * matching live row either. Between a broad MoR delete and the next
    * OPTIMIZE a 100 TB table answers point queries from the admitted
    * files, not every active file. Untranslated filters keep the file
    * (Spark re-applies every pushed filter above the scan). */
  override protected def frameFor(
      filters: Array[org.apache.spark.sql.sources.Filter]): DataFrame = {
    val (files, tableSchema) = LogLake.activeState(dir, asOf)
    val exprs = filters.toSeq.flatMap(LogLake.v1PruneExpr(tableSchema, _))
    val kept = LogLake.pruneByPredicates(files, exprs)
    lastScanFiles = kept.size
    LogLake.readAdds(spark, dir, tableSchema, kept)
  }
  /** Exact logical row count from the manifest alone: physical rows
    * minus DV-masked rows per file ([[LogLakeMetadataOnlyCountRule]]).
    * The version is the relation's pinned snapshot — deterministic. */
  def exactRowCount: Long =
    LogLake.activeState(dir, asOf)._1.map(a => a.rows - a.dvRows).sum


  /** Pinned-snapshot metadata for [[LogLakeMetadataOnlyCountRule]]:
    * (active files, declared schema, physical partition columns). */
  def metaState: (Seq[LogLake.AddFile], StructType, Seq[String]) = {
    val (files, schema) = LogLake.activeState(dir, asOf)
    (files, schema, LogLake.partitionColumns(dir))
  }
}

/** The MERGE-ON-READ WINDOW at 10⁸ files (round 14): a DV-bearing
  * snapshot under `loglake.planning.distributed` no longer knocks the
  * table back to eager state assembly. Construction touches only
  * tail-sized metadata ([[LogLake.lazyPlanInfo]] with `allowDvs` — the
  * target manifest's schema, checkpoint part paths, footer
  * aggregates); every scan runs file skipping as a Spark job over the
  * checkpoint parts and hands the SURVIVORS — deletion-vector sidecar
  * names and cardinalities riding each AddFile — to
  * [[LogLake.readAdds]]'s masking plan (native parquet scan,
  * executor-side DV sidecar reads, positions anti-joined). Stats
  * describe PHYSICAL rows, a superset of live rows, so skipping stays
  * sound under masking. The driver's working set is each query's
  * survivor list; one stray MoR delete between OPTIMIZE runs costs the
  * masking join, never a gigabyte state assembly. Metadata-only
  * aggregate rules don't match this relation — by design, the same
  * posture as [[LazyLogLakeFileIndex]]: those rules' currency is the
  * full file list, which is exactly what this plan refuses to hold. */
final class LogLakeLazyDvRelation(protected val spark: SparkSession,
    dir: String, plan: LogLake.LazyPlan)
    extends BaseRelation with FrameBackedScan {
  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = LogLake.cleanSchema(plan.schema)
  // footer-aggregate upper bound — the safe direction for planning
  override def sizeInBytes: Long = math.max(1L, plan.sumBytes)

  /** Files the LAST scan admitted after stats skipping (spec hook). */
  @volatile var lastScanFiles: Int = -1
  /** How many scans planned through the distributed job (spec hook). */
  @volatile var planJobs: Int = 0

  protected def frame(): DataFrame = frameFor(Array.empty)

  override protected def frameFor(
      filters: Array[org.apache.spark.sql.sources.Filter]): DataFrame = {
    val exprs = filters.toSeq.flatMap(LogLake.v1PruneExpr(plan.schema, _))
    val cs = LogLake.statConstraints(exprs, _ => None)
    val keep: LogLake.AddFile => Boolean =
      if (cs.isEmpty) _ => true
      else a => LogLake.constraintsKeep(cs, a)
    val (kept, _) = LogLake.planSurvivors(spark, plan, keep)
    planJobs += 1
    lastScanFiles = kept.size
    LogLake.readAdds(spark, dir, plan.schema, kept)
  }
}

/** The typed partition-tuple machinery BOTH FileIndexes share, so the
  * eager and lazy paths admit partitions under the IDENTICAL cast and
  * predicate semantics (the lazy path merely evaluates over the
  * distinct-tuple set instead of the full file list). */
private[sources] object PartitionTuples {
  /** Rendered tuple ([[LogLake.NullPartitionValue]] marks NULL) →
    * typed InternalRow through the declared fields — the same
    * string→type cast the manifest's grouped counts are oracle-proven
    * on. */
  def typedRow(partFields: Seq[StructField], tuple: Seq[String],
      zone: Option[String]): InternalRow =
    InternalRow.fromSeq(tuple.zip(partFields).map { case (s, f) =>
      if (s == LogLake.NullPartitionValue) null
      else Cast(Literal(UTF8String.fromString(s), StringType),
        f.dataType, zone).eval(InternalRow.empty)
    })

  /** Exact partition-predicate admission over (row, payload) groups.
    * STATIC partition predicates must be applied EXACTLY here —
    * FileSourceStrategy drops them from the post-scan filter. DYNAMIC
    * pruning filters never reach admit: FileSourceScanExec strips them
    * before calling listFiles and evaluates them itself over the
    * returned PartitionDirectory rows (dynamicallySelectedPartitions)
    * — DPP works because listFiles returns one directory per tuple,
    * not because admit sees the subquery. An unresolvable reference is
    * a loud error, never a silent keep. */
  def admit[A](spark: SparkSession, partFields: Seq[StructField],
      partitionFilters: Seq[Expression], groups: Seq[(InternalRow, A)])
      : Seq[(InternalRow, A)] =
    if (partitionFilters.isEmpty) groups else {
      val resolver = spark.sessionState.conf.resolver
      val bound = partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partFields.indexWhere(f => resolver(f.name, a.name))
          require(i >= 0,
            s"loglake: partition filter references non-partition column ${a.name}")
          BoundReference(i, partFields(i).dataType, nullable = true)
      }
      val pred = Predicate.createInterpreted(bound)
      pred.initialize(0)
      groups.filter { case (row, _) => pred.eval(row) }
    }
}

/** Manifest-driven [[FileIndex]]: the file list comes from the commit
  * log resolved ONCE at construction (snapshot isolation — concurrent
  * commits never shift this reader), and `listFiles` applies
  * [[LogLake.pruneByPredicates]] to the data filters Catalyst pushes
  * down, so skipping happens at PLANNING time inside the native scan —
  * the TahoeFileIndex design. File sizes come from the manifest, not
  * the filesystem: planning is metadata-only, the property that keeps
  * a 100 TB table's query latency independent of its file count's
  * worth of storage round-trips. */
final class LogLakeFileIndex(spark: SparkSession, dir: String,
    asOf: Option[Long],
    preResolved: Option[(Seq[LogLake.AddFile], StructType)] = None)
    extends FileIndex {

  private val (activeFiles, schema0) =
    preResolved.getOrElse(LogLake.activeState(dir, asOf))
  // this path hands the raw files straight to the native parquet scan —
  // it cannot mask deletion-vector rows, and silently resurrecting
  // deleted rows is the one unacceptable outcome
  require(activeFiles.forall(_.dv.isEmpty),
    s"loglake: the snapshot at $dir carries deletion vectors (merge-on-read " +
      "DELETE/UPDATE); read it with LogLake.snapshot, or run OPTIMIZE to " +
      "materialize the deletes, before format(\"loglake\") reads")

  /** Fallback for pre-`bytes` manifests only: one directory listing. */
  private lazy val listedSizes: Map[String, Long] = {
    val f = WireLog.fs(dir)
    val dd = new Path(dir, LogLake.DataDir)
    if (!f.exists(dd)) Map.empty
    else f.listStatus(dd).iterator.map(s => s.getPath.getName -> s.getLen).toMap
  }

  private def sizeOf(a: LogLake.AddFile): Long =
    if (a.bytes >= 0L) a.bytes
    else listedSizes.getOrElse(new Path(a.path).getName,
      throw new java.io.IOException(
        s"loglake: active file ${a.path} is missing from $dir — the data " +
          "file was deleted out from under the manifest (vacuumed past " +
          "this snapshot?)"))

  def tableSchema: StructType = schema0

  /** Exact row count from the manifest alone (this path never carries
    * DVs — see the constructor guard), for
    * [[LogLakeMetadataOnlyCountRule]]. */
  def exactRowCount: Long = activeFiles.map(_.rows).sum


  /** Pinned-snapshot metadata for [[LogLakeMetadataOnlyCountRule]]:
    * (active files, declared schema, physical partition columns) —
    * resolved ONCE at construction, so the rule's answer is the same
    * snapshot the scan it replaces would have read. */
  def metaState: (Seq[LogLake.AddFile], StructType, Seq[String]) =
    (activeFiles, schema0, LogLake.partitionColumns(dir))

  /** Files the LAST planned scan admitted — the skipping decision,
    * exposed for spec assertions alongside FileSourceScanExec's own
    * `numFiles` metric. */
  @volatile var lastScanFiles: Int = activeFiles.size

  /** Identity-partitioned tables surface their partition columns as a
    * REAL `partitionSchema` (values served from the manifest's
    * per-file tuples, typed through the declared fields — the data
    * files also store the columns, but the overlapped-partition-column
    * merge keeps the declared position and the scan never reads them
    * from parquet). That routes partition predicates through Spark's
    * exact planning path instead of per-file stats, and — the 100 TB
    * payoff — makes the scan ELIGIBLE FOR DYNAMIC PARTITION PRUNING:
    * `PartitionPruning` only plants a DPP subquery on a scan whose
    * relation has partition columns, so a star join's dim filter can
    * prune fact partitions at runtime via the reused broadcast.
    * Empty (falling back to flat stats-skipping listing) when the
    * table is unpartitioned or any active file misses a tuple value
    * (a foreign/hand-built manifest — never misread, just don't
    * prune). */
  private val partFields: Seq[StructField] = {
    val phys = LogLake.partitionColumns(dir)
    if (phys.isEmpty ||
      !activeFiles.forall(a => phys.forall(a.partitionValues.contains))) Nil
    else {
      val byName = schema0.fields.map(f => f.name -> f).toMap
      val fields = phys.flatMap(byName.get)
      if (fields.size == phys.size) fields else Nil
    }
  }

  override def rootPaths: Seq[Path] = Seq(new Path(dir))
  override def partitionSchema: StructType = StructType(partFields)

  private def statuses(adds: Seq[LogLake.AddFile]): Array[FileStatus] =
    adds.map { a =>
      new FileStatus(sizeOf(a), false, 1, 0L, 0L, new Path(LogLake.resolvedPath(dir, a.path)))
    }.toArray

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    if (partFields.isEmpty) {
      val kept = LogLake.pruneByPredicates(activeFiles, dataFilters)
      lastScanFiles = kept.size
      Seq(PartitionDirectory(InternalRow.empty, statuses(kept)))
    } else {
      val phys = LogLake.partitionColumns(dir)
      val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
      // one directory per live partition tuple, typed through the
      // declared fields
      val groups = activeFiles.groupBy(a => phys.map(a.partitionValues))
        .toSeq.map { case (tuple, fs) =>
          (PartitionTuples.typedRow(partFields, tuple, zone), fs)
        }
      val admitted =
        PartitionTuples.admit(spark, partFields, partitionFilters, groups)
      val dirs = admitted.flatMap { case (row, fs) =>
        val kept = LogLake.pruneByPredicates(fs, dataFilters)
        if (kept.isEmpty) None else Some(PartitionDirectory(row, statuses(kept)))
      }
      lastScanFiles = dirs.map(_.files.size).sum
      dirs
    }
  }

  override def inputFiles: Array[String] =
    activeFiles.map(a => LogLake.resolvedPath(dir, a.path)).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = activeFiles.map(sizeOf).sum
}

/** The 10⁸-file read plan: a FileIndex that NEVER assembles table
  * state on the driver. Construction touches only tail-sized metadata
  * (checkpoint part paths + aggregate footers + the ≤10-commit tail —
  * [[LogLake.lazyPlanInfo]] proved the snapshot safe); every
  * `listFiles` runs file skipping as a SPARK JOB over the checkpoint
  * parts ([[LogLake.partPruneJob]], one task per part, the tail as a
  * broadcast delta), so the driver's working set is the SURVIVOR list
  * for this query's filters — thousands of entries where the resolved
  * state would be gigabytes. `sizeInBytes` is the footer-aggregate sum
  * plus tail adds: an upper bound (removed files' bytes would need a
  * state lookup), which is the safe direction for broadcast planning.
  *
  * Identity-PARTITIONED snapshots (round 14) surface their real
  * `partitionSchema` — the property that keeps DYNAMIC PARTITION
  * PRUNING alive through the lazy plan — and evaluate partition
  * predicates EXACTLY without ever listing files on the driver: one
  * job returns the snapshot's DISTINCT tuples (metadata-sized — a
  * date-partitioned decade is ~3,650), the driver admits tuples under
  * [[PartitionTuples.admit]] (the same interpreted evaluation the
  * eager index uses; DPP filters are evaluated by FileSourceScanExec
  * itself over the per-tuple directories), and the skipping job
  * then prunes by admitted-tuple membership alongside the stats
  * constraints — so a partition-selective query's survivor list is
  * already partition-pruned when it reaches the driver.
  * Bucketed/DV-bearing/column-mapped snapshots never reach this class
  * — they keep [[LogLakeFileIndex]]'s exact machinery. */
final class LazyLogLakeFileIndex(spark: SparkSession, dir: String,
    plan: LogLake.LazyPlan) extends FileIndex {

  private val partFields: Seq[StructField] = {
    val byName = plan.schema.fields.map(f => f.name -> f).toMap
    plan.partCols.flatMap(byName.get) // all present: lazyPlanInfo gated
  }

  override def rootPaths: Seq[Path] = Seq(new Path(dir))
  override def partitionSchema: StructType = StructType(partFields)
  def tableSchema: StructType = plan.schema

  /** Files the LAST planned scan admitted — spec observability,
    * mirroring [[LogLakeFileIndex.lastScanFiles]]. */
  @volatile var lastScanFiles: Int = -1
  /** How many listFiles calls ran as jobs — spec observability. */
  @volatile var planJobs: Int = 0

  /** The snapshot's distinct partition tuples, typed — SNAPSHOT-
    * STATIC, so one job serves every listFiles of this plan (Spark
    * re-lists on each scan; re-running a full part pass per scan would
    * double the partitioned plan's cost for nothing). */
  private lazy val cachedTuples: Seq[Seq[String]] = {
    val t = LogLake.partitionTuplesJob(spark, plan).toSeq
    planJobs += 1
    t
  }
  private def tupleRows(zone: Option[String]): Seq[(InternalRow, Seq[String])] =
    cachedTuples.map(t => (PartitionTuples.typedRow(partFields, t, zone), t))

  private def survivors(dataFilters: Seq[Expression],
      admitted: Option[Set[Seq[String]]] = None): Seq[LogLake.AddFile] = {
    // constraints extract on the driver (expressions don't ship); the
    // rendered conjunction and the admitted-tuple set are both tiny
    // and serializable
    val cs = LogLake.statConstraints(dataFilters, _ => None)
    val phys = plan.partCols
    val base: LogLake.AddFile => Boolean =
      if (cs.isEmpty) _ => true
      else a => LogLake.constraintsKeep(cs, a)
    val keep: LogLake.AddFile => Boolean = admitted match {
      case None => base
      case Some(t) => a =>
        t.contains(phys.map(a.partitionValues)) && base(a)
    }
    val (kept, _) = LogLake.planSurvivors(spark, plan, keep)
    planJobs += 1
    kept
  }

  private def status(a: LogLake.AddFile): FileStatus = {
    require(a.bytes >= 0L,
      s"loglake: active file ${a.path} predates per-file byte " +
        "accounting — the lazy index cannot size it; disable " +
        "loglake.planning.distributed for this table")
    new FileStatus(a.bytes, false, 1, 0L, 0L,
      new Path(LogLake.resolvedPath(dir, a.path)))
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    if (partFields.isEmpty) {
      val kept = survivors(dataFilters)
      lastScanFiles = kept.size
      Seq(PartitionDirectory(InternalRow.empty, kept.map(status).toArray))
    } else {
      val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
      // exact admission over the DISTINCT-TUPLE set (one metadata-
      // sized job), so the file-skipping job below ships an admitted-
      // membership predicate and a partition-selective query's
      // survivors arrive already pruned
      val admitted: Option[Set[Seq[String]]] =
        if (partitionFilters.isEmpty) None
        else {
          val rows = tupleRows(zone)
          Some(PartitionTuples
            .admit(spark, partFields, partitionFilters, rows)
            .map(_._2).toSet)
        }
      val kept = survivors(dataFilters, admitted)
      lastScanFiles = kept.size
      kept.groupBy { a =>
        require(plan.partCols.forall(a.partitionValues.contains),
          s"loglake: active file ${a.path} carries no partition tuple " +
            s"for spec ${plan.partCols.mkString(",")} — a foreign or " +
            "hand-built manifest; disable loglake.planning.distributed " +
            "for this table")
        plan.partCols.map(a.partitionValues)
      }.toSeq.map { case (tuple, fs) =>
        PartitionDirectory(PartitionTuples.typedRow(partFields, tuple, zone),
          fs.map(status).toArray)
      }
    }
  }

  override def inputFiles: Array[String] =
    survivors(Nil).map(a => LogLake.resolvedPath(dir, a.path)).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = math.max(1L, plan.sumBytes)
}

/** V1 streaming source over the commit log: offset = version, batch =
  * the parquet files versions `(start, end]` added. `getBatch` returns
  * a plain parquet read of exactly those files (the FileStreamSource
  * pattern), so replaying a checkpointed range re-reads byte-identical
  * data — manifests are immutable once published. */
final class LogLakeSource(spark: SparkSession, dir: String,
    options: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadLimit, ReadMaxBytes, ReadMaxFiles, Offset => ConnOffset}

  private val ignoreChanges = options.get("ignoreChanges").exists(_.toBoolean)
  // Delta's streaming CDF: each micro-batch delivers the admitted
  // commits' row-level CHANGES (_change_type insert|delete|
  // update_preimage|update_postimage, _commit_version,
  // _commit_timestamp) instead of their raw files — merge-on-read and
  // copy-on-write commits both stream as events, pre-images resolved
  // through deletion vectors, no append-only requirement at all.
  private val readChangeFeed = options.get("readChangeFeed").exists(_.toBoolean)
  require(!(readChangeFeed && ignoreChanges),
    "loglake: readChangeFeed delivers changes exactly — ignoreChanges " +
      "(lossy re-emit) contradicts it; drop one")
  // Delta's initial-snapshot contract: the first batch is the CURRENT
  // table state (whatever history produced it — merges and all), and
  // only commits AFTER that pin stream incrementally. Without it the
  // stream replays the commit log from version 1, which demands an
  // append-only history.
  private val initialSnapshot = options.get("initialSnapshot").exists(_.toBoolean)
  require(!(initialSnapshot &&
      (options.contains("startingVersion") || options.contains("startingTimestamp"))),
    "loglake: initialSnapshot and startingVersion/startingTimestamp are " +
      "mutually exclusive — the snapshot IS the starting point")
  require(!(options.contains("startingVersion") && options.contains("startingTimestamp")),
    "loglake: startingVersion and startingTimestamp are mutually exclusive")
  // `startingVersion` is INCLUSIVE, as in Delta: the stream's first
  // batch begins AT that version. Internally the floor is exclusive
  // (offsets name the last consumed version), hence the -1.
  // `startingTimestamp` resolves to the EARLIEST version whose commit
  // time is >= the timestamp (Delta's rule — "changes from this moment
  // on"), through the same monotonic in-commit clock as timestampAsOf.
  private val startV = options.get("startingVersion").map(_.toLong - 1L)
    .orElse(options.get("startingTimestamp").map { t =>
      val ms = LogLake.parseTimestampMillis(t)
      // a timestamp past the latest commit is almost always a typo
      // (nothing would ever stream) — fail loudly, Delta's rule for
      // startingTimestamp beyond the last commit
      val last = LogLake.currentVersion(dir)
      require(last == 0L || LogLake.commitTimestamp(dir, last).getTime >= ms,
        s"loglake: startingTimestamp $t is after the table's last commit " +
          s"(version $last at ${LogLake.commitTimestamp(dir, last)}) — " +
          "nothing would ever stream; use startingVersion or drop the option")
      // versionAtTimestamp gives the greatest version with ts <= ms;
      // the stream starts at the NEXT commit unless that version's own
      // commit time is exactly ms (then it is included)
      val atOrBefore =
        try LogLake.versionAtTimestamp(dir, ms)
        catch { case _: IllegalArgumentException => 0L } // predates v1 → all
      if (atOrBefore > 0L &&
        LogLake.commitTimestamp(dir, atOrBefore).getTime == ms) atOrBefore - 1L
      else atOrBefore
    })
    .getOrElse(0L)
  private val maxVersions = options.get("maxVersionsPerTrigger").map(_.toLong)
  private val maxBytes = options.get("maxBytesPerTrigger").map(_.toLong)
  // SUB-VERSION admission (Delta's maxFilesPerTrigger): unlike the two
  // caps above — whole-commit-grained — the file cap SPLITS an
  // append-class commit across micro-batches, so one fat backfill
  // commit (10⁶ files) streams as bounded batches instead of one
  // enormous trigger. Offsets then carry (version, filesConsumed);
  // rewrite/DV/optimize commits stay indivisible (their row semantics
  // are per-commit), as does the initialSnapshot first batch.
  private val maxFiles = options.get("maxFilesPerTrigger").map(_.toLong)
  maxVersions.foreach(n => require(n >= 1L, s"maxVersionsPerTrigger must be >= 1, got $n"))
  maxBytes.foreach(n => require(n >= 1L, s"maxBytesPerTrigger must be >= 1, got $n"))
  maxFiles.foreach(n => require(n >= 1L, s"maxFilesPerTrigger must be >= 1, got $n"))

  // the snapshot pin: the version the first batch will deliver when
  // initialSnapshot is on (getBatch re-reads the snapshot AS OF the
  // checkpointed end version on restart, so this pin only seeds the
  // first offer and never leaks newer rows into a replay)
  private val snapV: Long = if (initialSnapshot) LogLake.currentVersion(dir) else 0L

  // Frozen at stream start. A commit that ADDS columns beyond this
  // stops the stream loudly (silently projecting the new column away
  // loses data); a restart freezes the evolved schema, under which the
  // whole history reads consistently — old files surface the added
  // columns as NULL, the additive-evolution contract. Delta's behavior.
  // `mappedSchema` keeps the column-mapping metadata for file reads;
  // the PUBLIC schema is the cleaned logical shape. `frozenV` pins the
  // version the freeze happened at (schema and pin resolve together —
  // no TOCTOU between the two metadata reads).
  private val frozenV: Long = LogLake.currentVersion(dir)
  private val mappedSchema: StructType =
    LogLake.declaredSchema(dir, Some(frozenV))
  private val tableSchema: StructType = LogLake.cleanSchema(mappedSchema)
  override val schema: StructType =
    if (readChangeFeed) LogLakeSource.withCdfColumns(tableSchema)
    else tableSchema

  /** New-column detection compares PHYSICAL names: a RENAME keeps its
    * physical name (no false stop — replaying pre-rename commits under
    * the frozen post-rename schema is exactly what column mapping makes
    * sound), while a genuinely added column always has a fresh physical
    * name and stops the stream loudly. Commits AT OR BEFORE the freeze
    * version are exempt entirely: the frozen schema already reconciled
    * that history — a column present then but absent now was DROPPED,
    * and omitting it is the schema's own decision, not silent data
    * loss. Only post-freeze commits can smuggle new data past a frozen
    * schema. */
  private def requireNoNewColumns(incoming: StructType, v: Long): Unit = {
    if (v <= frozenV) return
    val known = mappedSchema.fields.map(LogLake.physName).toSet
    val extra = incoming.fields.filterNot(f => known(LogLake.physName(f))).map(_.name)
    if (extra.nonEmpty) throw new UnsupportedOperationException(
      s"loglake: version $v evolved the table schema (new column(s) " +
        s"${extra.mkString(", ")}) — restart the stream to adopt it; this " +
        "run's frozen schema would silently drop the new data")
  }

  private def ver(o: V1Offset): Long = parseOff(o)._1

  /** Offset decoding: a bare long is a WHOLE-VERSION position
    * (filesConsumed = -1, every pre-split checkpoint), the object form
    * `{"v":N,"i":K}` means "versions ≤ N-1 fully, plus the first K
    * add-files of version N" (manifests are immutable, so the index is
    * replay-stable). */
  private def parseOff(o: V1Offset): (Long, Int) = o match {
    case l: LongOffset => (l.offset, -1)
    case LogLakeSource.SplitOffset(v, i) => (v, i)
    case other => LogLakeSource.parseOffsetJson(other.json)
  }

  override def getOffset: Option[V1Offset] = {
    val v = LogLake.currentVersion(dir)
    if (initialSnapshot && v >= snapV) Some(LongOffset(math.max(v, snapV)))
    else if (v > startV) Some(LongOffset(v)) else None
  }

  // ---- SupportsAdmissionControl: maxVersionsPerTrigger caps how many
  // COMMITS a micro-batch admits, maxBytesPerTrigger how much add-file
  // volume (manifest-declared — no filesystem stats); the engine calls
  // latestOffset(start, limit) instead of getOffset when this interface
  // is present, the DeltaSource arrangement. The initial snapshot is
  // one indivisible batch regardless of caps (its rows share a single
  // consistent version — splitting it would expose a torn table).
  // Trigger.AvailableNow pins the run's end here and keeps issuing
  // capped batches until it is reached, because Spark's generic
  // wrapper would substitute allAvailable and break the caps.
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(LogLake.currentVersion(dir))

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxVersions.map(n => ReadLimit.maxFiles(n.toInt)).toSeq ++
      maxBytes.map(b => ReadLimit.maxBytes(b)).toSeq
    if (maxFiles.nonEmpty)
      // the file cap needs its own carrier (ReadMaxFiles already
      // carries the VERSION cap here); the limit object is a closed
      // loop between this method and latestOffset, never interpreted
      // by the engine
      LogLakeSource.GraftReadLimit(
        maxVersions.getOrElse(Long.MaxValue), maxFiles.get,
        maxBytes.getOrElse(Long.MaxValue))
    else limits match {
      case Seq()    => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(start: ConnOffset, limit: ReadLimit): ConnOffset = {
    val cur = availableNowEnd.getOrElse(LogLake.currentVersion(dir))
    val startPos: Option[(Long, Int)] =
      Option(start).map(o => LogLakeSource.parseOffsetJson(o.json))
    startPos match {
      case None if initialSnapshot =>
        LongOffset(snapV) // the snapshot batch itself (cur >= snapV always)
      case prev =>
        val (bv, bi) = prev.getOrElse((startV, -1))
        def asOffset(v: Long, i: Int): ConnOffset =
          if (i < 0) LongOffset(v) else LogLakeSource.SplitOffset(v, i)
        if (cur <= bv && bi < 0) return LongOffset(bv) // no new commits
        def caps(l: ReadLimit): (Long, Long, Long) = l match {
          case g: LogLakeSource.GraftReadLimit => (g.versions, g.bytes, g.files)
          case mf: ReadMaxFiles => (mf.maxFiles().toLong, Long.MaxValue, Long.MaxValue)
          case mb: ReadMaxBytes => (Long.MaxValue, mb.maxBytes(), Long.MaxValue)
          case c: CompositeReadLimit => c.getReadLimits.map(caps)
            .reduce((a, b) => (math.min(a._1, b._1), math.min(a._2, b._2),
              math.min(a._3, b._3)))
          case _ => (Long.MaxValue, Long.MaxValue, Long.MaxValue)
        }
        val (vCap, byteCap, fileCap) = caps(limit)
        // fast paths keep the uncapped (and pure-version-capped) hot
        // trigger loop manifest-free — the walk below reads every
        // manifest in range, which only capped admission needs
        if (vCap == Long.MaxValue && byteCap == Long.MaxValue &&
          fileCap == Long.MaxValue)
          return LongOffset(math.max(cur, bv))
        if (byteCap == Long.MaxValue && fileCap == Long.MaxValue && bi < 0)
          return LongOffset(math.min(cur, bv + vCap))
        // one walk serves every cap combination: versions/bytes admit
        // whole commits (first always — a fat commit must not wedge the
        // stream); the file cap additionally SPLITS append-class
        // commits at a file boundary, resuming mid-version next
        // trigger. The walk is LAZY (manifests read only while caps
        // stay open) and version-bounded when vCap is finite, so a
        // capped trigger against a deep backlog reads O(admitted)
        // manifests, never O(backlog).
        val fromExcl = if (bi >= 0) bv - 1 else bv
        val hi = if (vCap == Long.MaxValue) cur
          else math.min(cur, bv + vCap) // ≤ vCap admissions past bv
        var endV = bv; var endI = bi
        var versionsTaken = 0L; var filesTaken = 0L; var bytesTaken = 0L
        var open = true
        val it = LogLake.manifestIterator(dir, fromExcl, hi)
        while (it.hasNext && open) {
          val m = it.next()
          locally {
            val skip = if (m.version == bv && bi >= 0) bi else 0
            val adds = m.adds.drop(skip)
            val vBytes = adds.iterator.map(a => math.max(a.bytes, 0L)).sum
            val progressed = versionsTaken > 0L || filesTaken > 0L ||
              endI != bi || endV != bv
            // CDF narrows splittability further: an append-class
            // commit's change rows come 1:1 from its add-files, so a
            // file-boundary split is exact — but a commit carrying
            // write-time change files (insert-only MERGE with CDC)
            // must stay whole, since its change rows live in the cdc
            // files, not the adds
            val splittable = fileCap != Long.MaxValue && m.removes.isEmpty &&
              m.op != "optimize" && adds.forall(_.dv.isEmpty) &&
              (!readChangeFeed || m.cdc.isEmpty)
            if (splittable) {
              var taken = 0
              var fits = true
              adds.foreach { a =>
                val first = !progressed && taken == 0
                if (fits && (first ||
                    (filesTaken + 1 <= fileCap &&
                      bytesTaken + math.max(a.bytes, 0L) <= byteCap))) {
                  taken += 1
                  filesTaken += 1
                  bytesTaken += math.max(a.bytes, 0L)
                } else fits = false
              }
              if (taken == adds.size) {
                endV = m.version; endI = -1; versionsTaken += 1
                if (versionsTaken >= vCap || filesTaken >= fileCap ||
                  bytesTaken >= byteCap) open = false
              } else {
                if (taken > 0 || skip > 0) { endV = m.version; endI = skip + taken }
                open = false
              }
            } else {
              val wholeFits = !progressed ||
                (versionsTaken + 1 <= vCap && bytesTaken + vBytes <= byteCap &&
                  filesTaken + adds.size <= fileCap)
              if (wholeFits) {
                endV = m.version; endI = -1
                versionsTaken += 1; filesTaken += adds.size; bytesTaken += vBytes
                if (versionsTaken >= vCap || filesTaken >= fileCap ||
                  bytesTaken >= byteCap) open = false
              } else open = false
            }
          }
        }
        asOffset(endV, endI)
    }
  }

  override def reportLatestOffset(): ConnOffset =
    LongOffset(availableNowEnd.getOrElse(
      math.max(LogLake.currentVersion(dir), if (initialSnapshot) snapV else 0L)))

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val (to, toI) = parseOff(end)
    if (readChangeFeed) return getCdfBatch(start, to, toI)
    // Fast path: plain parquet file list (no deletion vectors in play) —
    // stays a single native vectorized scan. DV-bearing batches fall back
    // to the merge-on-read read (scan anti-join DV positions, the same
    // kernel as LogLake.snapshot), streaming-tagged via asStreamingRdd.
    var dvFrames = List.empty[DataFrame]
    val paths = start match {
      case None if initialSnapshot =>
        // first batch = the whole table AS OF the batch's end version
        // (checkpoint-stable: a restart replays the identical snapshot).
        // Active deletion vectors are honored, not refused — the
        // post-MERGE stream restart is the first thing a real user hits
        // (Delta serves it the same way). Under the distributed-
        // planning opt-in the snapshot's file list assembles as a JOB
        // over the checkpoint parts (round 14) — the one previously
        // remaining data-independent driver resolve on the read side.
        val (files, snapSchema) =
          LogLake.lazyPlanInfo(dir, to, allowDvs = true) match {
            case Some(p) =>
              (LogLake.planSurvivors(spark, p, _ => true)._1, p.schema)
            case None => LogLake.activeState(dir, Some(to))
          }
        requireNoNewColumns(snapSchema, to)
        val live = files.filter(_.rows != 0L)
        if (live.forall(_.dv.isEmpty)) live.map(a => LogLake.resolvedPath(dir, a.path))
        else { dvFrames ::= LogLake.readAdds(spark, dir, mappedSchema, live); Nil }
      case _ =>
        val (fromV, fromI) = start.map(parseOff).getOrElse((startV, -1))
        // a mid-version start re-includes its version, sliced below;
        // offsets only land mid-version on append-class commits (the
        // admission walk never splits rewrites/DV commits)
        val fromExcl = if (fromI >= 0) fromV - 1 else fromV
        def slice(m: LogLake.Manifest): Seq[LogLake.AddFile] = {
          val lo = if (m.version == fromV && fromI >= 0) fromI else 0
          val hi = if (m.version == to && toI >= 0) toI else m.adds.size
          m.adds.slice(lo, hi)
        }
        LogLake.manifestRange(dir, fromExcl, to).flatMap { m =>
          requireNoNewColumns(org.apache.spark.sql.types.DataType
            .fromJson(m.schemaJson).asInstanceOf[StructType], m.version)
          if (m.op == "optimize") Nil // layout-only: same rows, new files
          else if (m.adds.exists(_.dv.nonEmpty)) {
            // merge-on-read change commit: its adds re-list surviving
            // files with fresh DVs (plus any updated-row appends). Under
            // ignoreChanges, re-emit those files' LIVE rows — at-least-
            // once like the copy-on-write branch below, but deleted rows
            // stay masked, never resurrected. Without it, stop loudly.
            if (!ignoreChanges) throw new UnsupportedOperationException(
              s"loglake: streaming read requires an append-only table, but " +
                s"version ${m.version} is a merge-on-read ${m.op} (deletion " +
                "vectors). Set ignoreChanges=true to re-emit the touched " +
                "files' live rows (at-least-once, deletes stay masked), " +
                "start past it with startingVersion, or take the current " +
                "state first with initialSnapshot=true.")
            dvFrames ::= LogLake.readAdds(spark, dir, mappedSchema,
              m.adds.filter(_.rows != 0L))
            Nil
          }
          else if (m.removes.nonEmpty && !ignoreChanges)
            throw new UnsupportedOperationException(
              s"loglake: streaming read requires an append-only table, but version " +
                s"${m.version} is a ${m.op} that rewrote ${m.removes.size} file(s). " +
                "Set ignoreChanges=true to re-emit the rewritten files' rows " +
                "(at-least-once), start past it with startingVersion, or take " +
                "the current state first with initialSnapshot=true.")
          else slice(m).filter(_.rows != 0L)
            .map(a => LogLake.resolvedPath(dir, a.path))
        }
    }
    // a divergent column mapping needs the rename projection, which
    // asStreamingScan's raw-relation re-tag cannot carry — route those
    // batches through the RDD bridge like the DV fallback
    val divergent = LogLake.isDivergent(mappedSchema)
    val plain =
      if (paths.isEmpty) None
      else Some(LogLake.scanLogical(spark, mappedSchema, paths))
    (plain, dvFrames) match {
      case (None, Nil)    => GraftBridge.emptyStreamingFrame(spark, schema)
      case (Some(p), Nil) if !divergent => GraftBridge.asStreamingScan(p)
      case _ => GraftBridge.asStreamingRdd(
        (plain.toList ::: dvFrames).reduce(_ unionByName _))
    }
  }

  /** One CDF micro-batch: the changes of versions `(start, to]` — or,
    * under `initialSnapshot`, a first batch of the whole table's rows
    * as 'insert' at the snapshot version (Delta's startingVersion-less
    * streaming CDF contract: begin from current state, then tail).
    *
    * SUB-VERSION boundaries (`maxFilesPerTrigger`): the admission walk
    * only ever splits APPEND-CLASS commits with no write-time change
    * files, whose change rows come 1:1 from their add-files as
    * 'insert' — so a mid-version start/end slices that commit's
    * add-file list exactly like the raw mode, and the batch stays
    * byte-identical on replay (manifest add order is immutable).
    * Rewrite/DV/cdc-bearing commits always arrive whole, through
    * [[LogLake.changeFeed]]. */
  private def getCdfBatch(start: Option[V1Offset], to: Long,
      toI: Int): DataFrame = {
    // 'insert' rows of one append-class commit's add-files [lo, hi)
    def insertSlice(m: LogLake.Manifest, lo: Int, hi: Int): Option[DataFrame] = {
      requireNoNewColumns(org.apache.spark.sql.types.DataType
        .fromJson(m.schemaJson).asInstanceOf[StructType], m.version)
      require(m.removes.isEmpty && m.cdc.isEmpty && m.adds.forall(_.dv.isEmpty),
        s"loglake: mid-version offset into version ${m.version} (${m.op}), " +
          "which is not an append-class commit — corrupt checkpoint?")
      val files = m.adds.slice(lo, hi).filter(_.rows != 0L)
      if (files.isEmpty) None
      else Some(LogLake.readAdds(spark, dir, mappedSchema, files)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(m.version))
        .withColumn("_commit_timestamp",
          lit(LogLake.commitTimestamp(dir, m.version))))
    }
    // resuming a SPLIT commit needs that one version's manifest back;
    // cleanupMetadata's floor is unaware of streaming checkpoints, so
    // a long-stopped stream can find it swept — name the cause and the
    // remedy instead of surfacing a bare NoSuchElementException
    def splitManifest(v: Long): LogLake.Manifest = {
      val ms = LogLake.manifestRange(dir, v - 1, v)
      require(ms.nonEmpty,
        s"loglake: cannot resume the checkpointed mid-version CDF " +
          s"offset into version $v of $dir — its manifest is no longer " +
          "in the log (most likely swept by metadata retention while " +
          "the stream was stopped). Restart with a fresh checkpoint, " +
          "or set startingVersion inside the retained span")
      ms.head
    }
    val df = start match {
      case None if initialSnapshot =>
        val (files, snapSchema) =
          LogLake.lazyPlanInfo(dir, to, allowDvs = true) match {
            case Some(p) =>
              (LogLake.planSurvivors(spark, p, _ => true)._1, p.schema)
            case None => LogLake.activeState(dir, Some(to))
          }
        requireNoNewColumns(snapSchema, to)
        LogLake.readAdds(spark, dir, mappedSchema, files.filter(_.rows != 0L))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(to))
          .withColumn("_commit_timestamp", lit(LogLake.commitTimestamp(dir, to)))
      case _ =>
        val (fromV, fromI) = start.map(parseOff).getOrElse((startV, -1))
        val pieces = List.newBuilder[DataFrame]
        // (a) remainder of a split commit the last trigger stopped in
        if (fromI >= 0) {
          val m = splitManifest(fromV)
          val hi = if (to == fromV && toI >= 0) toI else m.adds.size
          insertSlice(m, fromI, hi).foreach(pieces += _)
        }
        // (b) whole versions between the boundaries
        val wholeFrom = fromV // (a) consumed the fromV tail when fromI >= 0
        val wholeTo = if (toI >= 0) to - 1 else to
        if (wholeTo > wholeFrom) {
          // same loud schema-evolution stop as the raw mode: a CDF
          // batch under a silently-narrowed schema would drop the new
          // column
          LogLake.manifestRange(dir, wholeFrom, wholeTo).foreach { m =>
            requireNoNewColumns(org.apache.spark.sql.types.DataType
              .fromJson(m.schemaJson).asInstanceOf[StructType], m.version)
          }
          pieces += LogLake.changeFeed(spark, dir, wholeFrom, wholeTo)
        }
        // (c) leading files of the split commit this trigger ends in
        if (toI >= 0 && to != fromV) {
          val m = splitManifest(to)
          insertSlice(m, 0, toI).foreach(pieces += _)
        }
        pieces.result() match {
          case Nil => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          case one :: Nil => one
          case many => many.map(_.select(
            schema.fieldNames.toIndexedSeq.map(col): _*)).reduce(_ union _)
        }
    }
    GraftBridge.asStreamingRdd(
      df.select(schema.fieldNames.toIndexedSeq.map(col): _*))
  }

  override def stop(): Unit = ()
}

object LogLakeSource {

  /** Mid-version stream position: versions ≤ `v`-1 fully consumed plus
    * the first `i` add-files of version `v` (manifest add order is
    * immutable, so the index replays byte-identically). Whole-version
    * positions keep the plain-long [[LongOffset]] encoding — every
    * pre-split checkpoint restores unchanged. */
  final case class SplitOffset(v: Long, i: Int)
      extends org.apache.spark.sql.execution.streaming.Offset {
    override def json: String = s"""{"v":$v,"i":$i}"""
  }

  private val SplitOffsetJson = """\{"v":(\d+),"i":(\d+)\}""".r

  /** Decode either offset encoding (bare long | split object). */
  def parseOffsetJson(j: String): (Long, Int) = j.trim match {
    case SplitOffsetJson(v, i) => (v.toLong, i.toInt)
    case plain => (plain.toLong, -1)
  }

  /** The admission caps as ONE carrier: versions/bytes admit whole
    * commits, `files` splits append-class commits ([[ReadLimit]] is a
    * closed loop between getDefaultReadLimit and latestOffset — the
    * engine passes it through uninterpreted). */
  final case class GraftReadLimit(versions: Long, files: Long, bytes: Long)
      extends org.apache.spark.sql.connector.read.streaming.ReadLimit

  /** The CDF read schema: table columns + the three change-metadata
    * columns, the `table_changes` shape. */
  def withCdfColumns(table: StructType): StructType =
    StructType(table.fields :+
      StructField("_change_type", org.apache.spark.sql.types.StringType,
        nullable = false) :+
      StructField("_commit_version", org.apache.spark.sql.types.LongType,
        nullable = false) :+
      StructField("_commit_timestamp", org.apache.spark.sql.types.TimestampType,
        nullable = false))
}

/** V1 streaming sink: each epoch is ONE transactional commit with
  * txnId `sink-<writerId>:<batchId>` — replayed epochs no-op inside
  * [[LogLake]]'s commit loop, so exactly-once rides on the table
  * format, not the execution engine. `explicitId` is the
  * checkpointLocation-derived identity when that option was passed;
  * otherwise identity comes from the streaming query id Spark pins on
  * the micro-batch thread (stable across restarts — it lives in the
  * checkpoint's metadata file — and unique per query). */
final class LogLakeSink(dir: String, statsCols: Seq[String],
    explicitId: Option[String], mode: OutputMode) extends Sink {

  private def writerId(spark: SparkSession): String =
    explicitId.orElse {
      Option(spark.sparkContext.getLocalProperty(
        org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY))
    }.getOrElse(throw new IllegalStateException(
      "loglake sink: no stable writer identity — pass " +
        "option(\"checkpointLocation\", ...) on the writer"))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // re-root on the executed plan: the incoming frame is wired to this
    // epoch's IncrementalExecution and must not be re-planned by the
    // write (the foreachBatch/DeltaSink move)
    val fresh = GraftBridge.truncateLineage(data)
    val spark = fresh.sparkSession
    val txn = s"sink-${writerId(spark)}:$batchId"
    val exists = LogLake.currentVersion(dir) > 0L
    mode match {
      case m if m == OutputMode.Complete() =>
        if (exists) LogLake.overwrite(spark, dir, fresh, statsCols, txn)
        else LogLake.create(spark, dir, fresh, statsCols, txn)
      case _ =>
        if (!exists) LogLake.create(spark, dir, fresh, statsCols, txn)
        // an empty epoch stages zero files and append() skips the
        // commit itself — no pre-emptive isEmpty, which would run the
        // epoch's plan twice
        else LogLake.append(spark, dir, fresh, statsCols, txn)
    }
  }

  override def toString: String = s"LogLakeSink[$dir]"
}
