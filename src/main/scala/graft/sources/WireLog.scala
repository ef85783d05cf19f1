package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException, IOException}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Segment-log layout and record framing shared by the wirelog DSv2
  * source, sink, and the test producer — a file-backed stand-in for the
  * reference's Kafka topic (`consumer/sensor_data_consumer.py:47-62`):
  * a topic is a directory of immutable, monotonically numbered segment
  * directories, a message is a (key, Confluent-framed-Avro value) pair,
  * and the committed segment number is the offset.
  *
  * ```
  * dir/
  *   seg-00000000000000000001/part-00000..   one segment = one append or
  *   seg-00000000000000000001/_COMMITTED     one sink epoch; immutable
  *   seg-00000000000000000001/_WRITER        writer stamp (ownership check)
  *   _writer-<id>                            sink writer's base-segment claim
  *   _tmp/epoch-<e>/…                        in-flight writer output
  * ```
  *
  * Visibility protocol: a segment EXISTS only once its `_COMMITTED`
  * marker does; parts are moved in first, the marker is renamed in
  * last, and renames are atomic on HDFS-like filesystems — a reader
  * listing the directory can never observe a half-written segment.
  * Every rename's boolean result is checked: a false return (racing
  * writer, vanished staging file) aborts the commit loudly instead of
  * publishing an incomplete segment. All I/O goes through the Hadoop
  * FileSystem API, so the same code runs on HDFS/S3A on a cluster (a
  * production build would ship the session's hadoopConf to executors;
  * the framing and protocol are unchanged).
  *
  * Record framing inside a part file: big-endian `[keyLen][keyBytes]
  * [valueLen][valueBytes]`, length = -1 for a null key or null value
  * (the Kafka tombstone shape). EOF is clean ONLY at a record boundary;
  * a file ending mid-record raises instead of silently truncating the
  * scan.
  *
  * Known limitation (zombie writer, same class Kafka fences with
  * producer epochs): one live writer per topic. A long-dead writer
  * resurrected with its old base claim would publish low segment
  * numbers that consumers with advanced offsets never revisit; a
  * CONCURRENT second writer fails loudly at the first number collision
  * rather than corrupting, which is the property the tests pin.
  */
object WireLog {

  val SegPrefix = "seg-"
  val Committed = "_COMMITTED"
  val WriterStamp = "_WRITER"
  val TmpDir = "_tmp"

  /** ONE Hadoop conf per JVM for every log-side FileSystem / parquet
    * footer access. A fresh `new Configuration()` re-reads its default
    * resources (core-default.xml, core-site.xml, …) through a full
    * classpath scan on first property access — with a 300-jar Spark
    * classpath that scan was the single largest driver-side cost in the
    * r18 JFR profile (~26% of main-thread samples, paid again on every
    * commit/snapshot because fs() constructed a conf per call). The conf
    * is never mutated after construction; executors referencing it build
    * one lazily per JVM. */
  lazy val sharedConf: Configuration =
    // fork-free file:// for FileSystem and FileContext alike (see
    // NioLocalFileSystem); FileSystem.get caches per scheme, so this
    // also standardizes which impl every later in-process caller gets
    NioLocalFileSystem.register(new Configuration())

  def fs(dir: String): FileSystem = new Path(dir).getFileSystem(sharedConf)

  def segName(n: Long): String = f"$SegPrefix$n%020d"

  private def renameOrThrow(f: FileSystem, src: Path, dst: Path): Unit =
    if (!f.rename(src, dst))
      throw new IOException(s"wirelog: rename $src -> $dst failed " +
        "(destination exists or source vanished) — refusing to publish " +
        "a possibly incomplete segment")

  /** Committed segment numbers + paths with number > `floor`,
    * ascending. Segments at or below `floor` were already observed
    * committed (they are immutable), so re-listing skips their
    * per-segment `_COMMITTED` existence RPC — one directory listing
    * plus one exists() per NEW segment, not per segment ever written.
    */
  def listSegments(dir: String, floor: Long = Long.MinValue): Seq[(Long, Path)] = {
    val f = fs(dir)
    val base = new Path(dir)
    if (!f.exists(base)) return Seq.empty
    f.listStatus(base).toSeq
      .filter(s => s.isDirectory)
      .flatMap { s =>
        // strictly numeric seg-N names only: a stray `seg-backup` dir
        // must be ignored, not crash every listing with a parse error
        val name = s.getPath.getName
        if (name.startsWith(SegPrefix) && name.drop(SegPrefix.length).forall(_.isDigit))
          Some((name.stripPrefix(SegPrefix).toLong, s.getPath))
        else None
      }
      .filter { case (n, p) => n > floor && f.exists(new Path(p, Committed)) }
      .sortBy(_._1)
  }

  /** Next unused segment number: one past the max of the committed
    * segments AND the persisted high-water mark. The `_hwm` file is
    * bumped BEFORE a segment becomes visible and is never touched by
    * [[retentionSweep]], so a full sweep can never cause a NUMBER to be
    * reused — reuse would make new data invisible to any consumer whose
    * checkpointed offset is past it (Kafka never regresses offsets
    * after retention for the same reason). A crash between the bump
    * and the publish only wastes a number, which the half-open batch
    * range tolerates. */
  def nextSegment(dir: String): Long = {
    val f = fs(dir)
    val committed = listSegments(dir).lastOption.map(_._1).getOrElse(0L)
    math.max(committed, readHwm(f, dir)) + 1
  }

  /** The high-water mark is a DIRECTORY of empty marker files named by
    * segment number, not a single read-check-write file: concurrent
    * bumpers each create their own `_hwm/<n>` entry (creation is
    * per-name — there is no shared value to interleave on) and the mark
    * is the MAX name, so a smaller bump can never overwrite a larger
    * one. The previous single-file scheme could regress (A reads 0, B
    * writes 6, A writes 5), after which a full retention sweep plus
    * nextSegment would reuse a number — the exact hazard the hwm
    * exists to prevent. Entries below the max are pruned after each
    * bump; the max entry itself is never deleted, so a concurrent
    * reader always sees a value >= every completed bump. */
  private val HwmDir = "_hwm"

  private def readHwm(f: FileSystem, dir: String): Long = {
    val d = new Path(dir, HwmDir)
    if (!f.exists(d)) 0L
    else f.listStatus(d).iterator
      .map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .foldLeft(0L)((m, n) => math.max(m, n.toLong))
  }

  private def bumpHwm(f: FileSystem, dir: String, seg: Long): Unit =
    if (seg > readHwm(f, dir)) {
      f.create(new Path(dir, s"$HwmDir/$seg"), true).close()
      // prune strictly-smaller entries so the dir stays O(1); racing
      // pruners at most re-delete each other's garbage, never the max
      f.listStatus(new Path(dir, HwmDir)).foreach { s =>
        val n = s.getPath.getName
        if (n.nonEmpty && n.forall(_.isDigit) && n.toLong < seg)
          f.delete(s.getPath, false)
      }
    }

  /** Part files of one committed segment, ascending by name. */
  def listParts(f: FileSystem, seg: Path): Seq[Path] =
    f.listStatus(seg).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath).sortBy(_.getName)

  def writeRecord(out: DataOutputStream, key: String, value: Array[Byte]): Unit = {
    if (key == null) out.writeInt(-1)
    else {
      val kb = key.getBytes("UTF-8")
      out.writeInt(kb.length); out.write(kb)
    }
    if (value == null) out.writeInt(-1)
    else { out.writeInt(value.length); out.write(value) }
  }

  /** Closeable iterator over a part file's framed records. EOF is clean
    * only BEFORE a record's first length byte; anything shorter than a
    * whole record raises (silent truncation would break the source's
    * byte-identical-replay contract). Callers that stop early (limit,
    * task failure) must call `close()`. */
  final class PartIterator(f: FileSystem, part: Path)
    extends Iterator[(String, Array[Byte])] with AutoCloseable {
    private val in = new DataInputStream(f.open(part))
    private var closed = false
    private var nextRec: (String, Array[Byte]) = fetch()

    private def readLenOrEof(): Option[Int] = {
      // first byte by itself distinguishes clean EOF from truncation
      val b0 = in.read()
      if (b0 < 0) None
      else Some((b0 << 24) | (in.readUnsignedByte() << 16) |
        (in.readUnsignedByte() << 8) | in.readUnsignedByte())
    }
    private def fetch(): (String, Array[Byte]) =
      try readLenOrEof() match {
        case None => close(); null
        case Some(kl) =>
          val key = if (kl < 0) null else {
            val kb = new Array[Byte](kl); in.readFully(kb); new String(kb, "UTF-8")
          }
          val vl = in.readInt()
          val vb = if (vl < 0) null else {
            val b = new Array[Byte](vl); in.readFully(b); b
          }
          (key, vb)
      } catch {
        case _: EOFException =>
          close()
          throw new IOException(s"wirelog: $part ends mid-record — " +
            "truncated or corrupt part file")
      }
    override def hasNext: Boolean = nextRec != null
    override def next(): (String, Array[Byte]) = {
      val r = nextRec; nextRec = fetch(); r
    }
    override def close(): Unit =
      if (!closed) { closed = true; in.close() }
  }

  def readPart(f: FileSystem, part: Path): PartIterator = new PartIterator(f, part)

  /** Atomically publish a finished segment: the parts, the writer
    * stamp, AND the `_COMMITTED` marker are assembled in a staging dir
    * under `_tmp`, then ONE directory rename moves the complete
    * segment into place — a reader can never observe a partially
    * assembled segment, and two racing publishers of the same number
    * cannot interleave file-by-file (exactly one rename wins).
    *
    * Idempotence vs ownership: if the segment is already committed AND
    * carries OUR `stamp`, this is our own replayed epoch — clean up the
    * staged files and return. An already-committed segment with a
    * different (or missing) stamp belongs to someone else: throwing is
    * the only safe move, because "clean up and return" would silently
    * discard this epoch's rows. A destination dir WITHOUT a marker is
    * a crashed pre-atomic-rename attempt (or pre-upgrade garbage) —
    * invisible to readers by protocol, so it is cleared and the rename
    * retried once.
    *
    * The high-water mark is bumped BEFORE the rename: a crash between
    * the two wastes a number, never reuses one. */
  def publishSegment(f: FileSystem, dir: String, seg: Long,
      stagedParts: Seq[Path], stamp: String = ""): Unit = {
    val segPath = new Path(dir, segName(seg))
    val marker = new Path(segPath, Committed)
    def committedByUs(): Boolean =
      if (!f.exists(marker)) false
      else {
        val existing = readSmallFile(f, new Path(segPath, WriterStamp))
        if (stamp.nonEmpty && existing.contains(stamp)) true
        else throw new IOException(s"wirelog: ${segName(seg)} already committed " +
          s"by ${existing.getOrElse("an unknown writer")} — refusing to drop " +
          "this epoch's data (segment numbers collide; is another writer active?)")
      }
    def cleanupStaged(): Unit = stagedParts.foreach(p => f.delete(p, false))

    if (committedByUs()) { cleanupStaged(); return }
    // an existing dir WITHOUT a marker (checked just above) is a crashed
    // pre-atomic-rename attempt or pre-upgrade garbage — invisible to
    // readers by protocol; clear it or the rename below would nest the
    // staging dir INSIDE it (Hadoop rename-onto-existing-dir semantics)
    if (f.exists(segPath)) f.delete(segPath, true)
    val staging = new Path(dir,
      s"$TmpDir/seg-staging-${java.util.UUID.randomUUID()}")
    f.mkdirs(staging)
    stagedParts.zipWithIndex.foreach { case (p, i) =>
      renameOrThrow(f, p, new Path(staging, f"part-$i%05d"))
    }
    if (stamp.nonEmpty) writeSmallFile(f, new Path(staging, WriterStamp), stamp)
    f.create(new Path(staging, Committed), true).close()
    bumpHwm(f, dir, seg)
    if (!f.rename(staging, segPath)) {
      // destination appeared since the clear. Delete the staging dir
      // FIRST so BOTH outcomes clean up — committedByUs() throws on a
      // foreign commit, and a delete placed after it would be skipped,
      // leaking seg-staging-<uuid> under _tmp forever (epoch cleanup
      // only removes _tmp/epoch-<e>).
      f.delete(staging, true)
      if (committedByUs()) return
      throw new IOException(s"wirelog: could not publish ${segName(seg)} — " +
        "destination contested by another writer")
    }
    verifyPublishOwnership(f, dir, seg, staging.getName, stamp)
  }

  /** Post-rename ownership postcondition of [[publishSegment]]: OUR
    * staging dir must now BE the segment root. If a racer re-created
    * the destination between the clear and the rename, Hadoop's
    * rename-onto-existing-dir semantics NESTED the staging dir inside
    * the winner's segment and still returned true — and the WINNER's
    * marker would satisfy a bare existence check, so this epoch's rows
    * would be silently dropped while reporting success. Verify
    * ownership, not existence: no nested dir at the root, and (when
    * stamped) the root `_WRITER` stamp is ours. On mismatch the nested
    * garbage is deleted and the publish throws — the loser of the race
    * is loud, never a silent drop. (Package-visible so the spec can
    * exercise both directory states the race produces without having
    * to interleave two writers deterministically.) */
  private[graft] def verifyPublishOwnership(f: FileSystem, dir: String,
      seg: Long, stagingName: String, stamp: String): Unit = {
    val segPath = new Path(dir, segName(seg))
    val nested = new Path(segPath, stagingName)
    val owned = f.exists(new Path(segPath, Committed)) && !f.exists(nested) &&
      (stamp.isEmpty ||
        readSmallFile(f, new Path(segPath, WriterStamp)).contains(stamp))
    if (!owned) {
      f.delete(nested, true)
      throw new IOException(s"wirelog: publish of ${segName(seg)} raced with " +
        "another writer and was retracted — segment numbers collide")
    }
  }

  def readSmallFile(f: FileSystem, p: Path): Option[String] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
          .foreach(n => out.write(buf, 0, n))
        Some(new String(out.toByteArray, "UTF-8"))
      } finally in.close()
    }

  private[sources] def writeSmallFile(f: FileSystem, p: Path, content: String): Unit = {
    val o = f.create(p, true)
    try o.write(content.getBytes("UTF-8")) finally o.close()
  }

  /** Claim (or re-read) a writer's base segment number: the first claim
    * atomically writes max-committed-segment + 1 to `_writer-<id>`; a
    * restart of the same writer (same id, e.g. derived from the query's
    * checkpoint identity) reads the same base back, so epoch→segment
    * mapping is stable across restarts and never collides with
    * pre-existing segments.
    *
    * Multi-writer limitation (by design, like a Kafka partition having
    * ONE leader): claims of DIFFERENT writer ids are not mutually
    * exclusive. The claimed base is reserved in the hwm, so a second
    * writer claiming after this claim lands starts strictly above it —
    * but both writers' epoch sequences extend upward without bound, so
    * two LIVE writers on one topic will eventually collide on a
    * segment number. That collision is safe, not silent: publishSegment
    * verifies post-rename ownership (marker + no nested staging dir +
    * our `_WRITER` stamp), so the loser throws instead of dropping its
    * epoch. Supported operation remains one live writer per topic. */
  def claimWriterBase(f: FileSystem, dir: String, writerId: String): Long = {
    val claim = new Path(dir, s"_writer-$writerId")
    readSmallFile(f, claim) match {
      case Some(s) => s.trim.toLong
      case None =>
        val base = nextSegment(dir)
        f.mkdirs(new Path(dir))
        // reserve the base so a LATER claim by a different writer id
        // starts above it (narrows, does not eliminate, the
        // concurrent-writer collision window documented above)
        bumpHwm(f, dir, base)
        val tmp = new Path(dir, s"$TmpDir/.writer-$writerId-${java.util.UUID.randomUUID()}")
        writeSmallFile(f, tmp, base.toString)
        // atomic publish; a racing claim of the SAME writer id loses the
        // rename and re-reads the winner's base
        if (f.rename(tmp, claim)) base
        else {
          f.delete(tmp, false)
          readSmallFile(f, claim).map(_.trim.toLong).getOrElse(
            throw new IOException(s"wirelog: writer claim $claim unreadable"))
        }
    }
  }

  /** Kafka-style retention: delete committed segments with number ≤
    * `through`. The caller owns the safety condition — sweep only past
    * the minimum committed offset across every consumer group, exactly
    * like Kafka's `log.retention` vs consumer lag. Deleting the marker
    * FIRST makes a crashed sweep safe: a half-deleted segment without
    * its `_COMMITTED` marker is invisible to readers, never truncated-
    * but-listed. Returns the swept segment numbers. */
  def retentionSweep(dir: String, through: Long): Seq[Long] = {
    val f = fs(dir)
    listSegments(dir).takeWhile(_._1 <= through).map { case (n, p) =>
      if (!f.delete(new Path(p, Committed), false))
        throw new IOException(s"wirelog: could not retract ${segName(n)}'s commit marker")
      f.delete(p, true)
      n
    }
  }

  /** Test/demo producer: append one segment holding `records`. */
  def append(dir: String, records: Seq[(String, Array[Byte])]): Long = {
    val f = fs(dir)
    val next = nextSegment(dir)
    val staged = new Path(dir, s"$TmpDir/append-${java.util.UUID.randomUUID()}")
    val out = new DataOutputStream(f.create(staged, true))
    records.foreach { case (k, v) => writeRecord(out, k, v) }
    out.close()
    // stamp unique per call: append never replays, so a number collision
    // with a racing writer must fail loudly, never match as "our replay"
    publishSegment(f, dir, next, Seq(staged), s"append-${java.util.UUID.randomUUID()}")
    next
  }
}
