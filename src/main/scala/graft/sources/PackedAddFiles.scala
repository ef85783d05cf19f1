package graft.sources

import java.io.ByteArrayOutputStream

import net.jpountz.lz4.LZ4Factory

import LogLake.{AddFile, ColStats}

/** BLOCK-COMPRESSED ACTIVE-FILE SET — the driver-heap answer to 10⁷+
  * file snapshots (VERDICT r12 #1). A resolved snapshot used to be one
  * `Vector[AddFile]`: ~4.4 GB of path strings, stats maps, and object
  * headers at 10⁷ files (`tools/MetaProbe`, BASELINE.md) — the format
  * scaled but the driver map didn't. This class IS a
  * `immutable.IndexedSeq[AddFile]` (every consumer — pruning, the
  * FileIndex build, checkpoint rendering, metadata-only aggregates —
  * keeps its code shape), but the working representation is LZ4-
  * compressed blocks of a compact binary encoding, decoded on demand
  * one block at a time:
  *
  *  - 64Ki entries per block, encoded with varints and length-prefixed
  *    UTF-8 (paths share long prefixes and stats repeat tags, which LZ4
  *    erases well — ~10-20 bytes/file packed vs ~440 bytes/file as
  *    objects);
  *  - sequential iteration ([[iterator]], [[rangeIterator]]) decodes
  *    blockwise with nothing but one block's entries live at a time;
  *  - random access ([[apply]]) keeps a one-block decode cache (racy by
  *    design — a lost race costs a re-decode, never a wrong answer);
  *  - [[rewriteBlocks]] is the tail-as-delta resolve's workhorse:
  *    blocks untouched by the delta are REUSED as compressed bytes
  *    (no re-encode), so applying a 10-commit tail to a 10⁷-file
  *    checkpoint costs one decode sweep plus a re-encode of only the
  *    touched blocks;
  *  - [[PackedAddFiles.concat]] glues multi-part checkpoint pieces
  *    without re-encoding a byte.
  *
  * Small tables never pay any of this: [[PackedAddFiles.GrowingBuilder]]
  * stays a plain `Vector` below [[PackedAddFiles.PackThreshold]] files.
  */
final class PackedAddFiles private[sources] (
    private[graft] val blocks: Array[Array[Byte]],
    private[graft] val rawSizes: Array[Int],
    private[graft] val starts: Array[Int], // first element index per block
    override val length: Int)
    extends scala.collection.immutable.IndexedSeq[AddFile] with Serializable {

  import PackedAddFiles._

  /** One-block decode cache for random access; volatile pair so a racy
    * publish is at worst a wasted decode. */
  @transient @volatile
  private var cache: (Int, Array[AddFile]) = (-1, null)

  private def blockEnd(b: Int): Int =
    if (b + 1 < starts.length) starts(b + 1) else length

  private[sources] def decodeBlock(b: Int): Array[AddFile] = {
    val n = blockEnd(b) - starts(b)
    val raw = lz4.fastDecompressor().decompress(blocks(b), rawSizes(b))
    val in = new Reader(raw)
    Array.fill(n)(readAdd(in))
  }

  override def apply(i: Int): AddFile = {
    if (i < 0 || i >= length)
      throw new IndexOutOfBoundsException(s"$i of $length")
    // binary search for the block holding element i
    var lo = 0; var hi = starts.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (starts(mid) <= i) lo = mid else hi = mid - 1
    }
    // c may be NULL (not just stale) after Java deserialization — the
    // @transient field skips its initializer on the read side
    val c = cache
    val entries =
      if (c != null && c._1 == lo && c._2 != null) c._2
      else { val e = decodeBlock(lo); cache = (lo, e); e }
    entries(i - starts(lo))
  }

  override def iterator: Iterator[AddFile] = rangeIterator(0, length)

  /** Block-aligned slice iterator — multi-part checkpoint writers pull
    * their slice without decoding what precedes it. */
  def rangeIterator(from: Int, until: Int): Iterator[AddFile] = {
    val f = math.max(0, from); val u = math.min(length, until)
    if (f >= u) return Iterator.empty
    var b = 0
    while (blockEnd(b) <= f) b += 1
    val firstBlock = b
    Iterator.range(firstBlock, starts.length)
      .takeWhile(bb => starts(bb) < u)
      .flatMap { bb =>
        val entries = decodeBlock(bb)
        val lo = math.max(0, f - starts(bb))
        val hi = math.min(entries.length, u - starts(bb))
        if (lo == 0 && hi == entries.length) entries.iterator
        else entries.iterator.slice(lo, hi)
      }
  }

  override def foreach[U](f: AddFile => U): Unit = iterator.foreach(f)

  /** Copy-on-write block rewrite: `f` maps each entry to None (drop) or
    * Some(replacement); a block whose every entry maps to itself (eq)
    * is carried over as its original compressed bytes. `appended`
    * entries pack onto the end as fresh blocks. The tail-as-delta
    * resolve calls this with tail-sized `f` state, so steady-state cost
    * is one decode sweep — no re-encode, no object graph. */
  def rewriteBlocks(f: AddFile => Option[AddFile],
      appended: => Iterator[AddFile]): PackedAddFiles = {
    val out = new Builder
    var b = 0
    while (b < blocks.length) {
      val entries = decodeBlock(b)
      var changed = false
      val kept = new java.util.ArrayList[AddFile](entries.length)
      var i = 0
      while (i < entries.length) {
        f(entries(i)) match {
          case Some(a) =>
            kept.add(a)
            if (a ne entries(i)) changed = true
          case None => changed = true
        }
        i += 1
      }
      if (!changed)
        out.appendCompressedBlock(blocks(b), rawSizes(b), entries.length)
      else {
        var j = 0
        while (j < kept.size()) { out += kept.get(j); j += 1 }
      }
      b += 1
    }
    appended.foreach(out += _)
    out.result()
  }
}

object PackedAddFiles {

  private[sources] val lz4 = LZ4Factory.fastestInstance()

  /** Entries per compressed block. 64Ki × ~440 B of transient decoded
    * objects ≈ 30 MB per live block — bounded regardless of table
    * size. */
  val BlockEntries: Int = 65536

  /** File count above which builders switch from a plain Vector to the
    * packed form. Below it (every ordinary table) nothing changes:
    * no compression, no decode, byte-identical behavior. */
  val PackThreshold: Int = 262144

  // ------------------------------------------------------------ encoding

  private final class Reader(val buf: Array[Byte]) {
    var pos = 0
    def readVarLong(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        val b = buf(pos); pos += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      v
    }
    def readZigZag(): Long = {
      val n = readVarLong()
      (n >>> 1) ^ -(n & 1L)
    }
    def readString(): String = {
      val n = readVarLong().toInt
      val s = new String(buf, pos, n, java.nio.charset.StandardCharsets.UTF_8)
      pos += n
      s
    }
  }

  private final class Writer(initial: Int) extends ByteArrayOutputStream(initial) {
    def writeVarLong(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0L) { write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      write(v.toInt)
    }
    def writeZigZag(v: Long): Unit = writeVarLong((v << 1) ^ (v >> 63))
    def writeString(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      writeVarLong(b.length.toLong); write(b, 0, b.length)
    }
    def raw: Array[Byte] = super.toByteArray
  }

  private def writeAdd(w: Writer, a: AddFile): Unit = {
    w.writeString(a.path)
    w.writeVarLong(a.rows)
    w.writeZigZag(a.bytes)
    w.writeString(a.dv)
    w.writeVarLong(a.dvRows)
    w.writeZigZag(a.baseRowId)
    w.writeVarLong(a.partitionValues.size.toLong)
    a.partitionValues.foreach { case (k, v) =>
      w.writeString(k); w.writeString(v)
    }
    w.writeVarLong(a.stats.size.toLong)
    a.stats.foreach { case (c, s) =>
      w.writeString(c); w.writeString(s.tpe)
      w.writeString(s.min); w.writeString(s.max)
      w.writeVarLong(s.nulls)
    }
  }

  private def readAdd(in: Reader): AddFile = {
    val path = in.readString()
    val rows = in.readVarLong()
    val bytes = in.readZigZag()
    val dv = in.readString()
    val dvRows = in.readVarLong()
    val brid = in.readZigZag()
    val nPv = in.readVarLong().toInt
    val pv =
      if (nPv == 0) Map.empty[String, String]
      else {
        val b = Map.newBuilder[String, String]
        var i = 0
        while (i < nPv) { b += in.readString() -> in.readString(); i += 1 }
        b.result()
      }
    val nSt = in.readVarLong().toInt
    val stats =
      if (nSt == 0) Map.empty[String, ColStats]
      else {
        val b = Map.newBuilder[String, ColStats]
        var i = 0
        while (i < nSt) {
          val c = in.readString()
          b += c -> ColStats(in.readString(), in.readString(),
            in.readString(), in.readVarLong())
          i += 1
        }
        b.result()
      }
    AddFile(path, rows, stats, bytes, dv, dvRows, pv, brid)
  }

  // ------------------------------------------------------------ builders

  /** Shared compressor pool: block compression runs OFF the producing
    * thread (the checkpoint parse is a serial token stream — at 10⁷
    * files the LZ4 pass would otherwise sit on its critical path).
    * Daemon threads; bounded; order restored at [[Builder.result]]. */
  private lazy val compressPool = java.util.concurrent.Executors
    .newFixedThreadPool(4, r => {
      val t = new Thread(r, "loglake-pack-compress")
      t.setDaemon(true)
      t
    })

  /** Always-packed builder. */
  final class Builder {
    private val blocks =
      scala.collection.mutable.ArrayBuffer[java.util.concurrent.Future[Array[Byte]]]()
    private val rawSizes = scala.collection.mutable.ArrayBuffer[Int]()
    private val starts = scala.collection.mutable.ArrayBuffer[Int]()
    private var n = 0
    private var inBlock = 0
    private var w = new Writer(1 << 16)

    private def flush(): Unit = if (inBlock > 0) {
      val raw = w.raw
      blocks += compressPool.submit(
        new java.util.concurrent.Callable[Array[Byte]] {
          override def call(): Array[Byte] =
            lz4.fastCompressor().compress(raw)
        })
      rawSizes += raw.length
      starts += n - inBlock
      inBlock = 0
      w = new Writer(1 << 16)
    }

    def +=(a: AddFile): this.type = {
      writeAdd(w, a)
      n += 1; inBlock += 1
      if (inBlock >= BlockEntries) flush()
      this
    }

    /** Adopt an already-compressed block verbatim (block copy-on-write
      * and multi-part concat). Any partial block in progress flushes
      * first — blocks need not be full, only ordered. */
    def appendCompressedBlock(block: Array[Byte], rawSize: Int,
        entries: Int): this.type = {
      flush()
      blocks += java.util.concurrent.CompletableFuture.completedFuture(block)
      rawSizes += rawSize
      starts += n
      n += entries
      this
    }

    def size: Int = n

    def result(): PackedAddFiles = {
      flush()
      new PackedAddFiles(blocks.map(_.get()).toArray, rawSizes.toArray,
        starts.toArray, n)
    }
  }

  /** Plain-below-threshold builder: ordinary tables get the ordinary
    * Vector; only a state that crosses [[PackThreshold]] pays for
    * packing. */
  final class GrowingBuilder {
    private var plain = new scala.collection.mutable.ArrayBuffer[AddFile](256)
    private var packed: Builder = null

    def +=(a: AddFile): this.type = {
      if (packed != null) packed += a
      else {
        plain += a
        if (plain.length >= PackThreshold) {
          packed = new Builder
          plain.foreach(packed += _)
          plain = null
        }
      }
      this
    }

    def size: Int = if (packed != null) packed.size else plain.length

    def result(): Seq[AddFile] =
      if (packed != null) packed.result() else plain.toVector
  }

  /** Concatenate checkpoint pieces. All-packed pieces glue at the
    * block level (zero re-encode — the multi-part resolve path);
    * anything else re-packs only when the total crosses the
    * threshold. */
  def concat(pieces: Seq[Seq[AddFile]]): Seq[AddFile] = {
    val total = pieces.iterator.map(_.size.toLong).sum
    if (total <= PackThreshold) return pieces.flatten.toVector
    val out = new Builder
    pieces.foreach {
      case p: PackedAddFiles =>
        var b = 0
        while (b < p.blocks.length) {
          val entries = (if (b + 1 < p.starts.length) p.starts(b + 1)
            else p.length) - p.starts(b)
          out.appendCompressedBlock(p.blocks(b), p.rawSizes(b), entries)
          b += 1
        }
      case plain => plain.foreach(out += _)
    }
    out.result()
  }
}
