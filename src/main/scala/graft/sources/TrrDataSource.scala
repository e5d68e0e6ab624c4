package graft.sources


import java.nio.ByteBuffer
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types._

/** One parsed TRR frame header: the 13 XDR size/count ints plus the
  * derived real width and byte extents. `headerBytes` + `payloadBytes`
  * is the full frame record, so an index walk can seek straight to the
  * next frame without touching the payload. */
private[sources] final case class TrrFrameHeader(
    boxSize: Int, virSize: Int, presSize: Int,
    xSize: Int, vSize: Int, fSize: Int,
    nAtoms: Int, step: Long, time: Double, lambda: Double,
    realSize: Int, headerBytes: Int, payloadBytes: Long)

private[sources] object TrrFormat {
  val Magic = 1993
  val MagicTag = "GMX_trn_file"

  def fail(path: String, frame: Long, what: String): Nothing =
    throw new IllegalArgumentException(
      s"trr parse error in $path at frame $frame: $what")

  /** Parses one frame header at the file's current position; returns
    * None cleanly at EOF (zero bytes left). A PARTIAL header or a
    * magic/tag mismatch throws — the caller decides whether that is
    * fatal (FAILFAST) or truncates the index (DROPMALFORMED). */
  def readHeader(raf: FsRandom, path: String, frame: Long)
      : Option[TrrFrameHeader] = {
    val start = raf.getFilePointer
    val remaining = raf.length() - start
    if (remaining == 0) return None
    if (remaining < 24) fail(path, frame, s"torn header ($remaining bytes)")
    val fixed = new Array[Byte](12) // magic + strlen+1 + strlen
    raf.readFully(fixed)
    val fb = ByteBuffer.wrap(fixed) // XDR: always big-endian
    val magic = fb.getInt
    if (magic != Magic)
      fail(path, frame, s"magic is $magic, not $Magic — not a TRR frame")
    fb.getInt // tag length + 1 (GROMACS string convention); informational
    val slen = fb.getInt
    if (slen <= 0 || slen > 64) fail(path, frame, s"bad tag length $slen")
    val padded = (slen + 3) / 4 * 4
    val tagBytes = new Array[Byte](padded)
    raf.readFully(tagBytes)
    val tag = new String(tagBytes, 0, slen, "US-ASCII")
    if (tag != MagicTag)
      fail(path, frame, s"tag is '$tag', not '$MagicTag'")
    // 13 XDR ints: ir, e, box, vir, pres, top, sym, x, v, f sizes,
    // natoms, step, nre
    val ints = new Array[Byte](52)
    raf.readFully(ints)
    val ib = ByteBuffer.wrap(ints)
    val irSize = ib.getInt; val eSize = ib.getInt
    val boxSize = ib.getInt; val virSize = ib.getInt
    val presSize = ib.getInt; val topSize = ib.getInt
    val symSize = ib.getInt
    val xSize = ib.getInt; val vSize = ib.getInt; val fSize = ib.getInt
    val nAtoms = ib.getInt; val step = ib.getInt; ib.getInt // nre
    if (nAtoms < 0) fail(path, frame, s"declares $nAtoms atoms")
    // legacy GROMACS header blocks that modern files never carry; the
    // payload layout below (box, vir, pres, x, v, f) assumes them absent
    if (irSize != 0 || eSize != 0 || topSize != 0 || symSize != 0)
      fail(path, frame, "unsupported legacy payload blocks " +
        s"(ir=$irSize, e=$eSize, top=$topSize, sym=$symSize)")
    // real width: the box block is 3×3 reals, a coordinate block
    // 3×natoms reals — whichever is present reveals the precision
    val realSize =
      if (boxSize > 0) boxSize / 9
      else if (xSize > 0 && nAtoms > 0) xSize / (3 * nAtoms)
      else 4
    if (realSize != 4 && realSize != 8)
      fail(path, frame, s"unsupported real width $realSize " +
        s"(box_size=$boxSize, x_size=$xSize, natoms=$nAtoms)")
    def real(b: ByteBuffer): Double =
      if (realSize == 8) b.getDouble else b.getFloat.toDouble
    val reals = new Array[Byte](2 * realSize)
    raf.readFully(reals)
    val rb = ByteBuffer.wrap(reals)
    val t = real(rb); val lambda = real(rb)
    val headerBytes = (raf.getFilePointer - start).toInt
    val payload = 0L + irSize + eSize + boxSize + virSize + presSize +
      topSize + symSize + xSize + vSize + fSize
    if (start + headerBytes + payload > raf.length())
      fail(path, frame, s"payload ($payload bytes) runs past EOF")
    Some(TrrFrameHeader(boxSize, virSize, presSize, xSize, vSize, fSize,
      nAtoms, step.toLong, t, lambda, realSize, headerBytes, payload))
  }

  /** Driver-side frame index: walk the headers, seek over the payloads.
    * Variable-size frames (velocities/forces present or not, per frame)
    * make TRR non-seek-addressable without this — the index IS the
    * `load_chunks` planning step (core/dask_traj.py:86-120) for a
    * variable-record binary. Cost is O(frames) tiny reads with seeks,
    * far below the text sources' full prefix scans; the 100 TB
    * production path — persisting this index as a sidecar once per
    * immutable file — is [[indexCached]]/[[FrameIndexCache]] (r20;
    * SCALING.md §sources). `maxFrames` lets pushed
    * frame-range/limit bounds stop the walk early.
    *
    * Returns (byteOffset, rowsBefore, header) per frame; frames with no
    * coordinate block (x_size = 0 — e.g. energy-only checkpoints) are
    * indexed but yield no rows. Under DROPMALFORMED a corrupt or torn
    * frame truncates the index with a warning; FAILFAST rethrows. */
  def index(path: String, mode: String, maxFrames: Long)
      : IndexedSeq[(Long, Long, TrrFrameHeader)] = {
    val raf = FsIO.openRandom(path)
    try {
      val out = IndexedSeq.newBuilder[(Long, Long, TrrFrameHeader)]
      var frame = 0L
      var rows = 0L
      var stop = false
      while (!stop && frame < maxFrames) {
        val off = raf.getFilePointer
        val h =
          try readHeader(raf, path, frame)
          catch {
            case e: IllegalArgumentException =>
              if (mode == ParseMode.DropMalformed) {
                org.slf4j.LoggerFactory.getLogger("graft.sources.trr").warn(
                  s"trr index truncated at frame $frame: ${e.getMessage} " +
                    "(mode=DROPMALFORMED)")
                None
              } else throw e
          }
        h match {
          case Some(hdr) =>
            out += ((off, rows, hdr))
            rows += (if (hdr.xSize > 0) hdr.nAtoms.toLong else 0L)
            raf.seek(off + hdr.headerBytes + hdr.payloadBytes)
            frame += 1
          case None => stop = true
        }
      }
      out.result()
    } finally raf.close()
  }

  /** [[index]] through [[FrameIndexCache]] (VERDICT r19 next #3):
    * in-session memo always; on-disk sidecar when
    * `spark.graft.index.dir` is set — one header walk per immutable
    * file EVER, invalidated on (length, mtime) change. */
  def indexCached(path: String, mode: String, maxFrames: Long)
      : IndexedSeq[(Long, Long, TrrFrameHeader)] =
    FrameIndexCache.cached("trr", path, mode, maxFrames,
      writeHeader, readHeaderMeta)(mf => index(path, mode, mf))

  private def writeHeader(o: java.io.DataOutputStream,
      h: TrrFrameHeader): Unit = {
    o.writeInt(h.boxSize); o.writeInt(h.virSize); o.writeInt(h.presSize)
    o.writeInt(h.xSize); o.writeInt(h.vSize); o.writeInt(h.fSize)
    o.writeInt(h.nAtoms); o.writeLong(h.step)
    o.writeDouble(h.time); o.writeDouble(h.lambda)
    o.writeInt(h.realSize); o.writeInt(h.headerBytes)
    o.writeLong(h.payloadBytes)
  }

  private def readHeaderMeta(i: java.io.DataInputStream): TrrFrameHeader =
    TrrFrameHeader(i.readInt(), i.readInt(), i.readInt(), i.readInt(),
      i.readInt(), i.readInt(), i.readInt(), i.readLong(),
      i.readDouble(), i.readDouble(), i.readInt(), i.readInt(),
      i.readLong())
}

/** DataSourceV2 connector for the GROMACS TRR binary trajectory format
  * — the fifth entry of the per-format schema registry (SURVEY §2.1 S4)
  * and the second BINARY one. Where DCD proves positioned reads on
  * fixed-size records (`dataStart + frame × frameBytes`), TRR frames
  * are VARIABLE-size (each frame independently carries or omits box,
  * velocity and force blocks), so the planner builds a frame index
  * driver-side ([[TrrFormat.index]]) and every partition carries the
  * exact byte offset of its first frame — the two planning shapes the
  * reference's chunked loader must handle (registry entry
  * `.trr → [xyz, time, step, unitcell_vectors, _]`,
  * core/dask_traj.py:31; chunk planning core/dask_traj.py:86-120).
  *
  * Layout (public GROMACS format; XDR big-endian): per frame a header
  * (magic 1993, the "GMX_trn_file" tag string, 13 size/count ints,
  * time + lambda reals) followed by the declared payload blocks
  * (box 3×3, virial, pressure, x/v/f each 3×natoms). Single- and
  * double-precision files are both read; the real width is inferred
  * per frame from the declared block sizes, exactly how the public
  * readers do it. Units are GROMACS-native (nm, ps) so `unit_scale`
  * defaults to 1.0.
  *
  * Columns: long layout + step + lambda + the full unitcell VECTORS
  * (gro-schema convention, nullable) + nullable velocity/force triples
  * — the registry's trailing `_` is exactly TRR's optional v/f payload.
  *
  * Usage: `spark.read.format("trr").option("chunks", 100).load(path)`.
  */
class TrrDataSource extends FrameSource {
  override def shortName(): String = "trr"
  override def schema: StructType = TrrTable.Schema
  // file is already nm (GROMACS native units)
  override def unitScale: Option[Double] = Some(1.0)
  override def codec(opts: FrameOptions,
      props: util.Map[String, String]): FrameCodec = new TrrCodec(opts)
}

object TrrTable {
  /** Long layout + step/lambda + unitcell vectors + optional velocity
    * and force triples — the `.trr` registry column set
    * (core/dask_traj.py:31). */
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("step", LongType, nullable = false),
    StructField("lambda", FloatType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    StructField("vx", FloatType, nullable = true),
    StructField("vy", FloatType, nullable = true),
    StructField("vz", FloatType, nullable = true),
    StructField("fx", FloatType, nullable = true),
    StructField("fy", FloatType, nullable = true),
    StructField("fz", FloatType, nullable = true),
    StructField("bv1x", FloatType, nullable = true),
    StructField("bv1y", FloatType, nullable = true),
    StructField("bv1z", FloatType, nullable = true),
    StructField("bv2x", FloatType, nullable = true),
    StructField("bv2y", FloatType, nullable = true),
    StructField("bv2z", FloatType, nullable = true),
    StructField("bv3x", FloatType, nullable = true),
    StructField("bv3y", FloatType, nullable = true),
    StructField("bv3z", FloatType, nullable = true)))
}

class TrrCodec(opts: FrameOptions) extends FrameCodec(opts) {
  override def exts: Seq[String] = Seq(".trr")

  /** One driver-side index walk per file (cached, see
    * [[TrrFormat.indexCached]]); a pushed frame bound stops the walk at
    * `maxFrames`. Each partition carries its first frame's byte offset. */
  override def probe(p: String, maxFrames: Long): FileFrames =
    FileFrames.indexed(TrrFormat.indexCached(p, opts.mode, maxFrames),
      (h: TrrFrameHeader) => if (h.xSize > 0) h.nAtoms.toLong else 0L)(
      TrrFrameRange(_, _, _, p, _))

  override def reader(p: InputPartition, required: StructType)
      : PartitionReader[InternalRow] =
    new TrrPartitionReader(opts.unitScale, required,
      p.asInstanceOf[TrrFrameRange], opts.mode)
}

/** startFrame/endFrame are LOCAL to `filePath`; `startByte` is the
  * exact offset of startFrame's header (from the driver index) and
  * `frameOffset` the global frame id of the file's frame 0. */
case class TrrFrameRange(startFrame: Long, endFrame: Long, startByte: Long,
    filePath: String, frameOffset: Long) extends InputPartition

/** Positioned read of a variable-record range: one seek to the
  * partition's indexed byte offset, then sequential header+payload
  * parsing — each frame's own declared sizes advance the cursor, so no
  * re-walk of preceding frames ever happens (S3,
  * core/dask_traj.py:329-361). Unreferenced payload blocks (virial,
  * pressure — and velocity/force when those columns are pruned) are
  * skipped, not read. */
class TrrPartitionReader(unitScale: Double, required: StructType,
    range: TrrFrameRange, mode: String)
    extends PartitionReader[InternalRow] {

  private val raf = FsIO.openRandom(range.filePath)
  raf.seek(range.startByte)

  private val needV = required.fieldNames.exists(Set("vx", "vy", "vz"))
  private val needF = required.fieldNames.exists(Set("fx", "fy", "fz"))

  private var hdr: TrrFrameHeader = _
  private var xs: Array[Float] = Array.empty
  private var vs: Array[Float] = Array.empty
  private var fs: Array[Float] = Array.empty
  private val box = new Array[Float](9)
  private var haveBox = false
  private var haveV = false
  private var haveF = false

  private var frame = range.startFrame - 1 // advanced by loadFrame
  private var emit = 0
  private var nAtoms = 0
  private var current: InternalRow = _
  private var dropped = 0L

  private val ordinals: Array[Int] = {
    val canon = TrrTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  /** Reads one frame's referenced blocks into the buffers; false at
    * range end. Frames without a coordinate block yield no rows but
    * still advance the cursor. */
  private def loadFrame(): Boolean = {
    while (frame + 1 < range.endFrame) {
      frame += 1
      val h = TrrFormat.readHeader(raf, range.filePath,
        frame + range.frameOffset).getOrElse(return false)
      hdr = h
      // absolute offsets of each payload block: box, vir, pres, x, v, f
      val payloadStart = raf.getFilePointer
      val frameEnd = payloadStart + h.payloadBytes
      val xOff = payloadStart + h.boxSize + h.virSize + h.presSize
      def block(at: Long, size: Int, n: Int, dst: Array[Float],
          scale: Double): Array[Float] = {
        raf.seek(at)
        val buf = new Array[Byte](size)
        raf.readFully(buf)
        val bb = ByteBuffer.wrap(buf)
        val out = if (dst.length == n) dst else new Array[Float](n)
        var i = 0
        if (h.realSize == 8) while (i < n) {
          out(i) = (bb.getDouble * scale).toFloat; i += 1
        } else while (i < n) {
          out(i) = (bb.getFloat * scale).toFloat; i += 1
        }
        out
      }
      if (h.boxSize > 0) {
        block(payloadStart, h.boxSize, 9, box, unitScale); haveBox = true
      } else haveBox = false
      if (h.xSize > 0) {
        nAtoms = h.nAtoms
        xs = block(xOff, h.xSize, 3 * nAtoms, xs, unitScale)
        haveV = h.vSize > 0 && needV
        if (haveV) vs = block(xOff + h.xSize, h.vSize, 3 * nAtoms, vs, 1.0)
        haveF = h.fSize > 0 && needF
        if (haveF)
          fs = block(xOff + h.xSize + h.vSize, h.fSize, 3 * nAtoms, fs, 1.0)
        // land exactly at the next frame regardless of what was read
        raf.seek(frameEnd)
        emit = 0
        return true
      } else {
        // no coordinates (energy-only frame): skip payload, no rows
        raf.seek(frameEnd)
        dropped += 1
      }
    }
    false
  }

  override def next(): Boolean = {
    if (current == null || emit >= nAtoms) {
      if (!loadFrame()) return false
    }
    val a = emit
    emit += 1
    val row = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      row(i) = ordinals(i) match {
        case 0 => frame + range.frameOffset
        case 1 => hdr.time
        case 2 => hdr.step
        case 3 => hdr.lambda.toFloat
        case 4 => a // 0-based file-order ordinal — the topology join key
        // contract every trajectory source shares (TrajLoad.topology)
        case 5 => xs(3 * a)
        case 6 => xs(3 * a + 1)
        case 7 => xs(3 * a + 2)
        case n if n <= 10 => if (haveV) vs(3 * a + (n - 8)) else null
        case n if n <= 13 => if (haveF) fs(3 * a + (n - 11)) else null
        case n => if (haveBox) box(n - 14) else null
      }
      i += 1
    }
    current = InternalRow.fromSeq(row.toIndexedSeq)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = {
    if (dropped > 0)
      org.slf4j.LoggerFactory.getLogger("graft.sources.trr").info(
        s"trr reader skipped $dropped coordinate-less frame(s) in " +
          range.filePath)
    raf.close()
  }
}
