package graft.sources


import java.nio.{ByteBuffer, ByteOrder}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types._

/** Parsed DCD file header — everything the planner needs to turn the
  * file into seek-addressable fixed-size frame records. Parsed ONCE on
  * the driver (the analog of the reference's driver-side length probe,
  * core/dask_traj.py:86) and shipped to every partition reader, which
  * then seeks straight to its first frame: no prefix scan, unlike the
  * text sources.
  *
  * DCD is the CHARMM/X-PLOR/NAMD binary trajectory format — the first
  * *binary* entry of the reference's format registry implemented here
  * (`.dcd → [xyz, unitcell_lengths, unitcell_angles]`,
  * core/dask_traj.py:28). Layout (public format, as documented by the
  * CHARMM dynamc docs and the VMD/MDTraj dcdplugin):
  *
  *   header record (84 bytes): magic "CORD" + 20 int32 `icntrl`:
  *     icntrl[0]=NSET (frames), [1]=ISTART, [2]=NSAVC,
  *     [9]=DELTA (float32 bits in CHARMM files),
  *     [10]=crystal flag (1 → per-frame unitcell record),
  *     [19]=CHARMM version (0 → X-PLOR variant)
  *   title record: int32 NTITLE + NTITLE×80 chars
  *   natoms record: one int32
  *   per frame:
  *     [if crystal] 48-byte record: 6 float64
  *       (A, gamma, B, beta, alpha, C) — CHARMM ≥ 22 stores the three
  *       angle slots as cos(angle) in [-1,1]; older files store degrees.
  *       The reader accepts both (the same tolerance the public
  *       dcdplugin applies).
  *     x record: natoms float32; y record; z record
  *
  * Every record is framed by 4-byte length markers (Fortran unformatted
  * sequential). Endianness is not declared in the file; it is detected
  * from the first marker (84 as little- vs big-endian int) and applied
  * uniformly — both byte orders occur in the wild and both are read.
  */
private[sources] final case class DcdHeader(
    endian: ByteOrder,
    nAtoms: Int,
    nFrames: Long,
    hasCell: Boolean,
    dataStart: Long,
    frameBytes: Long,
    istart: Int,
    nsavc: Int,
    delta: Double)

private[sources] object DcdHeader {

  private def fail(path: String, what: String): Nothing =
    throw new IllegalArgumentException(s"dcd parse error in $path: $what")

  /** Driver-side header probe: magic, icntrl, title block, natoms, and
    * the derived per-frame byte size. The frame COUNT is computed from
    * the file length (floor), not trusted from NSET — files appended by
    * a running simulation routinely carry a stale NSET, and a truncated
    * tail frame must not produce a torn read. */
  def parse(path: String): DcdHeader = {
    val raf = FsIO.openRandom(path)
    try {
      val fileLen = raf.length()
      if (fileLen < 116) fail(path, s"file too short ($fileLen bytes)")
      val head = new Array[Byte](4)
      raf.readFully(head)
      val le = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN).getInt
      val be = ByteBuffer.wrap(head).order(ByteOrder.BIG_ENDIAN).getInt
      val endian =
        if (le == 84) ByteOrder.LITTLE_ENDIAN
        else if (be == 84) ByteOrder.BIG_ENDIAN
        else fail(path, s"first record marker is not 84 (LE=$le, BE=$be) " +
          "— not a DCD file")
      val rec = new Array[Byte](84)
      raf.readFully(rec)
      val hb = ByteBuffer.wrap(rec).order(endian)
      val magic = new Array[Byte](4)
      hb.get(magic)
      if (new String(magic, "US-ASCII") != "CORD")
        fail(path, "magic is not 'CORD'")
      val icntrl = Array.fill(20)(hb.getInt)
      val istart = icntrl(1)
      val nsavc = icntrl(2)
      val charmm = icntrl(19) != 0
      // CHARMM stores DELTA as float32 bits in the int slot; the X-PLOR
      // variant stores a float64 spanning slots 9-10 — only the CHARMM
      // form is decoded (X-PLOR files get delta=1, time = step index)
      val delta =
        if (charmm) java.lang.Float.intBitsToFloat(icntrl(9)).toDouble
        else 1.0
      val hasCell = charmm && icntrl(10) != 0
      val endMark = new Array[Byte](4)
      raf.readFully(endMark)
      if (ByteBuffer.wrap(endMark).order(endian).getInt != 84)
        fail(path, "header closing marker is not 84")

      def readMarker(what: String): Int = {
        val b = new Array[Byte](4)
        raf.readFully(b)
        val v = ByteBuffer.wrap(b).order(endian).getInt
        if (v < 0) fail(path, s"negative $what marker $v")
        v
      }
      // title record: int32 ntitle + ntitle×80 chars
      val titleLen = readMarker("title")
      raf.seek(raf.getFilePointer + titleLen)
      if (readMarker("title close") != titleLen)
        fail(path, "title record markers disagree")
      // natoms record
      if (readMarker("natoms") != 4) fail(path, "natoms record is not 4 bytes")
      val nb = new Array[Byte](4)
      raf.readFully(nb)
      val nAtoms = ByteBuffer.wrap(nb).order(endian).getInt
      if (nAtoms <= 0) fail(path, s"declares $nAtoms atoms")
      if (readMarker("natoms close") != 4)
        fail(path, "natoms record markers disagree")

      val dataStart = raf.getFilePointer
      val coordRec = 8L + 4L * nAtoms // marker + floats + marker
      val frameBytes = (if (hasCell) 56L else 0L) + 3L * coordRec
      val nFrames = (fileLen - dataStart) / frameBytes
      DcdHeader(endian, nAtoms, nFrames, hasCell, dataStart, frameBytes,
        istart, nsavc, delta)
    } finally raf.close()
  }
}

/** DataSourceV2 connector for the DCD binary trajectory format — the
  * fourth entry of the per-format schema registry (SURVEY §2.1 S4) and
  * the one that proves the positioned-read design (S3,
  * core/dask_traj.py:329-361) on seek-addressable binary frames: each
  * partition reader computes `dataStart + frame × frameBytes` and seeks,
  * reading exactly its own byte range. Frame-range predicate pushdown
  * therefore skips *bytes*, not just parse work.
  *
  * Columns follow the reference registry entry
  * (`.dcd → [xyz, unitcell_lengths, unitcell_angles]`,
  * core/dask_traj.py:28): long layout + per-frame box lengths and
  * angles (nullable — X-PLOR files carry no cell). Coordinates and box
  * lengths are Å in the file and converted on scan (`in_units_of`
  * analog, core/dask_traj.py:240-243) with `unit_scale` defaulting to
  * 0.1 (Å→nm), matching the pdb source. Time is the CHARMM convention
  * `DELTA × (ISTART + frame × NSAVC)`.
  *
  * Usage: `spark.read.format("dcd").option("chunks", 100).load(path)`.
  */
class DcdDataSource extends FrameSource {
  override def shortName(): String = "dcd"
  override def schema: StructType = DcdTable.Schema
  // Å→nm, the reference's in_units_of default
  override def unitScale: Option[Double] = Some(0.1)
  override def codec(opts: FrameOptions,
      props: util.Map[String, String]): FrameCodec = new DcdCodec(opts)
}

object DcdTable {
  /** Long layout + unitcell lengths/angles, the reference's registry
    * column set for `.dcd` (core/dask_traj.py:28). */
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    StructField("box_a", FloatType, nullable = true),
    StructField("box_b", FloatType, nullable = true),
    StructField("box_c", FloatType, nullable = true),
    StructField("box_alpha", FloatType, nullable = true),
    StructField("box_beta", FloatType, nullable = true),
    StructField("box_gamma", FloatType, nullable = true)))
}

class DcdCodec(opts: FrameOptions) extends FrameCodec(opts) {
  override def exts: Seq[String] = Seq(".dcd")

  /** One ~200-byte header parse plans the whole file (far cheaper than
    * the text sources' line counts); each partition is a pure frame
    * range the reader converts to a byte offset. */
  override def probe(p: String, maxFrames: Long): FileFrames = {
    val h = DcdHeader.parse(p)
    FileFrames.uniform(h.nFrames, h.nAtoms)(DcdFrameRange(_, _, p, _))
  }

  override def reader(p: InputPartition, required: StructType)
      : PartitionReader[InternalRow] =
    new DcdPartitionReader(opts.unitScale, required,
      p.asInstanceOf[DcdFrameRange], opts.mode)
}

/** startFrame/endFrame are LOCAL to `filePath`; `frameOffset` is the
  * global frame id of the file's frame 0. */
case class DcdFrameRange(startFrame: Long, endFrame: Long,
    filePath: String, frameOffset: Long) extends InputPartition

/** Positioned binary read: seek to `dataStart + startFrame × frameBytes`
  * and read whole fixed-size frame records — the S3 positioned-read
  * contract (core/dask_traj.py:329-361) with a real seek instead of the
  * text sources' line skipping. Each frame's record markers are
  * validated; a torn or corrupt frame FAILFASTs with file/frame context
  * or, under DROPMALFORMED, drops that frame (all of its rows) and
  * warns — the ensure_type warn-and-continue analog. */
class DcdPartitionReader(unitScale: Double, required: StructType,
    range: DcdFrameRange, mode: String)
    extends PartitionReader[InternalRow] {

  private val dropMalformed = mode == ParseMode.DropMalformed
  private var dropped = 0L

  private val file = range.filePath
  // header re-parse per task is one 200-byte read; it keeps the
  // InputPartition serializable-small and the reader self-contained
  private val header = DcdHeader.parse(file)
  private val raf = FsIO.openRandom(file)
  raf.seek(header.dataStart + range.startFrame * header.frameBytes)

  private val frameBuf = new Array[Byte](header.frameBytes.toInt)
  private val xs = new Array[Float](header.nAtoms)
  private val ys = new Array[Float](header.nAtoms)
  private val zs = new Array[Float](header.nAtoms)
  // box: a, b, c, alpha, beta, gamma — null when the file has no cell
  private val box = new Array[Float](6)
  private var haveBox = false
  private var time = 0.0

  private var frame = range.startFrame - 1 // advanced by loadFrame
  private var emit = header.nAtoms // exhausted → load next frame
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = DcdTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private def parseFail(what: String): Nothing =
    throw new IllegalStateException(
      s"dcd parse error in $file at frame ${frame + range.frameOffset}: " +
        what)

  /** Reads one whole frame record into the buffers; false at range end.
    * The coordinate record markers double as a consistency check that
    * the seek arithmetic and the file agree. */
  private def loadFrame(): Boolean = {
    while (frame + 1 < range.endFrame) {
      frame += 1
      raf.readFully(frameBuf)
      val bb = ByteBuffer.wrap(frameBuf).order(header.endian)
      try {
        if (header.hasCell) {
          if (bb.getInt != 48) parseFail("unitcell record marker is not 48")
          // CHARMM XTL slot order: A, gamma, B, beta, alpha, C; angle
          // slots are cos(angle) in modern files, degrees in old ones
          val a = bb.getDouble; val g = bb.getDouble
          val b = bb.getDouble; val be = bb.getDouble
          val al = bb.getDouble; val c = bb.getDouble
          def angle(v: Double): Float =
            if (v >= -1.0 && v <= 1.0)
              math.toDegrees(math.acos(v)).toFloat
            else v.toFloat
          box(0) = (a * unitScale).toFloat
          box(1) = (b * unitScale).toFloat
          box(2) = (c * unitScale).toFloat
          box(3) = angle(al); box(4) = angle(be); box(5) = angle(g)
          haveBox = true
          if (bb.getInt != 48)
            parseFail("unitcell record markers disagree")
        } else haveBox = false
        val coordBytes = 4 * header.nAtoms
        def coordRecord(dst: Array[Float], axis: String): Unit = {
          if (bb.getInt != coordBytes)
            parseFail(s"$axis record marker is not $coordBytes")
          var i = 0
          while (i < header.nAtoms) {
            dst(i) = (bb.getFloat * unitScale).toFloat
            i += 1
          }
          if (bb.getInt != coordBytes)
            parseFail(s"$axis record markers disagree")
        }
        coordRecord(xs, "x"); coordRecord(ys, "y"); coordRecord(zs, "z")
        time = header.delta * (header.istart + frame * header.nsavc.toLong)
        emit = 0
        return true
      } catch {
        case _: IllegalStateException if dropMalformed =>
          dropped += header.nAtoms // the whole frame's rows are dropped
      }
    }
    false
  }

  override def next(): Boolean = {
    if (emit >= header.nAtoms && !loadFrame()) return false
    val a = emit
    emit += 1
    val row = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      row(i) = ordinals(i) match {
        case 0 => frame + range.frameOffset
        case 1 => time
        case 2 => a
        case 3 => xs(a)
        case 4 => ys(a)
        case 5 => zs(a)
        case n => if (haveBox) box(n - 6) else null
      }
      i += 1
    }
    current = InternalRow.fromSeq(row.toIndexedSeq)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = {
    ParseMode.warnDropped("dcd", file, dropped)
    raf.close()
  }
}
