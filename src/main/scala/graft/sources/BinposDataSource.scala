package graft.sources


import java.nio.{ByteBuffer, ByteOrder}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types._

/** DataSourceV2 connector for the Scripps/AMBER binpos binary format
  * (`.binpos`, reference registry `file_returns[".binpos"]` = xyz
  * only, core/dask_traj.py:29) — the ninth registry format and the
  * simplest binary one: a 4-byte `fxyz` magic, then one record per
  * frame of `[int32 natoms][3·natoms float32 coords]`, little-endian
  * (as written by the public VMD/MDTraj binposplugin). With a constant
  * atom count the frame stride is fixed, so partition readers seek
  * straight to their first frame like the dcd source — no prefix scan.
  *
  * Options: `chunks` (frames per partition), `unit_scale` (default
  * 0.1: Å → nm). `path` may be a file or a directory of `*.binpos`
  * shards (name order, globally contiguous frame ids). Frames whose
  * natoms field disagrees with the first frame fail the task (variable
  * atom counts are not supported, matching the other sources). */
class BinposDataSource extends FrameSource {
  override def shortName(): String = "binpos"
  override def schema: StructType = BinposTable.Schema
  override def unitScale: Option[Double] = Some(0.1)
  override def modes: Seq[String] = Seq(ParseMode.FailFast)
  override def codec(opts: FrameOptions,
      props: util.Map[String, String]): FrameCodec =
    new BinposCodec(opts, topAtoms(props))
}

object BinposTable {
  /** xyz-only column set (`file_returns[".binpos"]`); time is the
    * frame ordinal. */
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false)))

  val Magic: Array[Byte] = "fxyz".getBytes("US-ASCII")

  /** (natoms, nFrames) from the driver-side probe: magic + first
    * frame's natoms field + size arithmetic. */
  def probe(p: String): (Int, Long) = {
    val raf = FsIO.openRandom(p)
    try {
      if (raf.length() < 8) return (0, 0L)
      val m = new Array[Byte](4)
      raf.readFully(m)
      if (!java.util.Arrays.equals(m, Magic))
        throw new IllegalArgumentException(
          s"binpos $p: bad magic '${new String(m, "US-ASCII")}' " +
            "(expected 'fxyz')")
      val b = new Array[Byte](4)
      raf.readFully(b)
      val nAtoms =
        ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt
      if (nAtoms <= 0) throw new IllegalArgumentException(
        s"binpos $p: non-positive natoms $nAtoms")
      val stride = 4L + 12L * nAtoms
      (nAtoms, (raf.length() - 4) / stride)
    } finally raf.close()
  }
}

/** `expectAtoms` is the `top=` topology's atom count (-1: no `top`). */
class BinposCodec(opts: FrameOptions, expectAtoms: Int)
    extends FrameCodec(opts) {
  override def exts: Seq[String] = Seq(".binpos")

  /** binpos carries natoms in its header; `top` is a plan-time
    * cross-check against the topology's first-model atom count. It
    * covers EVERY file the load names — including files limit/frame
    * pruning will never read (same contract as inpcrd, which validates
    * per file read): a trailing shard whose header disagrees with the
    * topology is a corrupt dataset, and hiding that behind a small limit
    * would let it surface only in the one query that happens to read far
    * enough. Each check is one 8-byte header read, only when `top` is
    * given. */
  override def checkFiles(files: Seq[String]): Unit =
    checkTop(files, expectAtoms)(BinposTable.probe(_)._1)

  override def probe(p: String, maxFrames: Long): FileFrames = {
    val (nAtoms, nFrames) = BinposTable.probe(p)
    FileFrames.uniform(nFrames, nAtoms)(BinposFrameRange(_, _, nAtoms, p, _))
  }

  override def reader(p: InputPartition, required: StructType)
      : PartitionReader[InternalRow] =
    new BinposPartitionReader(opts.unitScale, required,
      p.asInstanceOf[BinposFrameRange])

  override def sink: Option[(String, LogicalWriteInfo) => WriteBuilder] =
    Some(new BinposWriteBuilder(_, opts.unitScale, _))
}

case class BinposFrameRange(startFrame: Long, endFrame: Long,
    nAtoms: Int, filePath: String, frameOffset: Long)
    extends InputPartition

/** Seeks to the partition's first frame by stride arithmetic, then
  * reads whole frames into a buffer. */
class BinposPartitionReader(unitScale: Double, required: StructType,
    range: BinposFrameRange) extends PartitionReader[InternalRow] {

  private val stride = 4L + 12L * range.nAtoms
  private val raf = FsIO.openRandom(range.filePath)
  raf.seek(4L + range.startFrame * stride)

  private var frame = range.startFrame
  private var atom = range.nAtoms
  private var coords: ByteBuffer = _
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = BinposTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private def readFrame(): Boolean = {
    // readFully, not read(): a single read() may legitimately return
    // fewer bytes than requested (large frames, network filesystems),
    // and treating that as EOF would silently drop the rest of the
    // partition. True EOF (no bytes left) ends the partition; a
    // PARTIAL trailing frame is a truncated file and errors.
    val remaining = raf.length() - raf.getFilePointer
    if (remaining <= 0) return false
    if (remaining < stride)
      throw new IllegalStateException(
        s"binpos ${range.filePath}: truncated trailing frame " +
          s"($remaining of $stride bytes)")
    val buf = new Array[Byte](stride.toInt)
    raf.readFully(buf)
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt
    if (n != range.nAtoms)
      throw new IllegalStateException(
        s"binpos ${range.filePath} frame ${frame + range.frameOffset}: " +
          s"natoms $n != planned ${range.nAtoms} (variable atom counts " +
          "are not supported)")
    coords = bb
    atom = 0
    true
  }

  override def next(): Boolean = {
    if (frame >= range.endFrame) return false
    if (atom >= range.nAtoms && !readFrame()) return false
    val a = atom
    val base = a * 12
    val row = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      row(i) = ordinals(i) match {
        case 0 => frame + range.frameOffset
        case 1 => (frame + range.frameOffset).toDouble
        case 2 => a
        case 3 => (coords.getFloat(4 + base) * unitScale).toFloat
        case 4 => (coords.getFloat(4 + base + 4) * unitScale).toFloat
        case 5 => (coords.getFloat(4 + base + 8) * unitScale).toFloat
      }
      i += 1
    }
    current = InternalRow.fromSeq(row.toIndexedSeq)
    atom += 1
    if (atom >= range.nAtoms) frame += 1
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = raf.close()
}
