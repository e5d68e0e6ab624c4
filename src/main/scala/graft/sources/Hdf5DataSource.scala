package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types.StructType

/** The trajectory-convention view over one parsed HDF5 file. Two
  * public conventions resolve here:
  *
  *  - mdtraj `.h5`/`.hdf5`: `coordinates(frame, atom, 3) float`,
  *    optional `time(frame)`, `cell_lengths`/`cell_angles(frame, 3)`
  *    — native units nm/ps/degrees (reference registry
  *    core/dask_traj.py:32-33 `.h5/.hdf5 → [xyz, time,
  *    unitcell_lengths, unitcell_angles]`);
  *  - legacy MSMBuilder `.lh5`: `XYZList(frame, atom, 3)`, int16 =
  *    nm × 1000 (lossy fixed-point; `coordScale` undoes it) or plain
  *    float in later writers (core/dask_traj.py:39 `.lh5 → [xyz]`).
  */
private[sources] final case class H5Profile(
    nAtoms: Int, frames: Long, coords: Hdf5Format.Dataset,
    coordScale: Double, time: Option[Hdf5Format.Dataset],
    cellLen: Option[Hdf5Format.Dataset],
    cellAng: Option[Hdf5Format.Dataset])

private[sources] object H5Profile {
  def of(f: Hdf5Format.H5File, path: String): H5Profile = {
    def coordsOf(name: String): Option[Hdf5Format.Dataset] =
      f.datasets.get(name).map { c =>
        if (c.rank != 3 || c.dims(2) != 3)
          Hdf5Format.fail(path, s"$name must be [frame, atom, 3]; got " +
            s"[${c.dims.mkString(", ")}]")
        c
      }
    val (c, scale) = coordsOf("coordinates").map((_, 1.0))
      .orElse(coordsOf("XYZList").map { c =>
        // MSMBuilder's lossy fixed-point: int16 = nm × 1000
        val s = c.dtype match {
          case Hdf5Format.IntT(_, _, _) => 1.0 / 1000.0
          case _ => 1.0
        }
        (c, s)
      })
      .getOrElse(Hdf5Format.fail(path, "no 'coordinates' (mdtraj) or " +
        "'XYZList' (MSMBuilder) dataset — not a trajectory HDF5 file; " +
        s"datasets present: ${f.datasets.keys.toSeq.sorted
          .mkString(", ")}"))
    val frames = c.dims(0)
    val nAtoms = c.dims(1)
    if (nAtoms > Int.MaxValue)
      Hdf5Format.fail(path, s"$nAtoms atoms per frame")
    def opt(name: String, rowVals: Long): Option[Hdf5Format.Dataset] =
      f.datasets.get(name).filter { d =>
        d.dims.headOption.contains(frames) && d.rowElems == rowVals &&
          !d.dtype.isInstanceOf[Hdf5Format.Opaque]
      }
    H5Profile(nAtoms.toInt, frames, c, scale, opt("time", 1),
      opt("cell_lengths", 3), opt("cell_angles", 3))
  }

  def parse(path: String): H5Profile = {
    val raf = FsIO.openRandom(path)
    try of(Hdf5Format.parse(raf, path), path) finally raf.close()
  }
}

/** DataSourceV2 connector for HDF5 trajectories — the reference
  * registry's `.h5`/`.hdf5` (mdtraj's native format) and `.lh5`
  * (legacy MSMBuilder) rows (core/dask_traj.py:32-33,39), read by the
  * clean-room container parser in [[Hdf5Format]] (no HDF5 library).
  *
  * Planning is one metadata parse per file — (frames, atoms) come
  * from the `coordinates` dataspace — and each partition then touches
  * only the chunks intersecting its own frame range, decompressing
  * each gzip chunk exactly once (one-chunk cache, frames read in
  * order). Units are the convention's native nm/ps; `unit_scale`
  * rescales coordinates and cell lengths on read (e.g. 10.0 → Å).
  *
  * Usage: `spark.read.format("hdf5").option("chunks", 100)
  * .load(path)`. */
class Hdf5DataSource extends FrameSource {
  override def shortName(): String = "hdf5"
  override def schema: StructType = NetcdfTable.Schema
  override def unitScale: Option[Double] = Some(1.0) // convention units (nm)
  override def modes: Seq[String] = Seq(ParseMode.FailFast)
  override def codec(opts: FrameOptions,
      props: util.Map[String, String]): FrameCodec =
    new Hdf5Codec(opts, topAtoms(props))
}

/** `expectAtoms` is the `top=` topology's atom count (-1: no `top`). */
class Hdf5Codec(opts: FrameOptions, expectAtoms: Int)
    extends FrameCodec(opts) {
  override def exts: Seq[String] = Seq(".h5", ".hdf5", ".lh5")

  /** The `top` cross-check runs for EVERY expanded file — including
    * files the limit/frame range skips — so a mismatched trailing shard
    * fails at plan time instead of passing silently until a later
    * unrestricted read (ADVICE r13 #3). */
  override def checkFiles(files: Seq[String]): Unit =
    checkTop(files, expectAtoms)(H5Profile.parse(_).nAtoms)

  /** One metadata parse per file gives (natoms, frames) — O(header)
    * planning, the netcdf/DCD shape. */
  override def probe(p: String, maxFrames: Long): FileFrames = {
    val prof = H5Profile.parse(p)
    FileFrames.uniform(prof.frames, prof.nAtoms)(Hdf5FrameRange(_, _, p, _))
  }

  override def reader(p: InputPartition, required: StructType)
      : PartitionReader[InternalRow] =
    new Hdf5PartitionReader(opts.unitScale, required,
      p.asInstanceOf[Hdf5FrameRange])
}

/** startFrame/endFrame are LOCAL to `filePath`; `frameOffset` is the
  * global frame id of the file's frame 0. */
case class Hdf5FrameRange(startFrame: Long, endFrame: Long,
    filePath: String, frameOffset: Long) extends InputPartition

/** Per-partition read: time and cell columns (tiny) are slab-read once
  * for the whole frame range up front; coordinates stream frame by
  * frame through the [[Hdf5Format.SlabReader]] chunk cache, so each
  * compressed chunk is inflated exactly once per partition. When
  * x/y/z are pruned the coordinate chunks are never touched. */
class Hdf5PartitionReader(unitScale: Double, required: StructType,
    range: Hdf5FrameRange)
    extends PartitionReader[InternalRow] {

  private val raf = FsIO.openRandom(range.filePath)

  /** If any constructor-time parse/slab-read throws (corrupt shard) the
    * constructor never completes and Spark can't call close() — release
    * the handle before rethrowing, or each failed task attempt leaks a
    * descriptor. */
  private def initGuard[T](body: => T): T =
    try body
    catch {
      case e: Throwable =>
        try raf.close() catch { case _: Throwable => () }
        throw e
    }

  private val prof = initGuard {
    val f = Hdf5Format.parse(raf, range.filePath)
    H5Profile.of(f, range.filePath)
  }

  private val needXyz =
    required.fieldNames.exists(Set("x", "y", "z"))
  private val needCell = required.fieldNames.exists(
    Set("box_a", "box_b", "box_c", "box_alpha", "box_beta", "box_gamma"))
  private val needTime = required.fieldNames.contains("time")

  private val coordReader = initGuard {
    if (needXyz)
      new Hdf5Format.SlabReader(raf, range.filePath, prof.coords)
    else null
  }
  private val nFrames = (range.endFrame - range.startFrame).toInt
  private val times: Array[Double] = initGuard {
    if (needTime) prof.time.map { t =>
      new Hdf5Format.SlabReader(raf, range.filePath, t)
        .readSlab(range.startFrame, range.endFrame)
    }.getOrElse(Array.tabulate(nFrames)(i =>
      (range.frameOffset + range.startFrame + i).toDouble))
    else null
  }
  private val (cellL, cellA) = initGuard {
    if (needCell) (prof.cellLen, prof.cellAng) match {
      case (Some(l), Some(a)) =>
        (new Hdf5Format.SlabReader(raf, range.filePath, l)
          .readSlab(range.startFrame, range.endFrame),
         new Hdf5Format.SlabReader(raf, range.filePath, a)
          .readSlab(range.startFrame, range.endFrame))
      case _ => (null, null)
    } else (null, null)
  }

  private val scale = prof.coordScale * unitScale
  private var xs: Array[Float] = Array.empty
  private var frame = range.startFrame - 1
  private var emit = prof.nAtoms // start exhausted: first next() loads
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = NetcdfTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private def loadFrame(): Boolean = {
    if (frame + 1 >= range.endFrame) return false
    frame += 1
    if (needXyz) {
      val d = coordReader.readSlab(frame, frame + 1)
      val n = 3 * prof.nAtoms
      if (xs.length < n) xs = new Array[Float](n)
      var i = 0
      while (i < n) { xs(i) = (d(i) * scale).toFloat; i += 1 }
    }
    emit = 0
    true
  }

  override def next(): Boolean = {
    while (emit >= prof.nAtoms) {
      if (!loadFrame()) return false
    }
    val a = emit
    emit += 1
    val fi = (frame - range.startFrame).toInt
    val row = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      row(i) = ordinals(i) match {
        case 0 => frame + range.frameOffset
        case 1 => times(fi)
        case 2 => a // 0-based file-order ordinal (topology join key)
        case 3 => xs(3 * a)
        case 4 => xs(3 * a + 1)
        case 5 => xs(3 * a + 2)
        case n =>
          if (cellL == null) null
          else if (n < 9) (cellL(3 * fi + (n - 6)) * unitScale).toFloat
          else cellA(3 * fi + (n - 9)).toFloat
      }
      i += 1
    }
    current = InternalRow.fromSeq(row.toIndexedSeq)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = raf.close()
}
