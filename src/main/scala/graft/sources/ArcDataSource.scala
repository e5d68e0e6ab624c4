package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for the Tinker archive format (`.arc`,
  * reference registry `file_returns[".arc"]` = xyz + unitcell_lengths
  * + unitcell_angles, core/dask_traj.py:27) — the tenth registry
  * format. With it, every reference-registry extension that is not
  * codec-blocked (tng/hdf5/netcdf — see TrajLoad.KnownUnsupported)
  * or topology-only (pdb-as-topology, mol2, hoomdxml) reads and the
  * text ones also write.
  *
  * Frame layout (public Tinker spec): a `natoms [title]` line, an
  * OPTIONAL box line (`a b c alpha beta gamma`), then natoms atom
  * lines `id name x y z [type] [bonded ids...]`. The box line is
  * detected structurally: its six tokens are all numeric, while an
  * atom line's second token is an atom NAME — so the probe decides
  * box-present once per file and the frame stride follows (constant
  * frame shape, like every other source here).
  *
  * Options: `chunks`, `unit_scale` (default 0.1: Å → nm), `mode`
  * (shared ParseMode contract). `path` may be a file or a directory
  * of `*.arc[.gz]` shards. */
class ArcDataSource extends FrameSource {
  override def shortName(): String = "arc"
  override def schema: StructType = ArcTable.Schema
  override def unitScale: Option[Double] = Some(0.1)
  override def codec(opts: FrameOptions,
      props: util.Map[String, String]): FrameCodec = new ArcCodec(opts)
}

object ArcTable {
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("element", StringType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    StructField("box_a", FloatType, nullable = true),
    StructField("box_b", FloatType, nullable = true),
    StructField("box_c", FloatType, nullable = true),
    StructField("box_alpha", FloatType, nullable = true),
    StructField("box_beta", FloatType, nullable = true),
    StructField("box_gamma", FloatType, nullable = true)))

  /** A box line is six numeric tokens; an atom line's second token is
    * a name. */
  def isBoxLine(l: String): Boolean = {
    val t = l.trim.split("\\s+")
    t.length == 6 && t.forall(tok =>
      scala.util.Try(tok.toDouble).isSuccess)
  }
}

class ArcCodec(opts: FrameOptions) extends FrameCodec(opts) {
  override def exts: Seq[String] = Seq(".arc", ".arc.gz")

  /** Driver-side probe: natoms from the header, box presence from the
    * structure of the second line, frames from the line count. */
  override def probe(p: String, maxFrames: Long): FileFrames = {
    val src = XyzLines.open(p)
    val (nAtoms, hasBox, nFrames) = try {
      val it = src.getLines()
      if (!it.hasNext) (0, false, 0L)
      else {
        val nAtoms = it.next().trim.split("\\s+")(0).toInt
        if (!it.hasNext) (nAtoms, false, 0L)
        else {
          val hasBox = ArcTable.isBoxLine(it.next())
          var lines = 2L
          while (it.hasNext) { it.next(); lines += 1 }
          (nAtoms, hasBox, lines / (nAtoms + 1 + (if (hasBox) 1 else 0)))
        }
      }
    } finally src.close()
    FileFrames.uniform(nFrames, nAtoms)(
      ArcFrameRange(_, _, nAtoms, hasBox, p, _))
  }

  override def reader(p: InputPartition, required: StructType)
      : PartitionReader[InternalRow] =
    new ArcPartitionReader(opts.unitScale, required,
      p.asInstanceOf[ArcFrameRange], opts.mode)

  override def sink: Option[(String, LogicalWriteInfo) => WriteBuilder] =
    Some(new ArcWriteBuilder(_, opts.unitScale, _))
}

/** startFrame/endFrame are LOCAL to `filePath`; `frameOffset` is the
  * global frame id of the file's frame 0. */
case class ArcFrameRange(startFrame: Long, endFrame: Long, nAtoms: Int,
    hasBox: Boolean, filePath: String, frameOffset: Long)
    extends InputPartition

class ArcPartitionReader(unitScale: Double, required: StructType,
    range: ArcFrameRange, mode: String)
    extends PartitionReader[InternalRow] {

  private val dropMalformed = mode == ParseMode.DropMalformed
  private val coerceWarn = mode == ParseMode.CoerceWarn
  private var dropped = 0L
  private var coerced = 0L

  private val file = range.filePath
  private val src = XyzLines.open(file)
  private val lines = src.getLines()
  private val frameLines = range.nAtoms + 1 + (if (range.hasBox) 1 else 0)
  (0L until range.startFrame * frameLines).foreach { _ =>
    if (lines.hasNext) lines.next()
  }

  private var frame = range.startFrame
  private var atomInFrame = range.nAtoms
  private var box: Array[Float] = _
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = ArcTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private def parseFail(what: String, content: String): Nothing =
    throw new IllegalStateException(
      s"arc parse error in $file at frame ${frame + range.frameOffset}: " +
        s"$what (line: '${content.take(120)}')")

  private def numOrFail(tok: String, what: String, line: String): Double =
    try tok.toDouble catch {
      case _: NumberFormatException =>
        if (coerceWarn) ParseMode.coerce(tok) match {
          case Some(v) => coerced += 1; v
          case None => parseFail(s"non-numeric $what '$tok'", line)
        } else parseFail(s"non-numeric $what '$tok'", line)
    }

  override def next(): Boolean = {
    while (true) {
      if (frame >= range.endFrame) return false
      if (atomInFrame == range.nAtoms) {
        if (!lines.hasNext) return false
        lines.next() // natoms [title] — validated at plan time
        // box parse honors DROPMALFORMED like the lammpstrj reader:
        // a malformed box line drops the frame's box (null + counted)
        // instead of failing the whole task in drop mode
        box =
          if (range.hasBox) {
            try {
              val bl = if (lines.hasNext) lines.next() else ""
              val t = bl.trim.split("\\s+")
              if (t.length < 6) parseFail("box line needs 6 values", bl)
              Array(
                (numOrFail(t(0), "box a", bl) * unitScale).toFloat,
                (numOrFail(t(1), "box b", bl) * unitScale).toFloat,
                (numOrFail(t(2), "box c", bl) * unitScale).toFloat,
                numOrFail(t(3), "alpha", bl).toFloat,
                numOrFail(t(4), "beta", bl).toFloat,
                numOrFail(t(5), "gamma", bl).toFloat)
            } catch {
              case _: IllegalStateException if dropMalformed =>
                dropped += 1; null
            }
          } else null
        atomInFrame = 0
      }
      if (!lines.hasNext) return false
      val line = lines.next()
      try {
        val parts = line.trim.split("\\s+")
        if (parts.length < 5)
          parseFail(s"atom line has ${parts.length} fields, need 5", line)
        if (dropMalformed) {
          numOrFail(parts(0), "id", line)
          numOrFail(parts(2), "x", line)
          numOrFail(parts(3), "y", line)
          numOrFail(parts(4), "z", line)
        }
        val row = new Array[Any](ordinals.length)
        var i = 0
        while (i < ordinals.length) {
          row(i) = ordinals(i) match {
            case 0 => frame + range.frameOffset
            case 1 => (frame + range.frameOffset).toDouble
            case 2 => numOrFail(parts(0), "id", line).toInt
            case 3 => UTF8String.fromString(parts(1))
            case 4 => (numOrFail(parts(2), "x", line) * unitScale).toFloat
            case 5 => (numOrFail(parts(3), "y", line) * unitScale).toFloat
            case 6 => (numOrFail(parts(4), "z", line) * unitScale).toFloat
            case k => if (box == null) null else box(k - 7)
          }
          i += 1
        }
        current = InternalRow.fromSeq(row.toIndexedSeq)
        atomInFrame += 1
        if (atomInFrame == range.nAtoms) frame += 1
        return true
      } catch {
        case _: IllegalStateException if dropMalformed =>
          dropped += 1
          atomInFrame += 1
          if (atomInFrame == range.nAtoms) frame += 1
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = current

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ParseMode.taskMetrics(dropped, coerced)

  override def close(): Unit = {
    ParseMode.warnDropped("arc", file, dropped)
    ParseMode.warnCoerced("arc", file, coerced)
    src.close()
  }
}
