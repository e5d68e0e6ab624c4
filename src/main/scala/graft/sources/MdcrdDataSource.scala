package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for the AMBER ASCII trajectory format
  * (`.crd` / `.mdcrd`, reference registry `file_returns[".crd"]` /
  * `[".mdcrd"]` = xyz + unitcell_lengths with angles assumed 90°,
  * core/dask_traj.py:41-42) — the seventh registry format, and the
  * first whose SHAPE IS NOT IN THE FILE: mdcrd carries no atom count
  * (AMBER readers get it from the prmtop topology), so the `natoms`
  * read option is REQUIRED — the Spark-idiomatic stand-in for the
  * reference's `load(filename, top=...)` topology argument
  * (core/dask_traj.py:61-84).
  *
  * File layout (public AMBER spec): one title line, then per frame
  * 3·natoms coordinates in fixed-width 10F8.3 (ten 8-char fields per
  * line, ceil(3N/10) lines), plus — when `box=true` — one 3F8.3 box-
  * length line after each frame. Fixed width means fields can abut
  * with no separating whitespace, so the parser slices 8-char columns
  * (splitting on spaces mis-parses negative coordinates like
  * `-99.999-100.001`).
  *
  * Options: `natoms` or `top` (one required — `top` names a PDB
  * topology whose first-model atom count supplies natoms; if both are
  * given they must agree), `box` (boolean, default false —
  * whether each frame carries a trailing box-length line; a 3-value
  * box line is indistinguishable from a 3-value final coordinate line,
  * so auto-detection would guess on 3N ≡ 3 mod 10 files), `chunks`,
  * `unit_scale` (default 0.1: AMBER Å → nm, the pdb source's
  * convention), `mode` (shared ParseMode contract). `path` may be a
  * file or a directory of `*.crd` / `*.mdcrd` (+`.gz`) shards.
  */
class MdcrdDataSource extends FrameSource {
  override def shortName(): String = "mdcrd"
  override def schema: StructType = MdcrdTable.Schema
  override def unitScale: Option[Double] = Some(0.1)

  /** The frame shape is NOT in the file: either `natoms` directly or
    * `top` (a PDB topology, the reference's `load(..., top=...)` idiom —
    * core/dask_traj.py:61,80-83) must supply it for a scan; both must
    * agree. The write path needs neither. */
  override def codec(opts: FrameOptions,
      props: util.Map[String, String]): FrameCodec = {
    val natoms = Option(props.get("natoms")).map { v =>
      try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"mdcrd option 'natoms' must be an integer, got '$v'")
      }
    }.getOrElse(-1)
    val box = Option(props.get("box")).map { v =>
      v.toLowerCase match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"mdcrd option 'box' must be true or false, got '$other'")
      }
    }.getOrElse(false)
    new MdcrdCodec(opts, PdbTopology.resolveNatoms("mdcrd",
      Option(props.get("top")), natoms), box)
  }
}

object MdcrdTable {
  /** Long layout; box as lengths only (angles are 90 by format
    * definition — `file_returns[".crd"]`'s "Needs to assume angles to
    * be 90"). time is the frame ordinal (mdcrd carries no time). */
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    StructField("box_a", FloatType, nullable = true),
    StructField("box_b", FloatType, nullable = true),
    StructField("box_c", FloatType, nullable = true)))

  /** ceil(3N/10) coordinate lines + optional box line per frame. */
  def frameLines(natoms: Int, box: Boolean): Int =
    (3 * natoms + 9) / 10 + (if (box) 1 else 0)
}

class MdcrdCodec(opts: FrameOptions, natoms: Int, box: Boolean)
    extends FrameCodec(opts) {
  override def exts: Seq[String] =
    Seq(".crd", ".mdcrd", ".crd.gz", ".mdcrd.gz")

  override def checkRead(): Unit =
    if (natoms <= 0) throw new IllegalArgumentException(
      "mdcrd needs the atom count: pass option 'natoms' (> 0) or " +
        "option 'top' (a PDB topology file) — the AMBER trajectory " +
        "format does not carry it (readers get it from the topology)")

  /** Driver-side probe: a line count (shape comes from the natoms
    * option, not the file; every file shares it — one topology). */
  override def probe(p: String, maxFrames: Long): FileFrames = {
    val src = XyzLines.open(p)
    val nFrames = try {
      val it = src.getLines()
      if (!it.hasNext) 0L
      else {
        it.next() // title
        var lines = 0L
        while (it.hasNext) { it.next(); lines += 1 }
        lines / MdcrdTable.frameLines(natoms, box)
      }
    } finally src.close()
    FileFrames.uniform(nFrames, natoms)(MdcrdFrameRange(_, _, p, _))
  }

  override def reader(p: InputPartition, required: StructType)
      : PartitionReader[InternalRow] =
    new MdcrdPartitionReader(natoms, box, opts.unitScale, required,
      p.asInstanceOf[MdcrdFrameRange], opts.mode)

  override def sink: Option[(String, LogicalWriteInfo) => WriteBuilder] =
    Some(new MdcrdWriteBuilder(_, box, opts.unitScale, _))
}

/** startFrame/endFrame are LOCAL to `filePath`; `frameOffset` is the
  * global frame id of the file's frame 0. */
case class MdcrdFrameRange(startFrame: Long, endFrame: Long,
    filePath: String, frameOffset: Long) extends InputPartition

/** Positioned chunk read over fixed-width 8-char coordinate columns. */
class MdcrdPartitionReader(natoms: Int, box: Boolean, unitScale: Double,
    required: StructType, range: MdcrdFrameRange, mode: String) extends PartitionReader[InternalRow] {

  private val coerceWarn = mode == ParseMode.CoerceWarn
  private val dropMalformed = mode == ParseMode.DropMalformed
  private var dropped = 0L
  private var coerced = 0L

  private val file = range.filePath
  private val src = XyzLines.open(file)
  private val lines = src.getLines()
  private val frameLines = MdcrdTable.frameLines(natoms, box)
  // skip title + whole frames before the range
  if (lines.hasNext) lines.next()
  (0L until range.startFrame * frameLines).foreach { _ =>
    if (lines.hasNext) lines.next()
  }

  private var frame = range.startFrame
  private var atomInFrame = natoms // force frame read on first next()
  private var coords: Array[Double] = _
  private var boxLen: Array[Float] = _
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = MdcrdTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private def parseFail(what: String, content: String): Nothing =
    throw new IllegalStateException(
      s"mdcrd parse error in $file at frame ${frame + range.frameOffset}" +
        s": $what (line: '${content.take(120)}')")

  private def numOrFail(tok: String, what: String, line: String): Double =
    try tok.trim.toDouble catch {
      case _: NumberFormatException =>
        if (coerceWarn) ParseMode.coerce(tok.trim) match {
          case Some(v) => coerced += 1; v
          case None => parseFail(s"non-numeric $what '${tok.trim}'", line)
        } else parseFail(s"non-numeric $what '${tok.trim}'", line)
    }

  /** Fixed-width slice: values occupy 8-char columns that may abut
    * with no whitespace. */
  private def sliceLine(line: String, out: Array[Double], from: Int)
      : Int = {
    var i = from
    var c = 0
    while (c + 8 <= line.length + 7 && c < line.length &&
        i < out.length) {
      val hi = math.min(c + 8, line.length)
      val tok = line.substring(c, hi)
      if (tok.trim.nonEmpty) { out(i) = numOrFail(tok, "coordinate", line)
        i += 1 }
      c += 8
    }
    i
  }

  /** Pulls EXACTLY frameLines lines first, then parses — so a
    * malformed frame under DROPMALFORMED skips cleanly without
    * misaligning the stream. Returns false at EOF. */
  private def readFrame(): Boolean = {
    val buf = new Array[String](frameLines)
    var l = 0
    while (l < frameLines) {
      if (!lines.hasNext) return false
      buf(l) = lines.next()
      l += 1
    }
    coords = new Array[Double](3 * natoms)
    var filled = 0
    val coordLines = (3 * natoms + 9) / 10
    var i = 0
    while (i < coordLines) {
      filled = sliceLine(buf(i), coords, filled)
      i += 1
    }
    if (filled != 3 * natoms)
      parseFail(s"frame has $filled coordinates, expected ${3 * natoms}",
        buf(0))
    boxLen =
      if (box) {
        val bl = buf(frameLines - 1)
        val b = new Array[Double](3)
        if (sliceLine(bl, b, 0) != 3)
          parseFail("box line needs 3 lengths", bl)
        b.map(v => (v * unitScale).toFloat)
      } else null
    true
  }

  override def next(): Boolean = {
    while (true) {
      if (frame >= range.endFrame) return false
      if (atomInFrame == natoms) {
        if (!lines.hasNext) return false
        // 0 = frame loaded, 1 = EOF, 2 = frame dropped (mode)
        val st =
          try { if (readFrame()) 0 else 1 }
          catch {
            case _: IllegalStateException if dropMalformed =>
              // readFrame consumed the frame's full line block before
              // parsing, so the stream stays aligned — drop and move on
              dropped += natoms
              frame += 1
              2
          }
        if (st == 1) return false
        if (st == 2) {
          // dropped: loop back for the next frame
        } else {
          atomInFrame = 0
        }
      }
      if (atomInFrame < natoms) {
        val a = atomInFrame
        val row = new Array[Any](ordinals.length)
        var i = 0
        while (i < ordinals.length) {
          row(i) = ordinals(i) match {
            case 0 => frame + range.frameOffset
            case 1 => (frame + range.frameOffset).toDouble
            case 2 => a
            case 3 => (coords(3 * a) * unitScale).toFloat
            case 4 => (coords(3 * a + 1) * unitScale).toFloat
            case 5 => (coords(3 * a + 2) * unitScale).toFloat
            case k => if (boxLen == null) null else boxLen(k - 6)
          }
          i += 1
        }
        current = InternalRow.fromSeq(row.toIndexedSeq)
        atomInFrame += 1
        if (atomInFrame == natoms) frame += 1
        return true
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = current

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ParseMode.taskMetrics(dropped, coerced)

  override def close(): Unit = {
    ParseMode.warnDropped("mdcrd", file, dropped)
    ParseMode.warnCoerced("mdcrd", file, coerced)
    src.close()
  }
}
