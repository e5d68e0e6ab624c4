package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for the GROMACS `.gro` text format — the
  * second entry of the per-format schema registry (SURVEY §2.1 S4): the
  * reference maps `.gro → [xyz, time, unitcell_vectors]`
  * (core/dask_traj.py:49) through the same `file_returns` dispatch that
  * routes `.xyz`; here each format is its own `DataSourceRegister`
  * short name reporting its own static schema, which is the Spark-native
  * form of that registry. `.gro.gz` reads transparently through the
  * shared [[XyzLines]] machinery, and a directory of `.gro` shards
  * streams through the same micro-batch source shape as xyz
  * (`spark.readStream.format("gro").load(dir)`).
  *
  * File layout per frame (fixed-width, GROMACS manual §5.7):
  *   title line (free text; `t= <time>` suffix carries the frame time)
  *   natoms line
  *   natoms atom lines: resid(5) resname(5) atomname(5) atomnum(5)
  *                      x(8.3) y(8.3) z(8.3) [velocities ignored]
  *   box line: free-format `v1x v2y v3z [v1y v1z v2x v2z v3x v3y]`
  *             (off-diagonal terms present only for triclinic cells)
  *
  * Output is the long layout: one row per (frame, atom), with the box
  * as the three diagonal vector components plus the six off-diagonal
  * terms (0 when absent — orthorhombic), i.e. full unitcell_vectors.
  *
  * Usage: `spark.read.format("gro").option("chunks", 100).load(path)`.
  * `path` may be a single file, a `load(paths: _*)` list, a trailing
  * -segment glob, or a DIRECTORY of `*.gro`/`*.gro.gz`
  * shards (read in name order, globally contiguous frame ids).
  */
class GroDataSource extends FrameSource {
  override def shortName(): String = "gro"
  override def schema: StructType = GroTable.Schema
  // .gro coordinates are nm: no unit scale
  override def unitScale: Option[Double] = None
  override def codec(opts: FrameOptions,
      props: util.Map[String, String]): FrameCodec = new GroCodec(opts)
}

object GroTable {
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("res_id", IntegerType, nullable = false),
    StructField("res_name", StringType, nullable = false),
    StructField("atom_name", StringType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    // full unitcell_vectors (v1, v2, v3 rows); off-diagonals are 0 for
    // orthorhombic boxes
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

class GroCodec(opts: FrameOptions) extends FrameCodec(opts) {
  override def exts: Seq[String] = Seq(".gro", ".gro.gz")

  /** Driver-side length probe: title + natoms line, then a line count
    * (core/dask_traj.py:87-90 analog, same shape as the xyz probe). */
  override def probe(p: String, maxFrames: Long): FileFrames = {
    val src = XyzLines.open(p)
    val (nAtoms, nFrames) = try {
      val it = src.getLines()
      if (!it.hasNext) (0, 0L)
      else {
        it.next() // title
        if (!it.hasNext) (0, 0L)
        else {
          val nAtoms = it.next().trim.toInt
          if (nAtoms <= 0) throw new IllegalArgumentException(
            s"gro file $p declares $nAtoms atoms")
          var lines = 2L
          while (it.hasNext) { it.next(); lines += 1 }
          (nAtoms, lines / (nAtoms + 3))
        }
      }
    } finally src.close()
    FileFrames.uniform(nFrames, nAtoms)(GroFrameRange(_, _, nAtoms, p, _))
  }

  override def reader(p: InputPartition, required: StructType)
      : PartitionReader[InternalRow] =
    new GroPartitionReader(required, p.asInstanceOf[GroFrameRange],
      opts.mode)

  override def sink: Option[(String, LogicalWriteInfo) => WriteBuilder] =
    Some(new GroWriteBuilder(_, _))
}

/** startFrame/endFrame are LOCAL to `filePath`; `frameOffset` is the
  * global frame id of the file's frame 0. */
case class GroFrameRange(startFrame: Long, endFrame: Long, nAtoms: Int,
    filePath: String, frameOffset: Long) extends InputPartition

/** Positioned chunk read: skip whole frames before the range, then
  * slurp one frame at a time (atom lines + the trailing box line) into
  * a bounded buffer — the box is only known at frame end, and every row
  * of the frame carries it. Buffer bound = natoms, the same per-chunk
  * bound the reference's read_chunk has (core/dask_traj.py:329-361). */
class GroPartitionReader(required: StructType, range: GroFrameRange,
    mode: String)
    extends PartitionReader[InternalRow] {

  private val dropMalformed = mode == ParseMode.DropMalformed
  private val coerceWarn = mode == ParseMode.CoerceWarn
  private var dropped = 0L
  private var coerced = 0L

  private val file = range.filePath
  private val src = XyzLines.open(file)
  private val lines = src.getLines()
  private val frameLines = range.nAtoms + 3
  (0L until range.startFrame * frameLines).foreach { _ =>
    if (lines.hasNext) lines.next()
  }

  private var frame = range.startFrame - 1 // advanced by loadFrame
  private var time = 0.0
  private val box = new Array[Float](9)
  private val resId = new Array[Int](range.nAtoms)
  private val resName = new Array[String](range.nAtoms)
  private val atomName = new Array[String](range.nAtoms)
  private val xs = new Array[Float](range.nAtoms)
  private val ys = new Array[Float](range.nAtoms)
  private val zs = new Array[Float](range.nAtoms)
  private val ok = Array.fill(range.nAtoms)(true) // DROPMALFORMED skips
  private var emit = range.nAtoms // buffer exhausted → load next frame
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = GroTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private val timeRe = """.*\bt=\s*(-?[0-9.eE+-]+).*""".r

  private def parseFail(what: String, content: String): Nothing =
    throw new IllegalStateException(
      s"gro parse error in $file at frame ${frame + range.frameOffset}: " +
        s"$what (line: '${content.take(120)}')")

  private def numOrFail(tok: String, what: String, line: String): Double =
    try tok.trim.toDouble catch {
      case _: NumberFormatException =>
        // COERCEWARN: accept a convertible-but-mistyped token with a
        // counted warning (ensure_type's warn-and-cast half)
        if (coerceWarn) ParseMode.coerce(tok) match {
          case Some(v) => coerced += 1; v
          case None => parseFail(s"non-numeric $what '${tok.trim}'", line)
        } else parseFail(s"non-numeric $what '${tok.trim}'", line)
    }

  private def intOr(tok: String, fallback: Int): Int =
    try tok.trim.toInt catch { case _: NumberFormatException => fallback }

  /** Parses title + natoms + atom lines + box line of the next frame
    * into the buffers. False at end of range/file. */
  private def loadFrame(): Boolean = {
    if (frame + 1 >= range.endFrame || !lines.hasNext) return false
    frame += 1
    val title = lines.next()
    time = title match {
      case timeRe(t) => numOrFail(t, "time", title)
      case _ => (frame + range.frameOffset).toDouble
    }
    if (!lines.hasNext) parseFail("missing natoms line", "")
    lines.next() // natoms (validated at plan time)
    var a = 0
    while (a < range.nAtoms) {
      if (!lines.hasNext) parseFail(s"truncated frame at atom $a", "")
      val line = lines.next()
      try {
        if (line.length < 44)
          parseFail(s"atom line too short (${line.length} chars, need 44)",
            line)
        resId(a) = intOr(line.substring(0, 5), 0)
        resName(a) = line.substring(5, 10).trim
        atomName(a) = line.substring(10, 15).trim
        xs(a) = numOrFail(line.substring(20, 28), "x", line).toFloat
        ys(a) = numOrFail(line.substring(28, 36), "y", line).toFloat
        zs(a) = numOrFail(line.substring(36, 44), "z", line).toFloat
        ok(a) = true
      } catch {
        // ensure_type warn-don't-fail analog: drop the record but keep
        // the fixed frame-line arithmetic intact
        case _: IllegalStateException if dropMalformed =>
          ok(a) = false
          dropped += 1
      }
      a += 1
    }
    if (!lines.hasNext) parseFail("missing box line", "")
    val boxLine = lines.next()
    val toks = boxLine.trim.split("\\s+").filter(_.nonEmpty)
    java.util.Arrays.fill(box, 0f)
    if (toks.length < 3)
      parseFail(s"box line has ${toks.length} fields, need >= 3", boxLine)
    // order per GROMACS: v1x v2y v3z [v1y v1z v2x v2z v3x v3y]
    box(0) = numOrFail(toks(0), "box v1x", boxLine).toFloat
    box(4) = numOrFail(toks(1), "box v2y", boxLine).toFloat
    box(8) = numOrFail(toks(2), "box v3z", boxLine).toFloat
    if (toks.length >= 9) {
      box(1) = numOrFail(toks(3), "box v1y", boxLine).toFloat
      box(2) = numOrFail(toks(4), "box v1z", boxLine).toFloat
      box(3) = numOrFail(toks(5), "box v2x", boxLine).toFloat
      box(5) = numOrFail(toks(6), "box v2z", boxLine).toFloat
      box(6) = numOrFail(toks(7), "box v3x", boxLine).toFloat
      box(7) = numOrFail(toks(8), "box v3y", boxLine).toFloat
    }
    emit = 0
    true
  }

  override def next(): Boolean = {
    if (emit >= range.nAtoms && !loadFrame()) return false
    while (!ok(emit)) { // skip records dropped by DROPMALFORMED
      emit += 1
      if (emit >= range.nAtoms && !loadFrame()) return false
    }
    val a = emit
    emit += 1
    val row = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      row(i) = ordinals(i) match {
        case 0 => frame + range.frameOffset
        case 1 => time
        case 2 => a
        case 3 => resId(a)
        case 4 => UTF8String.fromString(resName(a))
        case 5 => UTF8String.fromString(atomName(a))
        case 6 => xs(a)
        case 7 => ys(a)
        case 8 => zs(a)
        case n => box(n - 9)
      }
      i += 1
    }
    current = InternalRow.fromSeq(row.toIndexedSeq)
    true
  }

  override def get(): InternalRow = current

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ParseMode.taskMetrics(dropped, coerced)

  override def close(): Unit = {
    ParseMode.warnDropped("gro", file, dropped)
    ParseMode.warnCoerced("gro", file, coerced)
    src.close()
  }
}
