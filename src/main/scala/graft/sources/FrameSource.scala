package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The one DataSourceV2 read stack every trajectory format shares — the
  * Spark-native form of the reference's single chunked load path plus
  * per-extension registry (core/dask_traj.py:26-56, 59-140). It owns
  * everything that decides WHICH frames a scan reads:
  *
  *  - plan-time options: `chunks` (frames per partition, > 0),
  *    `unit_scale` (numeric, with the format's default), `mode`
  *    (strict: only the modes the format's readers implement), and the
  *    fixed-schema check on a user-supplied `.schema(...)`;
  *  - the Table, its capabilities, and the write hand-off;
  *  - column pruning, frame_id range pushdown (saturating at the Long
  *    bounds; every filter stays residual, so Spark re-applies it) and
  *    partial limit pushdown (plan only the frames that cover the rows;
  *    off under DROPMALFORMED, where a frame may yield fewer rows);
  *  - planning: [[MultiPath]] expansion, one probe per file, globally
  *    contiguous frame ids across files, and cutting each file's frame
  *    window into `chunks`-frame partitions;
  *  - the reader factory and the shard-directory micro-batch stream
  *    ([[ShardDirMicroBatchStream]]).
  *
  * Adding a format = one codec. A new format is a `FrameSource`
  * subclass (its short name, schema, `unit_scale` default and the parse
  * modes it implements) plus a [[FrameCodec]]: the file extensions, any
  * options of its own, a per-file probe returning [[FileFrames]] (frame
  * count, rows before each frame, and the partition for a run of
  * frames), and its `PartitionReader`. Register the provider in
  * META-INF/services; `FrameSourceContractSpec` then checks it against
  * the same contract as every other format.
  */
abstract class FrameSource extends TableProvider with DataSourceRegister {

  /** The format's fixed read schema. */
  def schema: StructType

  /** `unit_scale` default; None for a format that takes no unit scale
    * (the option is then refused, not ignored). */
  def unitScale: Option[Double]

  /** Parse modes the format's readers implement. */
  def modes: Seq[String] = ParseMode.All

  /** The codec for one load: the common options plus the format's own,
    * read from the raw load properties. */
  def codec(opts: FrameOptions, props: util.Map[String, String]): FrameCodec

  /** The `top=` topology's first-model atom count; -1 without `top`. */
  protected def topAtoms(props: util.Map[String, String]): Int =
    Option(props.get("top")).map(PdbTopology.atomCount).getOrElse(-1)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    schema

  /** Lets a user `.schema(...)` reach the fixed-schema check (Spark
    * refuses it with a generic message otherwise). */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(userSchema: StructType,
      partitioning: Array[Transform],
      props: util.Map[String, String]): Table = {
    val name = shortName()
    def num[T](key: String, what: String)(parse: String => T): Option[T] =
      Option(props.get(key)).map { v =>
        try parse(v) catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$name option '$key' must be $what, got '$v'")
        }
      }
    val chunks = num("chunks", "an integer")(_.toInt).getOrElse(10)
    if (chunks <= 0) throw new IllegalArgumentException(
      s"$name option 'chunks' must be > 0, got $chunks")
    val scale = num("unit_scale", "numeric")(_.toDouble)
    if (unitScale.isEmpty && scale.isDefined)
      throw new IllegalArgumentException(
        s"$name option 'unit_scale' is not supported: $name coordinates " +
          "are read in the file's own units")
    val opts = FrameOptions(name, chunks, scale.orElse(unitScale)
      .getOrElse(1.0), ParseMode.fromOptions(name, props, modes))
    new FrameTable(MultiPath.rawPaths(name, props), schema, userSchema,
      codec(opts, props))
  }
}

/** The options every format shares, parsed once per load. */
final case class FrameOptions(name: String, chunks: Int, unitScale: Double,
    mode: String)

/** What one format supplies to [[FrameSource]]. Built on the driver per
  * load and shipped to executors inside the reader factory, so it holds
  * only option values. */
abstract class FrameCodec(val opts: FrameOptions) extends Serializable {

  /** Extensions a directory, shard listing or glob picks up. */
  def exts: Seq[String]

  /** The ordered files (or frame sets) behind the raw load paths. */
  def files(raws: Seq[String]): Seq[String] =
    MultiPath.expandAll(opts.name, raws, exts)

  /** Whether a directory entry is a shard the stream reads. */
  def isShard(e: FsIO.Entry): Boolean =
    e.isFile && exts.exists(e.name.endsWith)

  /** Plan-time checks over every named file, including files the
    * frame range or limit will not read. */
  def checkFiles(files: Seq[String]): Unit = ()

  /** Read-only preconditions (a write needs none of them). */
  def checkRead(): Unit = ()

  /** Driver-side probe of one file. `maxFrames` bounds formats whose
    * probe walks frame by frame; others may ignore it. */
  def probe(path: String, maxFrames: Long): FileFrames

  /** Partitions for the planned frame windows, in order. */
  def cut(windows: Seq[FrameWindow], chunks: Int): Seq[InputPartition] =
    windows.flatMap { w =>
      (w.start until w.end by chunks.toLong).map { s =>
        w.file.partition(s, math.min(s + chunks, w.end), w.offset)
      }
    }

  def reader(p: InputPartition, required: StructType)
      : PartitionReader[InternalRow]

  /** The format's write path, if it has one. */
  def sink: Option[(String, LogicalWriteInfo) => WriteBuilder] = None

  /** The `top=` cross-check: every file's declared atom count must
    * match the topology's. */
  protected def checkTop(files: Seq[String], expect: Int)(
      declared: String => Int): Unit =
    if (expect > 0) files.foreach { p =>
      val n = declared(p)
      if (n != expect) throw new IllegalArgumentException(
        s"${opts.name} $p: file declares $n atoms, which disagrees with " +
          s"the topology atom count $expect (option 'top')")
    }
}

/** One probed file: its frame count, the rows before each local frame
  * (`rowsBefore(frames)` is the file's row total; a pushed limit plans
  * frames by it), and the partition for local frames [start, end) of a
  * file whose frame 0 has global id `offset`. */
trait FileFrames {
  def frames: Long
  def rowsBefore(frame: Long): Long
  def partition(start: Long, end: Long, offset: Long): InputPartition
}

object FileFrames {
  /** A file of `frames` frames of `atoms` rows each. */
  def uniform(frames: Long, atoms: Int)(
      part: (Long, Long, Long) => InputPartition): FileFrames = {
    val n = frames
    new FileFrames {
      def frames: Long = n
      def rowsBefore(frame: Long): Long = frame * atoms
      def partition(start: Long, end: Long, offset: Long): InputPartition =
        part(start, end, offset)
    }
  }

  /** A file indexed frame by frame: (byte offset, rows before, meta) per
    * frame, as the TRR/XTC index walks return it; `rows` gives a frame's
    * own row count. */
  def indexed[M](idx: IndexedSeq[(Long, Long, M)], rows: M => Long)(
      part: (Long, Long, Long, Long) => InputPartition): FileFrames = {
    val total = idx.lastOption.map(f => f._2 + rows(f._3)).getOrElse(0L)
    new FileFrames {
      def frames: Long = idx.length
      def rowsBefore(frame: Long): Long =
        if (frame < idx.length) idx(frame.toInt)._2 else total
      def partition(start: Long, end: Long, offset: Long): InputPartition =
        part(start, end, idx(start.toInt)._1, offset)
    }
  }
}

/** Local frames [start, end) of one probed file whose frame 0 has global
  * id `offset`. */
final case class FrameWindow(path: String, file: FileFrames, offset: Long,
    start: Long, end: Long)

private[sources] object FramePlan {

  /** Probes `files` in order (file k's frame 0 has global id `base` plus
    * the frames of the files before it) and clips each to the global
    * frame range [lo, hi) and a budget of `rows` rows. Probing stops once
    * the range's upper bound or the budget is reached; a window holding
    * no rows is left empty. */
  def windows(codec: FrameCodec, files: Seq[String], base: Long, lo: Long,
      hi: Long, rows: Long): Seq[FrameWindow] = {
    val out = Seq.newBuilder[FrameWindow]
    var off = base
    var budget = rows
    val it = files.iterator
    while (it.hasNext && budget > 0 && off < hi && lo < hi) {
      val p = it.next()
      val f = codec.probe(p,
        if (hi == Long.MaxValue) Long.MaxValue else hi - off)
      val s = math.min(math.max(off, lo) - off, f.frames)
      var e = math.max(s, math.min(off + f.frames, hi) - off)
      if (budget != Long.MaxValue) e = cover(f, s, e, budget)
      val got = f.rowsBefore(e) - f.rowsBefore(s)
      if (budget != Long.MaxValue) budget = math.max(0L, budget - got)
      out += FrameWindow(p, f, off, s, if (got == 0) s else e)
      off += f.frames
    }
    out.result()
  }

  /** The first local frame h in (s, e] whose frames [s, h) hold at least
    * `budget` rows, or `e` if none does. */
  private def cover(f: FileFrames, s: Long, e: Long, budget: Long): Long = {
    val base = f.rowsBefore(s)
    var a = s + 1
    var b = e
    while (a < b) {
      val m = a + (b - a) / 2
      if (f.rowsBefore(m) - base >= budget) b = m else a = m + 1
    }
    math.max(s, b)
  }

  /** frame_id + 1 without wrapping: `<= Long.MaxValue` keeps every
    * frame, while `> Long.MaxValue` and `= Long.MaxValue` leave
    * lo = hi = Long.MaxValue and keep none. */
  def next(v: Long): Long = if (v == Long.MaxValue) v else v + 1
}

private[sources] class FrameTable(paths: Seq[String], fixed: StructType,
    userSchema: StructType, codec: FrameCodec)
    extends Table with SupportsRead with SupportsWrite {
  private val fmt = codec.opts.name

  override def name(): String = s"$fmt:${paths.mkString(",")}"
  override def schema(): StructType = fixed

  // batch reads take files/directories/lists/globs; streaming reads and
  // writes take a SINGLE directory of immutable shard files
  override def capabilities(): util.Set[TableCapability] =
    if (codec.sink.isDefined)
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    def cols(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    if (userSchema != null && cols(userSchema) != cols(fixed))
      throw new IllegalArgumentException(
        s"$fmt source has a fixed schema ${fixed.simpleString}; the " +
          s"supplied read schema ${userSchema.simpleString} does not " +
          "match (drop .schema(...) or make it identical)")
    codec.checkRead()
    new FrameScanBuilder(paths, fixed, codec)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    codec.sink.getOrElse(throw new UnsupportedOperationException(
      s"$fmt source has no write path"))(
      MultiPath.single(fmt, paths, "write"), info)
}

private[sources] class FrameScanBuilder(paths: Seq[String],
    fixed: StructType, codec: FrameCodec)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {
  private var required: StructType = fixed
  private var lo: Long = 0L
  private var hi: Long = Long.MaxValue // exclusive
  private var limit: Int = -1
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // kept even when empty (count(*))
    required = requiredSchema

  /** frame_id predicates only SHRINK the planned range; all filters are
    * returned as residuals so Spark still applies them exactly. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("frame_id", v: Long) =>
        lo = math.max(lo, v); hi = math.min(hi, FramePlan.next(v)); true
      case GreaterThan("frame_id", v: Long) =>
        lo = math.max(lo, FramePlan.next(v)); true
      case GreaterThanOrEqual("frame_id", v: Long) =>
        lo = math.max(lo, v); true
      case LessThan("frame_id", v: Long) =>
        hi = math.min(hi, v); true
      case LessThanOrEqual("frame_id", v: Long) =>
        hi = math.min(hi, FramePlan.next(v)); true
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Partial: plan only enough frames to cover the limit; Spark keeps
    * its own Limit above. Not under DROPMALFORMED: a probe counts the
    * rows a frame holds, not the rows left after dropped records, so
    * the planned frames could hold fewer than the limit. */
  override def pushLimit(l: Int): Boolean = {
    if (codec.opts.mode != ParseMode.DropMalformed) limit = l
    false
  }

  override def build(): Scan =
    new FrameScan(paths, codec, required, lo, hi, limit)
}

private[sources] class FrameScan(paths: Seq[String], codec: FrameCodec,
    required: StructType, lo: Long, hi: Long, limit: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"${codec.opts.name} frame scan"

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new ShardDirMicroBatchStream(
      MultiPath.single(codec.opts.name, paths, "streaming read"), codec,
      required)

  override def planInputPartitions(): Array[InputPartition] = {
    val files = codec.files(paths)
    codec.checkFiles(files)
    val rows = if (limit >= 0) limit.toLong else Long.MaxValue
    codec.cut(FramePlan.windows(codec, files, 0L, lo, hi, rows),
      codec.opts.chunks).toArray
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    ParseMode.scanMetrics

  override def createReaderFactory(): PartitionReaderFactory =
    new FrameReaderFactory(codec, required)
}

private[sources] class FrameReaderFactory(codec: FrameCodec,
    required: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = codec.reader(p, required)
}
