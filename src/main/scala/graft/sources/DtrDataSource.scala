package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types._

/** Desmond frame-set ("dtr") layout: a trajectory is a DIRECTORY of
  * fixed-layout binary files — a `metadata` header, a `timekeys` index
  * (one record per frame), and numbered `frame%09d` payload files each
  * holding `frames_per_file` consecutive frames — plus the `.stk`
  * convention: a plain-text file listing frameset directories that
  * concatenate into one trajectory. The reference registry lists both
  * extensions (core/dask_traj.py:46-47, via mdtraj's dtr reader, which
  * wraps VMD's public dtrplugin).
  *
  * This source implements the frame-set DESIGN — directory + per-frame
  * index + fixed-size positioned payload files + stk concatenation —
  * with the payload PROFILE documented here (little-endian; optional
  * float64 a,b,c,alpha,beta,gamma box, then natoms×3 float32
  * positions), written and read by this library ([[DtrWrite]]). The
  * full molfile meta-frame payload encoding is not reproducible
  * byte-for-byte in this offline environment, so foreign framesets
  * are rejected rather than misread — by the metadata magic check
  * when the header differs, and by frame-file size arithmetic
  * ([[DtrFormat.checkFileSize]]) when a structurally-valid frameset
  * carries per-frame records that disagree with the declared profile
  * (position-only vs box+positions, or extra payload sections).
  *
  * Why this layout wins at scale (and why Desmond chose it): frames
  * live in fixed-size records inside bounded-size files, so a frame
  * range maps to (file, offset) by pure arithmetic — planning needs
  * ONE small index read per frameset, readers do exact positioned
  * I/O with no scanning, and a 100 TB trajectory is just more
  * framesets in the stk list (each independently parallelizable).
  *
  * Usage: `spark.read.format("dtr").load(path)` where `path` is a
  * `foo.dtr` frameset directory, a `.stk` list file, or a
  * `load(paths: _*)` list of either; frame ids are globally
  * contiguous across framesets in list order. `unit_scale` defaults
  * to 0.1 (Å→nm, the reference's in_units_of convention, as dcd/pdb).
  */
object DtrFormat {
  val MetaMagic = 0x47445452 // "GDTR": this library's payload profile
  val KeysMagic = 0x4b455953 // "KEYS"

  /** The documented blocker for FOREIGN framesets (real Desmond /
    * VMD-molfile dtr directories — reference registry
    * core/dask_traj.py:46-47). Their payload is the molfile
    * "meta-frame" encoding: a prologue with endianness rosetta
    * constants, then typename/label/scalar/field blocks whose typed
    * sections (POSITION float32 ×3N, UNITCELL float64 3×3, energies)
    * locate the coordinates. Decoding it correctly requires
    * byte-layout constants (magics, rosetta values, record shapes)
    * verified against real Desmond fixtures; none can be produced or
    * fetched in this offline environment, and a parser built from an
    * unverified layout would silently mis-decode coordinates — worse
    * than rejection. The frame-set DESIGN (directory + timekeys index
    * + arithmetic (file,offset) addressing + stk concatenation) is
    * fully implemented over this library's own GDTR payload profile;
    * a foreign frameset is detected by its metadata magic and rejected
    * with this context. */
  val ForeignPayloadBlocker: String =
    "this library reads the frame-set layout with its own GDTR " +
      "payload profile; the Desmond/VMD molfile meta-frame payload " +
      "encoding needs byte-layout constants verified against real " +
      "fixtures, which this offline environment cannot provide " +
      "(re-export the trajectory as dcd/trr, or ingest via DtrWrite)"

  case class Meta(nAtoms: Int, hasBox: Boolean)

  /** metadata file: magic, version, natoms, hasBox — 16 bytes LE. */
  def readMeta(dir: String): Meta = {
    val f = FsIO.child(dir, "metadata")
    if (!FsIO.isFile(f)) throw new IllegalArgumentException(
      s"dtr: $dir has no metadata file — not a frameset " +
        "directory")
    val raf = FsIO.openRandom(f)
    try {
      val buf = new Array[Byte](16)
      raf.readFully(buf)
      val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
      val magic = bb.getInt()
      if (magic != MetaMagic) throw new IllegalArgumentException(
        s"dtr: $dir metadata magic 0x${magic.toHexString} is " +
          s"not 0x${MetaMagic.toHexString} — a foreign frameset: " +
          ForeignPayloadBlocker)
      val version = bb.getInt()
      if (version != 1) throw new IllegalArgumentException(
        s"dtr: $dir metadata version $version unsupported")
      val nAtoms = bb.getInt()
      if (nAtoms <= 0) throw new IllegalArgumentException(
        s"dtr: $dir declares $nAtoms atoms")
      // bound so frameBytes (12*nAtoms + 48) stays a valid array size
      // everywhere — a corrupt header fails HERE at plan time, not as
      // a NegativeArraySizeException in an executor
      if (nAtoms > 100_000_000) throw new IllegalArgumentException(
        s"dtr: $dir declares $nAtoms atoms (> 1e8 — corrupt " +
          "metadata, or a payload too large for one frame record)")
      Meta(nAtoms, bb.getInt() != 0)
    } finally raf.close()
  }

  /** timekeys file: magic, framesPerFile, nFrames (long), then one
    * float64 time per frame — the per-frame index. Offsets are NOT
    * stored: the payload is fixed-size, so (file, offset) is
    * arithmetic (the fixed-layout property that makes planning a
    * single bounded read even for billion-frame sets). */
  def readTimekeys(dir: String): (Int, Array[Double]) = {
    val f = FsIO.child(dir, "timekeys")
    if (!FsIO.isFile(f)) throw new IllegalArgumentException(
      s"dtr: $dir has no timekeys file")
    val raf = FsIO.openRandom(f)
    try {
      val head = new Array[Byte](16)
      raf.readFully(head)
      val hb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
      val magic = hb.getInt()
      if (magic != KeysMagic) throw new IllegalArgumentException(
        s"dtr: $dir timekeys magic mismatch")
      val fpf = hb.getInt()
      if (fpf <= 0) throw new IllegalArgumentException(
        s"dtr: $dir frames_per_file $fpf must be > 0")
      val n = hb.getLong()
      // 8*n must fit an array (the per-frameset index is one bounded
      // read; a billion-frame TRAJECTORY is many framesets via stk)
      if (n < 0 || n > 200_000_000L) throw new IllegalArgumentException(
        s"dtr: $dir frame count $n out of range (one " +
          "frameset indexes at most 2e8 frames; split larger " +
          "trajectories across framesets in an stk list)")
      val body = new Array[Byte]((8L * n).toInt)
      raf.readFully(body)
      val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
      val times = new Array[Double](n.toInt)
      var i = 0
      while (i < times.length) { times(i) = bb.getDouble(); i += 1 }
      (fpf, times)
    } finally raf.close()
  }

  def frameFileName(idx: Long): String = f"frame$idx%09d"

  def frameBytes(meta: Meta): Long =
    (if (meta.hasBox) 48L else 0L) + 12L * meta.nAtoms

  /** Exact size every frame file must have under the metadata profile:
    * full files hold `fpf` records, the last file holds the remainder.
    * The fixed-record layout makes this pure arithmetic — which is
    * also why it MUST be enforced: the positioned reads trust it, and
    * a payload whose per-frame layout differs from the metadata
    * (position-only records under a hasBox profile, an extra box
    * section under a position-only profile, or a foreign meta-frame
    * encoding) yields a file whose size cannot match, so checking
    * sizes turns every silent-misread case into a fail-fast. */
  def expectedFileBytes(meta: Meta, fpf: Int, nFrames: Long,
      fileIdx: Long): Long = {
    val lastIdx = (nFrames - 1) / fpf
    val inFile = if (fileIdx < lastIdx) fpf.toLong
      else nFrames - lastIdx * fpf
    inFile * frameBytes(meta)
  }

  def checkFileSize(dir: String, meta: Meta, fpf: Int, nFrames: Long,
      fileIdx: Long, actual: Long): Unit = {
    val want = expectedFileBytes(meta, fpf, nFrames, fileIdx)
    if (actual != want) {
      val shape =
        if (actual > want) "larger than the declared per-frame record"
        else "truncated (smaller than the declared per-frame record)"
      throw new IllegalArgumentException(
        s"dtr: $dir/${frameFileName(fileIdx)} is $actual bytes, but " +
          s"the metadata profile (natoms=${meta.nAtoms}, hasBox=" +
          s"${meta.hasBox}, frames_per_file=$fpf, frames=$nFrames) " +
          s"requires exactly $want — the payload is $shape, so " +
          "positioned reads would mis-decode coordinates; refusing " +
          "to read. " + ForeignPayloadBlocker)
    }
  }

  /** Plan-time frameset validation: one stat for the first and last
    * frame files (O(1) per frameset — a mismatched per-frame record
    * size shows up in ANY full file, and truncation shows up in the
    * last). Mid-set files are re-checked exactly, per open, by the
    * executor-side reader, so validation cost never scales with file
    * count at the driver. */
  def validateSetSizes(dir: String, meta: Meta, fpf: Int,
      nFrames: Long): Unit = {
    if (nFrames <= 0) return
    val lastIdx = (nFrames - 1) / fpf
    (0L :: (if (lastIdx != 0L) List(lastIdx) else Nil)).foreach { idx =>
      val f = FsIO.child(dir, frameFileName(idx))
      if (!FsIO.isFile(f)) throw new IllegalArgumentException(
        s"dtr: $dir has $nFrames frames in timekeys but no " +
          s"${frameFileName(idx)} — truncated frameset")
      checkFileSize(dir, meta, fpf, nFrames, idx, FsIO.length(f))
    }
  }

  /** Resolve a raw path to its ordered frameset directories: a
    * directory with a `timekeys` file is one frameset; a `.stk` file
    * lists framesets one per line (blank lines and `#` comments
    * skipped, relative entries resolved against the stk file's
    * parent); any other directory resolves through its `all.stk` (the
    * write path's commit artifact) or its `*.dtr` subdirectories in
    * name order — so a sharded write output reads back with one
    * `load(outDir)`. */
  def framesets(raw: String): Seq[String] = {
    if (raw.exists(c => c == '*' || c == '?' || c == '[' || c == '{')) {
      // framesets are DIRECTORIES, so dtr globs match subdirectories
      // ONLY (MultiPath's file-glob is the symmetric file case; without
      // the isDirectory filter, a glob over a write-path output would
      // match all.stk too and read every frameset twice); trailing
      // segment only, name order, each match recursing through this
      // resolver
      val slash = raw.lastIndexOf('/')
      val (dirPart, namePat) =
        if (slash < 0) (".", raw)
        else (raw.substring(0, slash), raw.substring(slash + 1))
      if (dirPart.exists(c => c == '*' || c == '?' || c == '[' ||
        c == '{')) throw new IllegalArgumentException(
        s"dtr load: glob is only supported in the trailing segment, " +
          s"got '$raw'")
      if (!FsIO.isDirectory(dirPart)) throw new IllegalArgumentException(
        s"dtr load: glob parent '$dirPart' is not a directory")
      // Hadoop glob semantics, same dialect as MultiPath's file globs
      val hits = FsIO.globDirs(dirPart, namePat)
      if (hits.isEmpty) throw new IllegalArgumentException(
        s"dtr load: glob '$raw' matched no framesets")
      hits.flatMap(framesets)
    }
    else if (FsIO.isDirectory(raw)
      && FsIO.isFile(FsIO.child(raw, "timekeys"))) Seq(raw)
    else if (FsIO.isDirectory(raw)
      && FsIO.isFile(FsIO.child(raw, "all.stk")))
      framesets(FsIO.child(raw, "all.stk"))
    else if (FsIO.isDirectory(raw)) {
      val subs = FsIO.list(raw)
        .filter(e => !e.isFile && e.name.endsWith(".dtr"))
        .map(_.path)
      if (subs.isEmpty) throw new IllegalArgumentException(
        s"dtr load: $raw has no timekeys, no all.stk and no .dtr " +
          "subdirectories — not a frameset or frameset collection")
      subs
    }
    else if (FsIO.isFile(raw) && raw.toLowerCase.endsWith(".stk")) {
      val dirs = FsIO.readLines(raw).map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          if (FsIO.isAbsolute(l)) l else FsIO.child(FsIO.parent(raw), l)
        }
      // an entry-less stk is a VALID empty trajectory — the write
      // path commits one for an empty DataFrame, and the round-trip
      // must read back as 0 rows (matching every other source)
      dirs.foreach { d =>
        if (!FsIO.isDirectory(d)) throw new IllegalArgumentException(
          s"dtr: stk entry $d (from $raw) is not a directory")
      }
      dirs
    } else throw new IllegalArgumentException(
      s"dtr load: $raw is neither a frameset directory nor a .stk list")
  }
}

class DtrDataSource extends FrameSource {
  override def shortName(): String = "dtr"
  override def schema: StructType = DtrTable.Schema
  override def unitScale: Option[Double] = Some(0.1) // Å→nm, as dcd/pdb
  override def modes: Seq[String] = Seq(ParseMode.FailFast)
  override def codec(opts: FrameOptions,
      props: util.Map[String, String]): FrameCodec = new DtrCodec(opts)
}

object DtrTable {
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

/** The "files" of a dtr load are frame-set DIRECTORIES: a stk list or
  * multi-path order assigns globally contiguous frame ids across them,
  * and a streamed collection directory admits a frame set once its
  * `timekeys` index exists (the write path publishes by atomic rename
  * with timekeys inside; a foreign producer writes the index last). */
class DtrCodec(opts: FrameOptions) extends FrameCodec(opts) {
  override def exts: Seq[String] = Seq(".dtr")

  override def files(raws: Seq[String]): Seq[String] =
    raws.flatMap(DtrFormat.framesets)

  override def isShard(e: FsIO.Entry): Boolean =
    !e.isFile && e.name.endsWith(".dtr") &&
      FsIO.isFile(FsIO.child(e.path, "timekeys"))

  /** One ~16-byte metadata read + one index read per frame set. Each
    * partition covers frames of ONE frame set and carries their times
    * from the index, so the reader never re-reads timekeys. */
  override def probe(dir: String, maxFrames: Long): FileFrames = {
    val meta = DtrFormat.readMeta(dir)
    val (fpf, times) = DtrFormat.readTimekeys(dir)
    DtrFormat.validateSetSizes(dir, meta, fpf, times.length.toLong)
    FileFrames.uniform(times.length.toLong, meta.nAtoms) { (s, e, off) =>
      DtrFrameRange(dir, s, e, meta.nAtoms, meta.hasBox, fpf,
        times.slice(s.toInt, e.toInt), off, times.length.toLong)
    }
  }

  override def reader(p: InputPartition, required: StructType)
      : PartitionReader[InternalRow] =
    new DtrPartitionReader(opts.unitScale, required,
      p.asInstanceOf[DtrFrameRange])

  override def sink: Option[(String, LogicalWriteInfo) => WriteBuilder] =
    Some(new DtrWriteBuilder(_, opts.unitScale, _))
}

/** One chunk of frames within ONE frameset. `times` carries the chunk's
  * per-frame times from the driver index (bounded by `chunks`), so the
  * reader never re-reads timekeys. */
case class DtrFrameRange(dir: String, startFrame: Long, endFrame: Long,
    nAtoms: Int, hasBox: Boolean, framesPerFile: Int,
    times: Array[Double], frameOffset: Long,
    setFrames: Long) extends InputPartition

/** Pure-arithmetic positioned read: frame f lives in file
  * `frame(f / framesPerFile)` at offset `(f % framesPerFile) ×
  * frameBytes` — no scanning, no index on the executor. */
class DtrPartitionReader(unitScale: Double, required: StructType,
    range: DtrFrameRange) extends PartitionReader[InternalRow] {

  private val meta = DtrFormat.Meta(range.nAtoms, range.hasBox)
  private val frameBytes = DtrFormat.frameBytes(meta)
  private val buf = new Array[Byte](frameBytes.toInt)

  private var raf: FsRandom = _
  private var openFileIdx = -1L

  private val xs = new Array[Float](range.nAtoms)
  private val ys = new Array[Float](range.nAtoms)
  private val zs = new Array[Float](range.nAtoms)
  private val box = new Array[Float](6)
  private var time = 0.0

  private var frame = range.startFrame - 1 // advanced by loadFrame
  private var emit = range.nAtoms
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = DtrTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private def loadFrame(): Boolean = {
    if (frame + 1 >= range.endFrame) return false
    frame += 1
    val fileIdx = frame / range.framesPerFile
    if (fileIdx != openFileIdx) {
      if (raf != null) raf.close()
      val f = FsIO.child(range.dir, DtrFormat.frameFileName(fileIdx))
      if (!FsIO.isFile(f)) throw new IllegalStateException(
        s"dtr: ${range.dir} is missing ${FsIO.fileName(f)} (frame " +
          s"${frame + range.frameOffset}) — truncated frameset")
      raf = FsIO.openRandom(f)
      // exact per-open size check: the plan validated first/last files
      // in O(1); this closes the mid-set case without driver-side
      // stats scaling with file count (a larger-than-expected file
      // means the payload layout disagrees with the metadata profile
      // and positioned reads would silently mis-decode)
      DtrFormat.checkFileSize(range.dir, meta, range.framesPerFile,
        range.setFrames, fileIdx, raf.length())
      openFileIdx = fileIdx
    }
    raf.seek((frame % range.framesPerFile) * frameBytes)
    try raf.readFully(buf)
    catch { case _: java.io.EOFException =>
      throw new IllegalStateException(
        s"dtr: short read in ${range.dir} frame " +
          s"${frame + range.frameOffset} — truncated frame file")
    }
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    if (range.hasBox) {
      var i = 0
      while (i < 6) {
        val v = bb.getDouble()
        // lengths scale with units, angles do not
        box(i) = (if (i < 3) v * unitScale else v).toFloat
        i += 1
      }
    }
    var a = 0
    while (a < range.nAtoms) {
      xs(a) = (bb.getFloat() * unitScale).toFloat
      ys(a) = (bb.getFloat() * unitScale).toFloat
      zs(a) = (bb.getFloat() * unitScale).toFloat
      a += 1
    }
    time = range.times((frame - range.startFrame).toInt)
    emit = 0
    true
  }

  override def next(): Boolean = {
    if (emit >= range.nAtoms && !loadFrame()) return false
    val a = emit
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
        case b => if (range.hasBox) box(b - 6) else null
      }
      i += 1
    }
    current = InternalRow.fromSeq(row.toIndexedSeq)
    emit += 1
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = if (raf != null) raf.close()
}
