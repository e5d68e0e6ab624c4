package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType

/** Session-conf plumbing shared by the shard-directory streams
  * (public: the conf key is user-facing surface, and the bench/spec
  * reference it by name). */
object ShardStreams {
  val MaxShardsKey = "spark.graft.stream.maxShardsPerTrigger"

  /** Backlog admission knob (VERDICT r15 next #4): the number of new
    * shards (framesets for dtr) one micro-batch may admit; 0 =
    * unbounded (the r15 behavior). Without it, a restart against a
    * large backlog — the 100 TB shard directories will not arrive
    * empty — plans ONE batch over every outstanding shard: no
    * checkpoint progress until the whole backlog commits, and a
    * mid-drain failure re-reads all of it. Read from the session conf
    * at stream construction (the options map is not threaded through
    * the 14 format scans; a session-wide knob is how a deployment
    * would set it anyway), validated fail-fast. */
  def maxShardsPerTrigger(): Int = {
    val v = org.apache.spark.sql.SparkSession.active.conf
      .get(MaxShardsKey, "0")
    val n = try v.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$MaxShardsKey must be a non-negative integer, got '$v'")
    }
    require(n >= 0,
      s"$MaxShardsKey must be >= 0 (0 = unbounded), got $n")
    n
  }

  /** The admission arithmetic of [[ShardDirMicroBatchStream]]. Honors
    * the ENGINE-passed limit only (ADVICE r16): the configured knob
    * already reaches the engine via `getDefaultReadLimit`, and the
    * engine deliberately overrides it — `Trigger.Once` passes
    * `ReadLimit.allAvailable()` to mean "one batch containing
    * everything". Capping that batch at the configured size would
    * make a Trigger.Once run terminate "successfully" with most of
    * the backlog silently unread. */
  def admit(start: Int, total: Int, limit: ReadLimit): Int =
    limit match {
      case mf: ReadMaxFiles => math.min(total, start + mf.maxFiles())
      case _ => total
    }
}

/** The micro-batch stream of every trajectory format (SURVEY §2.8):
  * offsets are shard counts over the name-sorted listing of a directory
  * of immutable shards (files; dtr frame sets); each micro-batch plans
  * the new shards with the same [[FramePlan]] and codec cut as the batch
  * scan, based so global frame ids continue across shards and
  * micro-batches. Per-shard frame counts are cached per path (shards are
  * immutable), so a consumed shard is probed again only after an
  * offset-recovery restart. Shard names must arrive in ascending sort
  * order (true for the write paths' zero-padded `part-NNNNN` names): a
  * name sorting before consumed shards would shift the mapping.
  *
  * Usage: `spark.readStream.format(fmt).load(dir)`.
  */
case class ShardFileOffset(fileCount: Int) extends Offset {
  override def json(): String = fileCount.toString
}

private[sources] class ShardDirMicroBatchStream(dir: String,
    codec: FrameCodec, required: StructType)
    extends MicroBatchStream with SupportsAdmissionControl {

  /** Captured at construction (driver-side, active session present). */
  private val maxShards: Int = ShardStreams.maxShardsPerTrigger()

  override def getDefaultReadLimit: ReadLimit =
    if (maxShards > 0) ReadLimit.maxFiles(maxShards)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    ShardFileOffset(ShardStreams.admit(
      start.asInstanceOf[ShardFileOffset].fileCount,
      listShards().length, limit))

  override def reportLatestOffset(): Offset =
    ShardFileOffset(listShards().length)

  private def listShards(): Seq[String] =
    if (!FsIO.isDirectory(dir)) Nil
    else FsIO.list(dir).filter(codec.isShard).map(_.path)

  private val frameCache =
    scala.collection.mutable.HashMap.empty[String, Long]
  private def probeFrames(p: String): Long =
    frameCache.getOrElseUpdate(p, codec.probe(p, Long.MaxValue).frames)

  override def initialOffset(): Offset = ShardFileOffset(0)
  override def latestOffset(): Offset =
    ShardFileOffset(listShards().length)
  override def deserializeOffset(json: String): Offset =
    ShardFileOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardFileOffset].fileCount
    val e = end.asInstanceOf[ShardFileOffset].fileCount
    val shards = listShards()
    val base = shards.take(s).map(probeFrames).sum
    val windows = FramePlan.windows(codec, shards.slice(s, e), base, 0L,
      Long.MaxValue, Long.MaxValue)
    windows.foreach(w => frameCache.put(w.path, w.file.frames))
    codec.cut(windows, codec.opts.chunks).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FrameReaderFactory(codec, required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
