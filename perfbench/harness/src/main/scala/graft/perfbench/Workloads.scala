package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.traj.TrajLoad

/** Input sizes. `full` is what the benchmark measures; `tiny` only
  * exercises every code path for the self-test. */
final case class Size(frames: Int, window: Int)

object Size {
  val full = Size(frames = 320, window = 16)
  val tiny = Size(frames = 8, window = 4)
}

/** What the harness needs from a workload. `iterate` is one closed-loop
  * operation; it wraps its calls in `tr`, which records spans only in
  * traced iterations and never changes which calls are made. */
trait Workload {
  def itemUnit: String
  def itemsPerIteration: Double
  /** Untimed iterations at the end of set-up. */
  def warmups: Int = 1
  /** Seeded inputs, made once and cached under the cache directory. */
  def generate(): Unit
  def prepare(spark: SparkSession): Unit = ()
  /** Untimed work before every iteration (cache eviction). */
  def beforeIteration(spark: SparkSession): Unit = ()
  def iterate(spark: SparkSession, tr: Tracer): Unit
  /** Per-layer figures measured outside the iterations (traced run). */
  def layers(spark: SparkSession, m: Meter): Map[String, Double]
  /** Checks outputs outside the timed region: (passed, detail). */
  def check(spark: SparkSession, corrupt: Boolean): (Boolean, String)

  protected def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
}

/** Times one body and the engine counters it moved. */
final class Meter(spark: SparkSession, stats: Stats) {
  def apply[T](body: => T): (T, Double, Map[String, Double]) = {
    Stats.drain(spark)
    val s0 = stats.snap()
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    Stats.drain(spark)
    (r, dt, Stats.delta(s0, stats.snap()))
  }
}

/** The seeded synthetic trajectory with the paper's atom count: atoms on
  * a jittered 0.3 nm lattice, each frame a seeded Gaussian displacement
  * of every atom. The seed changes every coordinate but not the shape,
  * so the compressed size and decode cost stay comparable across seeds. */
object XtcInput {
  val Atoms = 22561
  val Box = 8.7f

  def path(cache: String, seed: Long, frames: Int): String =
    s"$cache/xtc/seed$seed/traj_f$frames.xtc"

  def ensure(cache: String, seed: Long, frames: Int): Unit = {
    val f = new File(path(cache, seed, frames))
    if (f.isFile) return
    f.getParentFile.mkdirs()
    val rng = new java.util.SplittableRandom(seed)
    val side = math.ceil(math.cbrt(Atoms.toDouble)).toInt
    val base = new Array[Float](3 * Atoms)
    for (a <- 0 until Atoms) {
      val ijk = Seq(a % side, (a / side) % side, a / (side * side))
      for (d <- 0 until 3)
        base(3 * a + d) = (0.15 + 0.3 * ijk(d) +
          rng.nextDouble(-0.05, 0.05)).toFloat
    }
    val frames0 = (0 until frames).map { fr =>
      val r = new java.util.SplittableRandom(seed * 1000003L + fr)
      val xyz = new Array[Float](3 * Atoms)
      var i = 0
      while (i < xyz.length) {
        xyz(i) = base(i) + (r.nextDouble(-1.0, 1.0) * 0.05).toFloat
        i += 1
      }
      graft.sources.XtcWrite.Frame(xyz,
        box = Array(Box, 0f, 0f, 0f, Box, 0f, 0f, 0f, Box),
        step = fr.toLong, time = fr * 10.0)
    }
    val tmp = new File(f.getPath + ".tmp")
    graft.sources.XtcWrite.write(tmp.getPath, frames0)
    require(tmp.renameTo(f), s"cannot move $tmp into place")
  }
}

/** The paper's workload: load the trajectory, slice 500 atoms, gather
  * each frame's coordinates, all C(500,2) distances per frame through
  * `pair_dist_stats`, and a global sum/min/max/count. */
final class RefDistances(cache: String, work: String, seed: Long,
    size: Size, cores: Int) extends Workload {
  private val Sel = 500
  private val file = XtcInput.path(cache, seed, size.frames)
  private val conversion = new Conversion(file, work, seed, size, cores)
  private var converted = false
  private var last: Option[(Double, Double, Double, Long)] = None

  def itemUnit = "frames"
  def itemsPerIteration: Double = size.frames
  // a one-second iteration is still JIT-warming for ~15 iterations;
  // twelve untimed ones flatten that trend
  override def warmups: Int = 12
  def generate(): Unit = XtcInput.ensure(cache, seed, size.frames)

  private def slice(df: DataFrame): DataFrame =
    df.filter(col("atom_id") < Sel)
      .select(col("frame_id"), col("atom_id"), col("x"), col("y"), col("z"))

  private def gather(df: DataFrame): DataFrame =
    slice(df).groupBy("frame_id")
      .agg(sort_array(collect_list(struct(col("atom_id"), col("x"),
        col("y"), col("z")))).as("a"))
      .select(col("frame_id"), expr("transform(a, s -> s.x)").as("xs"),
        expr("transform(a, s -> s.y)").as("ys"),
        expr("transform(a, s -> s.z)").as("zs"))

  private def summarize(g: DataFrame): (Double, Double, Double, Long) = {
    val r = g.select(expr("pair_dist_stats(xs, ys, zs)").as("st"))
      .agg(sum(col("st.sum")), min(col("st.mn")), max(col("st.mx")),
        sum(col("st.cnt")))
      .collect()(0)
    (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getLong(3))
  }

  /** The load is lazy; the one job that collects the summary runs the
    * XTC decode, the gather exchange and the kernel. */
  def iterate(spark: SparkSession, tr: Tracer): Unit = {
    val df = tr("traj.load")(TrajLoad.load(spark, file))
    last = Some(tr("spark.execute")(summarize(gather(df))))
  }

  /** The iteration's one job split into its parts, each run alone: the
    * decode, then (the median of three) the gather materialized in
    * memory and the kernel over the in-memory arrays. */
  def layers(spark: SparkSession, m: Meter): Map[String, Double] = {
    val (_, readS, d) = m(slice(TrajLoad.load(spark, file))
      .write.format("noop").mode("overwrite").save())
    val split = (1 to 3).map { _ =>
      val (g, gatherS, _) = m {
        val g = gather(TrajLoad.load(spark, file))
          .persist(StorageLevel.MEMORY_ONLY)
        g.count()
        g
      }
      val kernelS = m(summarize(g))._2
      g.unpersist(blocking = true)
      (gatherS, kernelS)
    }
    converted = true
    conversion.run(spark, m) ++ Map("sources.read_s" -> readS,
      "traj.gather_s" -> median(split.map(_._1)),
      "functions.kernel_s" -> median(split.map(_._2)),
      "sources.read_rows" -> d("spark.records_read"),
      "sources.read_bytes" -> d("spark.bytes_read"),
      "functions.pairs" -> last.get._4.toDouble,
      // computed, not measured: the float32 coordinate arrays the kernel
      // reads, frames x 500 atoms x 3 axes x 4 bytes
      "functions.bytes_computed" -> size.frames.toDouble * Sel * 3 * 4)
  }

  /** The serial baseline: a plain single-threaded loop over the same
    * decoded coordinates, in the kernel's pair order. */
  def check(spark: SparkSession, corrupt: Boolean): (Boolean, String) = {
    val rows = slice(TrajLoad.load(spark, file)).collect()
    val byFrame = rows.groupBy(_.getLong(0)).values.map { rs =>
      val s = rs.sortBy(_.getInt(1))
      (s.map(_.getFloat(2)), s.map(_.getFloat(3)), s.map(_.getFloat(4)))
    }
    val t0 = System.nanoTime()
    var sumD = 0.0
    var mn = Double.MaxValue
    var mx = Double.MinValue
    var cnt = 0L
    byFrame.foreach { case (x, y, z) =>
      var fsum = 0.0
      var i = 0
      while (i < x.length) {
        var j = i + 1
        while (j < x.length) {
          val dx = x(j).toDouble - x(i); val dy = y(j).toDouble - y(i)
          val dz = z(j).toDouble - z(i)
          val dd = math.sqrt(dx * dx + dy * dy + dz * dz)
          fsum += dd
          if (dd < mn) mn = dd
          if (dd > mx) mx = dd
          cnt += 1
          j += 1
        }
        i += 1
      }
      sumD += fsum
    }
    val serialS = (System.nanoTime() - t0) / 1e9
    val (s0, mn0, mx0, c0) = last.get
    val s = if (corrupt && !converted) s0 * 1.001 else s0
    val expectPairs = size.frames.toLong * Sel * (Sel - 1) / 2
    val ok = c0 == cnt && cnt == expectPairs && mn0 == mn && mx0 == mx &&
      math.abs(s - sumD) <= 1e-9 * math.abs(sumD)
    val msg = f"serial_s=$serialS%.4f count=$c0/$cnt min=$mn0/$mn " +
      f"max=$mx0/$mx sum=$s%.9e/$sumD%.9e (sum tolerance 1e-9 relative)"
    if (!converted) (ok, msg)
    else {
      val (rok, rmsg) = conversion.check(spark, corrupt)
      (ok && rok, s"$msg; $rmsg")
    }
  }
}

/** Round trip of a seeded window of the trajectory through four DSv2
  * writers, each output read back in full: the write side of `sources`
  * beside its XTC read side. Measured in the traced run of
  * ref_distances, outside its iterations. */
final class Conversion(file: String, work: String, seed: Long, size: Size,
    cores: Int) {
  private val first =
    new java.util.SplittableRandom(seed).nextInt(size.frames - size.window + 1)
  private val formats = Seq("binpos", "dtr", "xyz", "lammpstrj")
  /** Each writer's table schema, by column name. */
  private val columns: Map[String, Seq[String]] = {
    val head = Seq("frame_id", "time", "atom_id")
    val xyz = Seq("x", "y", "z")
    val cell = Seq("box_a", "box_b", "box_c", "box_alpha", "box_beta",
      "box_gamma")
    Map("binpos" -> (head ++ xyz), "dtr" -> (head ++ xyz ++ cell),
      "xyz" -> (head ++ ("element" +: xyz) ++ Seq("box_x", "box_y", "box_z")),
      "lammpstrj" -> (head ++ ("element" +: xyz) ++ cell))
  }
  private def out(fmt: String) = s"$work/convert/$fmt"

  /** The window in the column layout the writers share. */
  private def window(spark: SparkSession): DataFrame =
    TrajLoad.load(spark, file)
      .filter(col("frame_id") >= first && col("frame_id") < first + size.window)
      .select(col("frame_id"), col("atom_id"), col("time"),
        lit("C").as("element"), col("x"), col("y"), col("z"),
        col("bv1x").as("box_a"), col("bv2y").as("box_b"),
        col("bv3z").as("box_c"), lit(90f).as("box_alpha"),
        lit(90f).as("box_beta"), lit(90f).as("box_gamma"),
        col("bv1x").as("box_x"), col("bv2y").as("box_y"),
        col("bv3z").as("box_z"))

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Writes the window in every format, then reads each back through
    * TrajLoad; per-format seconds and the bytes written. */
  def run(spark: SparkSession, m: Meter): Map[String, Double] = {
    val src = window(spark).persist(StorageLevel.MEMORY_ONLY)
    src.count()
    val times = formats.flatMap { fmt =>
      val w = m(src.select(columns(fmt).map(col): _*)
        .repartitionByRange(cores, col("frame_id"))
        .sortWithinPartitions("frame_id", "atom_id")
        .write.format(fmt).mode("overwrite").save(out(fmt)))._2
      val r = m(TrajLoad.load(spark, out(fmt)).write.format("noop")
        .mode("overwrite").save())._2
      Seq(s"sources.write_s.$fmt" -> w, s"sources.read_s.$fmt" -> r)
    }.toMap
    src.unpersist(blocking = true)
    times ++ Map(
      "sources.write_s" -> formats.map(f => times(s"sources.write_s.$f")).sum,
      "sources.write_bytes" ->
        formats.map(f => dirBytes(new File(out(f)))).sum.toDouble)
  }

  /** Every coordinate read back within `Tol` nm of the source. All four
    * formats hold float32 (binary) or shortest-repr float32 text, scaled
    * once by the unit factor on write and once on read, so 1e-5 nm
    * covers the two roundings at this box size. */
  private val Tol = 1e-5

  def check(spark: SparkSession, corrupt: Boolean): (Boolean, String) = {
    val src = window(spark).select(col("frame_id") - first as "f",
      col("atom_id"), col("x"), col("y"), col("z"))
    val results = formats.map { fmt =>
      val back0 = TrajLoad.load(spark, out(fmt))
      val f0 = back0.agg(min("frame_id")).collect()(0).getLong(0)
      val back = back0.select(col("frame_id") - f0 as "f", col("atom_id"),
        col("x").as("bx"), col("y").as("by"),
        (if (corrupt && fmt == "xyz") col("z") + 0.01f else col("z")).as("bz"))
      val r = src.join(back, Seq("f", "atom_id"), "full_outer")
        .agg(count(lit(1)), count(col("x")), count(col("bx")),
          max(greatest(abs(col("x") - col("bx")), abs(col("y") - col("by")),
            abs(col("z") - col("bz")))))
        .collect()(0)
      val n = r.getLong(0)
      val err = if (r.isNullAt(3)) Double.NaN else r.getFloat(3).toDouble
      val ok = n == size.window.toLong * XtcInput.Atoms &&
        r.getLong(1) == n && r.getLong(2) == n && err <= Tol
      (ok, f"$fmt rows=$n max_abs_err=$err%.2e")
    }
    (results.forall(_._1), "round trip " + results.map(_._2).mkString("; ") +
      s" (tolerance $Tol nm)")
  }
}

/** The composed dedup pipeline on the seeded corpus, with the shared
  * tier artifacts evicted before every iteration so each one pays its
  * tier builds. The traced run also measures each tier alone, CC over
  * the pipeline's edge set, and a few queries of the families the two
  * workloads do not otherwise reach, on small seeded tables. */
final class Dedup(data: String, tables: String, work: String, docs: Long)
    extends Workload {
  private var queries: Map[String, (SparkSession, String) => DataFrame] = _
  private var familiesRun = false

  def itemUnit = "docs"
  def itemsPerIteration: Double = docs.toDouble
  override def warmups: Int = 2
  def generate(): Unit =
    require(new File(s"$data/documents.parquet").exists,
      s"missing generated corpus under $data")

  override def prepare(spark: SparkSession): Unit =
    queries = graft.SparkEntry.queries

  /** Drops the shared artifacts and their cached blocks, so an iteration
    * neither reuses a previous build nor inherits its memory. */
  private def evict(spark: SparkSession): Unit = {
    graft.text.TextQueries.evictShared(spark)
    graft.sim.SimQueries.evictShared(spark)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  override def beforeIteration(spark: SparkSession): Unit = evict(spark)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** `q_dedup_pipeline` returns its DataFrame only after building the
    * three edge tiers (text and sim) from a thread pool and running CC
    * (graph) over their union; the noop write then executes the final
    * plan. The layer pass splits the build. */
  def iterate(spark: SparkSession, tr: Tracer): Unit = {
    val out = tr("pipeline.build")(queries("q_dedup_pipeline")(spark, data))
    tr("spark.execute")(noop(out))
  }

  /** Output rows of the minhash tier's candidate de-duplication: the
    * final (d1, d2) hash aggregate in the executed plan of `df`, which
    * must have been run through its own query execution. */
  private def candidatePairs(df: DataFrame): Double = {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val aggs = helper.collectWithSubqueries(df.queryExecution.executedPlan) {
      case h: HashAggregateExec
          if h.groupingExpressions.map(_.name) == Seq("d1", "d2") &&
            h.aggregateExpressions.isEmpty =>
        h.metrics("numOutputRows").value
    }
    if (aggs.isEmpty) Double.NaN else aggs.min.toDouble
  }

  def layers(spark: SparkSession, m: Meter): Map[String, Double] = {
    def tier(q: String): Double = {
      evict(spark)
      m(noop(queries(q)(spark, data)))._2
    }
    val tiers = Map(
      "text.exact_tier_s" -> tier("q_dedup_exact"),
      "text.minhash_tier_s" -> tier("q_dedup_minhash"),
      "text.ngram_df_tier_s" -> tier("q_dedup_ngram_df"),
      "text.span_dedup_s" -> tier("q_span_dedup"),
      "sim.semantic_tier_s" -> tier("q_dedup_semantic_scaled"))

    evict(spark)
    val mh = graft.text.TextQueries.minhashPairsAt(spark, data, 8, 2)
    val verified = mh.collect().length.toDouble
    val cand = candidatePairs(mh)

    // the pipeline's union edge set, built as DedupPipeline builds it
    // (its semi-join of semantic ids against documents is a no-op here:
    // every vec_id is a doc_id), materialized, then CC alone
    val docsDf = graft.rel.Tables.documents(spark, data)
    val exact = docsDf.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("m", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("doc_id") =!= col("m"))
      .select(col("m").as("d1"), col("doc_id").as("d2"))
    val sem = graft.sim.SimQueries.semPairsScaled(spark, data, tau = 0.4)
    val semPairs = sem.count().toDouble
    val edges = exact
      .unionByName(graft.text.TextQueries.minhashPairsProbe(spark, data)
        .select("d1", "d2"))
      .unionByName(graft.text.TextQueries.ngramDfPairsShared(spark, data)
        .select("d1", "d2"))
      .unionByName(sem.select(col("v1").as("d1"), col("v2").as("d2")))
      .persist(StorageLevel.MEMORY_ONLY)
    val edgesIn = edges.count().toDouble
    val (clusters, ccS, ccD) = m {
      val cc = graft.graph.GraphOps.connectedComponents(edges)
      cc.select("cluster").distinct().count()
    }
    edges.unpersist(blocking = true)

    val (_, readS, rd) = m {
      noop(docsDf.select("doc_id", "text"))
      noop(graft.rel.Tables.embeddings(spark, data).select("vec_id", "embedding"))
    }
    // the parquet scan reports no input bytes, so count the files' size
    val fileBytes = Seq("documents", "embeddings")
      .map(t => new File(s"$data/$t.parquet").length()).sum
    evict(spark)
    tiers ++ families(spark, m) ++ Map(
      "text.candidate_pairs" -> cand,
      "text.verified_pairs" -> verified,
      "text.verify_yield" -> verified / cand,
      "sim.semantic_pairs" -> semPairs,
      "graph.cc_s" -> ccS,
      "graph.cc_jobs" -> ccD("spark.jobs"),
      "graph.edges_in" -> edgesIn,
      "graph.clusters" -> clusters.toDouble,
      "sources.read_s" -> readS,
      "sources.read_rows" -> rd("spark.records_read"),
      "sources.read_bytes" -> fileBytes.toDouble)
  }

  /** Queries of the families no workload iterates, by the module their
    * plan comes from: star-schema operators (rel), the batch twins of
    * the Structured Streaming plans in graft.streaming.EventStreams
    * (streaming), and the media decode pipelines (multimodal). */
  private val Families = Seq(
    "rel" -> Seq("q_scan_lineitem", "q_join_orders_customer",
      "q_agg_pricing_summary", "q_window_topk_orders", "q_rollup_region"),
    "streaming" -> Seq("q_events_tumbling", "q_events_sliding",
      "q_events_window_topk", "q_events_dedup", "q_events_attribution"),
    "multimodal" -> Seq("q_multimodal_features", "q_multimodal_image",
      "q_multimodal_video", "q_multimodal_audio"))

  /** Every family query built (until its function returns the DataFrame,
    * eager work included) and executed by a noop write: once untimed,
    * then three times. Repetition k reads its own copy of the tables,
    * `tables/rep<k>`, so no build-once artifact of an earlier repetition
    * is reused. Per family: the sums over its queries of the median
    * build seconds, build-and-execute seconds and jobs. */
  private def families(spark: SparkSession, m: Meter): Map[String, Double] = {
    val runs = for {
      rep <- 0 to 3
      (f, qs) <- Families
      q <- qs
    } yield {
      val (df, buildS, bd) = m(queries(q)(spark, s"$tables/rep$rep"))
      val (_, execS, ed) = m(noop(df))
      (rep, q, buildS, buildS + execS, bd("spark.jobs") + ed("spark.jobs"))
    }
    familiesRun = true
    val timed = runs.filter(_._1 > 0).groupBy(_._2)
    Families.flatMap { case (f, qs) =>
      def total(pick: ((Int, String, Double, Double, Double)) => Double) =
        qs.map(q => median(timed(q).map(pick))).sum
      Seq(s"$f.query_s" -> total(_._4), s"$f.build_s" -> total(_._3),
        s"$f.jobs" -> total(_._5))
    }.toMap
  }

  /** Writes the pipeline's result, and after a traced run every family
    * query's result, for the DuckDB oracle comparison the caller runs.
    * `corrupt` changes one row's token count of the pipeline result, or
    * after a traced run drops one row of the first family query's. */
  def check(spark: SparkSession, corrupt: Boolean): (Boolean, String) = {
    val res = queries("q_dedup_pipeline")(spark, data)
    val firstId = res.agg(min("doc_id")).collect()(0).getLong(0)
    res.withColumn("n_tokens", col("n_tokens") +
        (col("doc_id") === firstId && lit(corrupt && !familiesRun))
          .cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$work/dedup_result")
    def oracle(q: String): Unit = {
      val f = new File(s"$work/oracle/$q.sql")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, graft.SparkEntry.oracleSql(q))
    }
    oracle("q_dedup_pipeline")
    if (familiesRun) {
      val names = Families.flatMap(_._2)
      names.foreach { q =>
        val df = queries(q)(spark, s"$tables/rep0")
        val out = if (corrupt && q == names.head) df.offset(1) else df
        out.write.mode("overwrite").parquet(s"$work/family/$q")
        oracle(q)
      }
    }
    (true, "results written for the oracle comparison")
  }
}
