package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: seeded input generation, set-up (the
  * session, kernel registration and untimed warm-up iterations), a
  * closed loop of timed iterations for the requested seconds, an
  * optional traced phase, and the correctness check. Every record goes
  * to stdout as one `@pb <kind> <json>` line for run.py to aggregate.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <cores>
  *   <cacheDir> <workDir> <full|tiny> [docs dataDir tablesDir] [--corrupt]
  */
object Main {
  /** A JSON value: strings, numbers (NaN as null), booleans, and
    * sequences and maps of those. */
  private def json(v: Any): String = v match {
    case s: String =>
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case other => other.toString
  }

  private def emit(kind: String, fields: (String, Any)*): Unit =
    println(s"@pb $kind " + json(fields.toMap))

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the floor graft.Bench runs with; Spark's 1m default collapses the
      // small kernel stages of these inputs to one task
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val corrupt = args.contains("--corrupt")
    val a = args.filterNot(_ == "--corrupt")
    val Array(name, seedS, secondsS, traceS, coresS, cache, work, sizeS) =
      a.take(8)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val size = if (sizeS == "tiny") Size.tiny else Size.full
    new File(work).mkdirs()

    val w: Workload = name match {
      case "ref_distances" => new RefDistances(cache, work, seed, size, cores)
      case "dedup_pipeline" => new Dedup(a(9), a(10), work, a(8).toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val g0 = System.nanoTime()
    w.generate()
    val genS = (System.nanoTime() - g0) / 1e9
    emit("gen", "gen_s" -> genS)

    // set-up, from JVM start minus input generation: the session, kernel
    // registration and the untimed warm-up iterations
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val stats = Stats.install(spark)
    w.prepare(spark)
    for (_ <- 1 to w.warmups) {
      w.beforeIteration(spark)
      w.iterate(spark, new Tracer(false))
    }
    emit("setup", "setup_s" ->
      ((System.currentTimeMillis() - jvmStartMs) / 1e3 - genS))

    val meter = new Meter(spark, stats)
    var attempted = 0
    var failed = 0
    // closed loop: at least one iteration, then until `budget` seconds
    def loop(tr: Tracer, budget: Double): Unit = {
      val start = System.nanoTime()
      var n = 0
      while (n == 0 || (System.nanoTime() - start) / 1e9 < budget) {
        w.beforeIteration(spark)
        val w0 = System.currentTimeMillis()
        attempted += 1
        val (ok, dt, d) = meter {
          try { tr("iteration")(w.iterate(spark, tr)); true }
          catch { case e: Exception =>
            System.err.println(s"[perfbench] iteration failed: $e")
            failed += 1
            false
          }
        }
        val idle = stats.idleSeconds(w0, w0 + (dt * 1e3).toLong)
        if (ok) {
          val spans =
            if (!tr.enabled) Map.empty[String, Double]
            else {
              val root = tr.roots.last
              tr.selfByLayer(root).map { case (k, v) => s"self_s.$k" -> v } ++
                tr.spans.filter(_.parent == root.id)
                  .groupMapReduce(s => s"span_s.${s.name}")(_.seconds)(_ + _)
            }
          emit("iter", "traced" -> tr.enabled, "wall_s" -> dt,
            "counters" -> (d ++ spans + ("spark.driver_idle_s" -> idle)))
        }
        n += 1
      }
    }
    if (!traced) loop(new Tracer(false), seconds)
    else {
      loop(new Tracer(false), seconds / 2)
      val tr = new Tracer(true)
      loop(tr, seconds / 2)
      emit("layers", "values" -> w.layers(spark, meter))
      val spanFile = new File(s"$work/spans.json")
      java.nio.file.Files.writeString(spanFile.toPath, tr.toJson)
      emit("spans", "path" -> spanFile.getPath)
    }

    val (ok, detail) = w.check(spark, corrupt)
    emit("check", "ok" -> ok, "detail" -> detail)
    emit("done", "attempted" -> attempted, "failed" -> failed,
      "items" -> w.itemsPerIteration, "item_unit" -> w.itemUnit,
      "peak_rss_mb" -> peakRssMb())
    spark.stop()
  }
}
