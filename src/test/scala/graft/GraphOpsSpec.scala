package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphOps

/** Connected components (large-star/small-star) against a brute-force
  * union-find oracle, plus the structural worst case for naive
  * min-label flooding: a long path graph, where flooding needs
  * O(length) rounds but star alternation stays logarithmic (the whole
  * reason the published algorithm is the right one at 100 TB —
  * near-dup chains ARE path-shaped).
  */
class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Brute-force oracle: union-find over the edge list. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphOps.connectedComponents(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

  test("path graph collapses to its minimum (flooding's worst case)") {
    val n = 256
    val path = (0L until (n - 1).toLong).map(i => (i, i + 1))
    val got = run(path)
    assert(got.size == n)
    assert(got.values.toSet == Set(0L))
  }

  test("matches union-find on a deterministic random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val want = ufComponents(edges)
    val got = run(edges)
    assert(got == want)
  }

  test("duplicate, reversed and self-loop edges are ignored") {
    val got = run(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (4L, 5L)))
    // 3's only edge is a self-loop → no real edge → not in output
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("empty edge set yields empty labels") {
    val empty = spark.emptyDataset[(Long, Long)].toDF("a", "b")
    assert(GraphOps.connectedComponents(empty).isEmpty)
  }

  test("deterministic across repeated runs") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(150)((rnd.nextInt(99).toLong, rnd.nextInt(99).toLong))
      .filter { case (a, b) => a != b }
    assert(run(edges) == run(edges))
  }

  test("two stars joined by a bridge merge into one component") {
    val star1 = (1L to 5L).map(i => (0L, i))
    val star2 = (11L to 15L).map(i => (10L, i))
    val got = run(star1 ++ star2 :+ (5L, 11L))
    assert(got.values.toSet == Set(0L))
    assert(got.size == 12)
  }

  test("starProbe detects star-shapedness correctly") {
    // a star set (fixpoint): no node is both lo and hi
    val stars = Seq((0L, 1L), (0L, 2L), (10L, 11L)).toDF("lo", "hi")
    assert(GraphOps.starProbe(stars).isEmpty)
    // a chain: 1 appears as hi of (0,1) and lo of (1,2)
    val chain = Seq((0L, 1L), (1L, 2L)).toDF("lo", "hi")
    assert(GraphOps.starProbe(chain).collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("folded probe schedules fewer stages and jobs than the old " +
    "intersect probe (listener-measured)") {
    val sc = spark.sparkContext
    // Job-group-tagged measurement: only jobs carrying our group id
    // count (other suites run concurrently on the shared context), and
    // completion is keyed on jobEnd parity — every group job that
    // started has ended — not a fixed sleep spin. Stage attribution
    // goes through the job's stageInfos, and only COMPLETED stages
    // count (onJobStart's stageInfos also lists stages that get
    // SKIPPED as already-computed, overcounting).
    def measure(tag: String)(f: => Unit): (Int, Int) = {
      import org.apache.spark.scheduler._
      val started =
        java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val ended =
        java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val groupStages =
        java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val doneStages =
        new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (Option(j.properties).exists(
              _.getProperty("spark.jobGroup.id") == tag)) {
            started.add(j.jobId)
            j.stageInfos.foreach(si => groupStages.add(si.stageId))
          }
        override def onJobEnd(j: SparkListenerJobEnd): Unit =
          if (started.contains(j.jobId)) ended.add(j.jobId)
        override def onStageCompleted(
            s: SparkListenerStageCompleted): Unit =
          if (groupStages.contains(s.stageInfo.stageId))
            doneStages.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(tag, tag, interruptOnCancel = false)
        try f finally sc.clearJobGroup()
        // actions in f block until their jobs finish; the listener bus
        // is async, so wait for jobEnd parity (bounded)
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while ((started.isEmpty || ended.size < started.size) &&
            System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(started.size == ended.size && !started.isEmpty,
          s"listener bus never drained: ${ended.size}/${started.size}")
        (started.size, doneStages.get)
      } finally sc.removeSparkListener(listener)
    }
    val edges = (0L until 64L).map(i => (i, i + 1)).toDF("lo", "hi")
      .localCheckpoint()
    // warm both paths once (codegen/JIT jobs don't skew the count)
    GraphOps.starProbe(edges).isEmpty
    edges.select("hi").intersect(edges.select("lo")).isEmpty
    val (pJobs, pStages) =
      measure("graphops-probe-folded")(GraphOps.starProbe(edges).isEmpty)
    val (iJobs, iStages) = measure("graphops-probe-intersect")(
      edges.select("hi").intersect(edges.select("lo")).isEmpty)
    assert(pStages < iStages,
      s"probe stages $pStages !< intersect stages $iStages " +
        s"(probe jobs $pJobs, intersect jobs $iJobs)")
    assert(pJobs <= iJobs,
      s"probe jobs $pJobs > intersect jobs $iJobs")
  }

  // ---- both CC paths on every graph above --------------------------
  // connectedComponents takes the driver union-find below
  // GraphOps.DriverEdgeFloor (every graph here); starComponents runs the
  // large-star/small-star rounds on the same input. Both must equal the
  // oracle, so neither path can drift while the other carries the suite.

  private val bothPathGraphs: Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(42)
    Seq(
      "256-node path" -> (0L until 255L).map(i => (i, i + 1)),
      "random 300-edge graph" ->
        Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
          .filter { case (a, b) => a != b },
      "duplicate, reversed and self-loop edges" ->
        Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (4L, 5L)),
      "empty edge set" -> Seq.empty[(Long, Long)],
      "two stars joined by a bridge" ->
        ((1L to 5L).map(i => (0L, i)) ++ (11L to 15L).map(i => (10L, i)) :+
          ((5L, 11L))))
  }

  for ((name, edges) <- bothPathGraphs)
    test(s"driver union-find and star rounds both match union-find: $name") {
      // self-loops carry no edge, so their nodes are not labeled
      val want = ufComponents(edges.filter { case (a, b) => a != b })
      val df = edges.toDF("a", "b")
      val driver = GraphOps.connectedComponents(df)
      assert(driver.queryExecution.logical.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        s"$name: below the floor CC must return the driver's local relation")
      assert(driver.as[(Long, Long)].collect().toMap == want, name)
      assert(GraphOps.starComponents(df).as[(Long, Long)].collect().toMap
        == want, name)
    }

  test("the bounded collect ships at most each partition's share of " +
    "the cap and reports overflow") {
    val sc = spark.sparkContext
    val want = (0L until 20L).map(i => (i, i + 100))
    def kept(rdd: org.apache.spark.rdd.RDD[(Long, Long)], cap: Int) =
      GraphOps.collectUpTo(rdd.toDF("lo", "hi").localCheckpoint(), cap)
        .map(_.flatMap(_.grouped(2).map(p => (p(0), p(1)))).toSet)
    // 20 edges, 5 in each of 4 partitions: a cap whose share (0) is
    // below every partition, a cap one short of the total (share 4),
    // and a cap that holds them all (share 5)
    val even = sc.parallelize(want, 4)
    assert(kept(even, 3).isEmpty)
    assert(kept(even, 19).isEmpty)
    assert(kept(even, 20).contains(want.toSet))
    // the same 20 edges all in one of 4 partitions: within a cap of
    // 80 (share 20), but past the share of a cap of 40 (share 10) even
    // though the total fits, so that partition overflows
    val skewed = sc.parallelize(want, 1)
      .union(sc.parallelize(Seq.empty[(Long, Long)], 3))
    assert(skewed.getNumPartitions == 4)
    assert(kept(skewed, 80).contains(want.toSet))
    assert(kept(skewed, 40).isEmpty)
    // partitions of 1, 1 and 18 edges: a cap of 54 (share 18) holds
    // them all; at 53 (share 17) the one overflowing partition means
    // None though the other two fit
    val mixed = sc.parallelize(want.take(2), 2)
      .union(sc.parallelize(want.drop(2), 1))
    assert(kept(mixed, 54).contains(want.toSet))
    assert(kept(mixed, 53).isEmpty)
  }
}
