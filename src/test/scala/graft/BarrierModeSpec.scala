package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cluster-idiom barrier toggle (VERDICT r13 ask #6): every shared
  * build routes through graft.util.Barrier, whose default
  * `localCheckpoint(false)` is executor-loss-UNSAFE on a real cluster
  * (blocks die with the executor and severed lineage cannot recompute
  * them). `spark.graft.barrier=persist` switches every barrier to
  * `persist(DISK_ONLY)` — lineage kept, loss-recomputable. This spec
  * pins OUTPUT IDENTITY across the modes on barrier-heavy queries from
  * each family (signature dedup, k-means sim, trajectory shared
  * builds, CC iteration), using a fresh `newSession` per mode so the
  * (session, dir)-keyed memo caches cannot leak instances across
  * modes. */
class BarrierModeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  // barrier-heavy representatives: simhash (signature barrier),
  // dedup_cluster (eager CC iteration), sim_ann_ivf (k-means fit
  // barriers), traj_com (TrajModel shared builds), multimodal_features
  // (decode memo)
  private val queries = Seq("q_dedup_simhash", "q_dedup_cluster",
    "q_sim_ann_ivf", "q_traj_com", "q_multimodal_features")

  test("persist-mode barriers produce identical results to the " +
    "default localCheckpoint mode on barrier-heavy queries") {
    val sLocal = spark.newSession()
    sLocal.conf.set("spark.graft.barrier", "local")
    val sPersist = spark.newSession()
    sPersist.conf.set("spark.graft.barrier", "persist")
    for (q <- queries) {
      val a = SparkEntry.queries(q)(sLocal, sf)
        .collect().map(_.toString).toSeq
      val b = SparkEntry.queries(q)(sPersist, sf)
        .collect().map(_.toString).toSeq
      assert(a.nonEmpty, s"$q returned no rows")
      assert(a == b, s"$q differs between barrier modes")
    }
  }

  /** ADVICE r14 + the r15 measurement that settled it: a
    * lineage-keeping persist can NOT serve the iterative CC loop —
    * each round's plan nests the previous ~4×, and on this very
    * 64-node path graph (several large-star/small-star rounds;
    * min-label flooding would need 63) the persist-as-eager-barrier
    * variant OOM'd the driver building explainString before
    * converging. barrierEager therefore always cuts lineage:
    * localCheckpoint without a checkpoint dir (this test's first leg —
    * completing at all IS the regression assertion), reliable
    * checkpoint() with one (second leg: identical output, zero
    * CacheManager entries, checkpoint files on disk). */
  test("iterative CC cuts lineage in persist mode and upgrades to " +
    "reliable checkpoint when a checkpoint dir is set") {
    val sc = spark.sparkContext
    val edges = (0L until 63L).map(i => (i, i + 1))
    def run(s: org.apache.spark.sql.SparkSession): Seq[(Long, Long)] = {
      import s.implicits._
      graft.graph.GraphOps.starComponents(
        edges.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    val expected = (0L until 64L).map(i => (i, 0L))
    val sP = spark.newSession()
    sP.conf.set("spark.graft.barrier", "persist")
    assert(run(sP) == expected)

    val ckptDir =
      java.nio.file.Files.createTempDirectory("graft-ckpt")
    sc.setCheckpointDir(ckptDir.toString)
    locally {
      val sC = spark.newSession()
      sC.conf.set("spark.graft.barrier", "persist")
      val before = sc.getPersistentRDDs.keySet
      assert(run(sC) == expected)
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
        "reliable-checkpoint barriers must not leave cache entries " +
          "behind (the transient pre-checkpoint persist must unpersist)")
      def ckptFiles(): Long = {
        val walk = java.nio.file.Files.walk(ckptDir)
        try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally walk.close()
      }
      val wrote = ckptFiles()
      assert(wrote > 0, "no checkpoint files written under the dir")
      // ADVICE r15: 'local' means local — a default-mode session must
      // NOT be upgraded to reliable checkpoint() (double compute +
      // disk writes) just because a checkpoint dir happens to be
      // configured for unrelated user code
      val sL = spark.newSession()
      sL.conf.set("spark.graft.barrier", "local")
      assert(run(sL) == expected)
      assert(ckptFiles() == wrote,
        "local mode wrote reliable checkpoints — barrierEager must " +
          "gate checkpoint() on mode == persist")
    }
    // no cleanup needed: with the mode gate, a lingering checkpoint
    // dir cannot change behavior for the (default) local-mode suites,
    // so the old reflection into SparkContext's private checkpointDir
    // field (ADVICE r15: breaks under Spark upgrades / JPMS) is gone
  }

  test("unknown barrier mode fails fast with a named error") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.barrier", "reliable")
    val e = intercept[IllegalArgumentException] {
      graft.util.Barrier.barrier(graft.rel.Tables.nation(s2, sf))
    }
    assert(e.getMessage.contains("spark.graft.barrier"))
  }
}
