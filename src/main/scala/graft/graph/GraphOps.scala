package graft.graph

import graft.util.Barrier.BarrierOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Distributed graph primitives for the dedup pipeline.
  *
  * The near-dup tiers (minhash / simhash / ngram / embedding LSH) emit
  * PAIRS; an actual dedup pass needs CLUSTERS — "these 5 docs are one
  * group, keep the canonical one". The bridge is connected components
  * over the pair graph, computed on one of two paths chosen from the
  * pinned, canonical edge set alone (no setting):
  *
  *  - at most [[DriverEdgeFloor]] edges, and no partition holding more
  *    than its equal share of them: ONE job collects the edges, a
  *    union-find on the driver labels every node with its component
  *    minimum, and the labels come back as a local relation.
  *    The edge set entering CC is the OUTPUT of a near-dup tier —
  *    bounded by verified pairs, orders of magnitude smaller than the
  *    corpus — so this is the common case, and it replaces a chain of
  *    ~8 stage-jobs per star round (under AQE) with one.
  *  - otherwise: the alternating large-star/small-star of
  *    Kiveris et al., "Connected Components in MapReduce and Beyond"
  *    (SOCC '14), the only path that works for edge sets larger than
  *    the driver can hold. Every round is a pair of keyed aggregations
  *    + joins (no vertex-program framework needed), and alternation
  *    converges in O(log² n) rounds on any graph — NOT O(diameter)
  *    like naive min-label flooding, which dies on path graphs
  *    (GraphOpsSpec pins a 256-node path converging inside the
  *    30-round cap where flooding would need 255 rounds).
  *
  * Scale design (100 TB), star path: each round shuffles the current
  * edge set twice, keyed by node id; edges only ever get replaced by
  * (node → smaller-node) pointers, so the set shrinks toward one star
  * edge per non-root node. Each round pins its edge set behind an
  * eager LINEAGE-CUTTING barrier (graft.util.Barrier.barrierEager —
  * reliable checkpoint() when a checkpoint dir is configured, else
  * localCheckpoint): a lineage-keeping cache here would nest each
  * round's plan ~4× into the next (both largeStar orientations plus
  * smallStar's self-join), an exponential tree that OOM'd the driver
  * on a 64-node path graph when tried (r15); see the Barrier scaladoc
  * caveat. On a cluster, set a checkpoint dir to keep the loop
  * executor-loss-safe.
  */
object GraphOps {

  /** Largest pinned edge set the driver path takes (each partition may
    * hold only its equal share of it: [[collectUpTo]]). Sized on a 4-core
    * local JVM over random graphs (0.71 nodes per edge): at the floor
    * (262,142 edges, 187,070 nodes) the collect took 0.07–0.27 s, the
    * union-find 0.17–0.20 s and the local relation 0.14–0.15 s, with
    * ~104 driver bytes held per edge (packed edges, node and root
    * arrays, and the relation's ~120 bytes per row, ~27 MB in all);
    * the star rounds took 11.6–11.9 s over the same edges. Driver
    * memory, not time, sets the floor: at 2^20 edges the driver path
    * still wins (~4 s) but holds ~100 MB and ships ~20 MB of local
    * rows with every plan that scans the labels. A fixed constant,
    * not a setting. */
  private[graft] val DriverEdgeFloor: Int = 1 << 18

  private val Labels = StructType(Seq(
    StructField("node", LongType), StructField("cluster", LongType)))

  /** Star-shapedness probe: nodes that appear both as a `lo` and as a
    * `hi` in the canonical (lo < hi) edge set — empty exactly when the
    * set is a union of stars rooted at their minima (the CC fixpoint).
    * ONE scan and ONE shuffle: both roles unpivot via an in-row
    * explode, then a single keyed aggregation with map-side partials.
    * The previous `intersect` probe planned a distinct on each side of
    * a join — two scans and three exchanges per round on the hot loop
    * of every near-dup clustering run. */
  private[graft] def starProbe(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("lo").as("n"), lit(1).as("l"), lit(0).as("h")),
        struct(col("hi").as("n"), lit(0).as("l"), lit(1).as("h"))))
        .as("e"))
      .select("e.n", "e.l", "e.h")
      .groupBy("n").agg(max("l").as("l"), max("h").as("h"))
      .filter(col("l") === 1 && col("h") === 1)

  /** Connected components of an undirected graph.
    *
    * @param edges0 two integral columns (endpoint ids); direction and
    *               duplicates are ignored, self-loops dropped.
    * @return ("node" LONG, "cluster" LONG) — one row per node that
    *         appears in some edge; cluster = min node id of its
    *         component. Isolated nodes (no edges) do not appear; callers
    *         coalesce(cluster, id) after an outer join.
    */
  def connectedComponents(edges0: DataFrame, maxRounds: Int = 30): DataFrame = {
    val edges = pinCanonical(edges0)
    collectUpTo(edges, DriverEdgeFloor) match {
      case Some(packed) =>
        val (nodes, roots) = unionFind(packed)
        edges.sparkSession.createDataFrame(
          nodes.indices.map(i => Row(nodes(i), roots(i))).asJava, Labels)
      case None => starRounds(edges, maxRounds)
    }
  }

  /** The star-round path alone, whatever the edge count — the
    * distributed twin of the driver path, for specs that must exercise
    * both on the same graphs. */
  private[graft] def starComponents(edges0: DataFrame,
      maxRounds: Int = 30): DataFrame =
    starRounds(pinCanonical(edges0), maxRounds)

  // canonical undirected form: (lo < hi), no self-loops
  private def canon(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    Seq(least(a, b).as("lo"), greatest(a, b).as("hi"))

  /** The input edges in canonical form, eagerly pinned. No up-front
    * distinct: union-find ignores duplicates, the first large-star's
    * own distinct dedups, and duplicate input edges don't change any
    * per-node min. */
  private def pinCanonical(edges0: DataFrame): DataFrame = {
    val cs = edges0.columns
    require(cs.length == 2, s"edges need 2 columns, got ${cs.mkString(",")}")
    edges0
      .select(canon(col(cs(0)).cast("long"), col(cs(1)).cast("long")): _*)
      .filter(col("lo").isNotNull && col("lo") =!= col("hi"))
      .graftBarrierEager // eager: pin the input before iterating (Barrier scaladoc)
  }

  /** The pinned edges as packed (lo, hi, lo, hi, ...) blocks, or None
    * when they do not fit the driver's budget of `cap` edges. ONE job
    * over the pinned blocks, in which every partition gets an equal
    * share, cap / numPartitions edges: a partition within its share
    * ships its edges, one over it ships only an overflow marker (it
    * stops reading at share + 1), and any marker means None. So at
    * most `cap` edges ever reach the driver — received, not just kept
    * — whatever the set's size or partition count, and the job's
    * results stay far below spark.driver.maxResultSize (16 B per edge,
    * 4 MB at the floor). A set within the cap but skewed past one
    * partition's share gets None too: the star rounds then label it,
    * slower but exact. */
  private[graft] def collectUpTo(edges: DataFrame,
      cap: Int): Option[Seq[Array[Long]]] = {
    val rdd = edges.queryExecution.toRdd
    val share = cap / math.max(1, rdd.getNumPartitions)
    val kept = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    var overflow = false
    edges.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => {
        val b = Array.newBuilder[Long]
        var n = 0
        while (n <= share && it.hasNext) {
          val r = it.next()
          b += r.getLong(0)
          b += r.getLong(1)
          n += 1
        }
        if (n > share) None else Some(b.result())
      },
      (_: Int, packed: Option[Array[Long]]) => packed match {
        case Some(a) => kept += a
        case None => overflow = true
      })
    if (overflow) None else Some(kept.toSeq)
  }

  /** Union-find over packed canonical edges, on the driver: (nodes,
    * roots), nodes ascending, roots(i) = the minimum id of nodes(i)'s
    * component. Endpoints are numbered in sorted order, so the smaller
    * index is the smaller id and linking the larger root under the
    * smaller keeps every root its component's minimum; full path
    * compression keeps every later find near-constant. */
  private def unionFind(
      packed: Seq[Array[Long]]): (Array[Long], Array[Long]) = {
    val ids = Array.concat(packed: _*)
    java.util.Arrays.sort(ids)
    var v = 0
    for (i <- ids.indices)
      if (v == 0 || ids(i) != ids(v - 1)) { ids(v) = ids(i); v += 1 }
    val nodes = java.util.Arrays.copyOf(ids, v)
    val parent = Array.range(0, v)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    packed.foreach { a =>
      var j = 0
      while (j < a.length) {
        val ra = find(java.util.Arrays.binarySearch(nodes, a(j)))
        val rb = find(java.util.Arrays.binarySearch(nodes, a(j + 1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        j += 2
      }
    }
    (nodes, Array.tabulate(v)(i => nodes(find(i))))
  }

  /** The large-star/small-star rounds over pinned canonical edges. */
  private def starRounds(pinned0: DataFrame, maxRounds: Int): DataFrame = {
    var edges = pinned0

    /** Large-star: for every node u, attach its LARGER neighbors to
      * m(u) = min(Γ(u) ∪ {u}). Runs on both orientations. */
    def largeStar(e: DataFrame): DataFrame = {
      val dir = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      val mins = dir.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // no distinct: small-star's groupBy dedups the per-node mins and
      // its trailing distinct canonicalizes the round's output — one
      // less shuffle stage per round
      dir.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(canon(col("v"), col("m")): _*)
        .filter(col("lo") =!= col("hi"))
    }

    /** Small-star: for every node u, attach its SMALLER neighbors (and
      * u itself) to m(u) = min of those neighbors. Runs on the hi→lo
      * orientation only. */
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("hi").agg(min("lo").as("m"))
      val members = e.join(mins, "hi")
        .select(col("m").as("lo"), col("lo").as("hi"))
      val roots = mins.select(col("m").as("lo"), col("hi"))
      members.union(roots)
        .filter(col("lo") =!= col("hi"))
        .distinct()
    }

    // Convergence = the edge set is a union of stars rooted at their
    // minima, which under the canonical (lo < hi) form is exactly "no
    // node appears both as a lo and as a hi". Both operations preserve
    // connectivity and any such star set is a fixpoint of both, so the
    // first star-shaped state IS the answer — one cheap probe per
    // round, detected the same round the stars form (the count+except
    // set-equality check needed an extra confirm round and two probes).
    // An empty edge set converges in round 0.
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // ONE action per round (r20-opt): the round's edge set and its
      // star-shapedness violations materialize in the same job — the
      // probe's subtree is the round's own output, so exchange reuse
      // shares the star computation between the two union branches
      // instead of the old second probe job re-reading the pinned
      // edges. Each round previously paid two full job round-trips
      // (barrier + probe); on the hot loop of every near-dup
      // clustering run the probe job's fixed latency was pure
      // overhead. The convergence check and the next round's input
      // are then block-reads of the pinned union — no recompute.
      val next = smallStar(largeStar(edges))
      val pinned = next.select(col("lo"), col("hi"), lit(true).as("e"))
        .unionByName(starProbe(next)
          .select(col("n").as("lo"), col("n").as("hi"),
            lit(false).as("e")))
        .graftBarrierEager
      converged = pinned.filter(!col("e")).isEmpty
      edges = pinned.filter(col("e")).select("lo", "hi")
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")

    // fixpoint = disjoint stars rooted at component minima
    edges.select(col("hi").as("node"), col("lo").as("cluster"))
      .union(edges.select(col("lo").as("node"), col("lo").as("cluster")))
      .groupBy("node").agg(min("cluster").as("cluster"))
  }
}
