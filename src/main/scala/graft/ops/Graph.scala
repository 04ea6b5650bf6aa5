package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the cluster
  * step of near-duplicate removal: similarity pairs are edges, each
  * component is one duplicate cluster, and the canonical document is
  * the component minimum.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014). Each
  * round is two hash-aggregate + join shuffles over the CURRENT edge
  * set (which only shrinks toward one edge per non-root node), and the
  * round count is O(log^2 n) worst case — in practice a handful even
  * for long chains. This is the published 100 TB shape: no adjacency
  * lists are ever collected, no driver-side graph, and each iteration
  * is a fixed number of shuffles whose width is the live edge count.
  *
  * Per round the edge set is localCheckpoint'ed: iterative plans
  * otherwise double in depth every round and re-run the whole history
  * at each action. Trade: checkpointed rounds forfeit lineage recompute
  * on executor loss (the one truncation [[Materialize]] allows). The
  * normalized edges and the node set are materialized with their
  * lineage kept.
  */
object Graph {

  /** Connected components of the undirected graph given by
    * (`srcCol`, `dstCol`) rows (any integral type; self-loops and
    * duplicate/reversed edges are fine). Returns one row per distinct
    * node: (`node` BIGINT, `component` BIGINT) where `component` is the
    * smallest node id in the node's component (so roots map to
    * themselves). Deterministic.
    *
    * Routing: a dedup graph is usually SPARSE relative to its corpus —
    * at most a few edges per duplicated document — so when the
    * normalized edge set fits comfortably on the driver
    * (≤ `maxDriverEdges`), path-compressed union-find over one
    * collect beats ~4 driver-synchronized rounds of distributed star
    * contraction outright (two actions instead of ~a dozen; same
    * answer, exactly). Larger graphs take the star-contraction loop —
    * the price of the driver shortcut is one count we need anyway.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, maxDriverEdges: Int = 4000000): DataFrame = {

    // normalize: distinct undirected edges, self-loops dropped, kept as
    // (larger, smaller) so the first small-star sees every edge
    var e = Materialize.eager(edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct())

    // the original node set — the star graphs at convergence drop
    // fully-isolated roots' edges (and the normalize above drops
    // self-loops), but every node must appear in the output.
    // Materialized immediately: it is read up to three times (path
    // guard, driver collect / distributed final join), and each read
    // would otherwise re-execute the caller's whole edge pipeline.
    // (With the `e` normalize above, an unmaterialized `edges` input is
    // thus executed exactly twice.) Its size is observed as
    // graft.cc.nodes.
    val nodes = Materialize.eager(Occupancy.counted(edges
        .select(explode(array(col(srcCol).cast("long"), col(dstCol).cast("long"))).as("node"))
        .filter(col("node").isNotNull)
        .distinct(), "graft.cc.nodes"))

    val spark = edges.sparkSession
    val nEdges = e.count()
    // node count is bounded by 2·edges except for self-loop-only nodes,
    // which the normalize dropped — so guard on it independently before
    // choosing the driver path
    if (nEdges <= maxDriverEdges && nodes.count() <= 2L * maxDriverEdges) {
      // driver path: collect the (bounded) node set, stream the edges,
      // run path-compressed union-find over flat primitive arrays, emit
      // the assignments as a REAL distributed dataset (parallelize),
      // never a LocalRelation embedded in the downstream plan.
      //
      // Memory math at the defaults (maxDriverEdges = 4M ⇒ ≤ 8M nodes):
      // node values 8M·8B = 64 MB, open-addressed node→index table at
      // load ≤ 0.5 (16M slots · (8+4)B) = 192 MB, parent 8M·4B = 32 MB,
      // output tuples ~8M·32B = 256 MB transient — ~0.5 GB flat arrays
      // with no boxing and no per-entry GC pressure (the boxed
      // HashMap[Long,Long] this replaces cost several hundred MB in
      // Entry objects alone, all garbage). Edges arrive as one typed
      // collect (specialized long pairs, ~4M·32B = 128 MB transient,
      // ONE job — a toLocalIterator would run a sequential job per
      // partition).
      import spark.implicits._
      val nodeArr: Array[Long] = nodes.as[Long].collect()
      val n = nodeArr.length
      // open-addressed node→dense-index map, power-of-2 capacity ≥ 2n
      var capL = 16L
      while (capL < 2L * n) capL <<= 1
      require(capL <= (1 << 30), s"driver union-find node count $n too large")
      val cap = capL.toInt
      val mask = cap - 1
      val keyTable = new Array[Long](cap)
      val idxTable = Array.fill(cap)(-1)
      def slot(key: Long): Int = {
        var h = key * -7046029254386353131L // Fibonacci hashing (2^64/φ)
        h ^= h >>> 32
        (h & mask).toInt
      }
      def indexOf(key: Long): Int = {
        var s = slot(key)
        while (idxTable(s) != -1 && keyTable(s) != key) s = (s + 1) & mask
        idxTable(s)
      }
      var i = 0
      while (i < n) {
        var s = slot(nodeArr(i))
        while (idxTable(s) != -1) s = (s + 1) & mask
        keyTable(s) = nodeArr(i); idxTable(s) = i
        i += 1
      }
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      e.as[(Long, Long)].collect().foreach { case (a, b) =>
        val ia = indexOf(a)
        val ib = indexOf(b)
        // `nodes` and `e` materialize from two independent executions
        // of the caller's plan — a NONDETERMINISTIC input (uncached
        // sample/limit) can produce an edge endpoint absent from the
        // node set; diagnose it instead of a bare AIOOBE
        require(ia >= 0 && ib >= 0,
          s"connectedComponents: edge endpoint ${if (ia < 0) a else b} is missing " +
            "from the node set — the edges input is likely nondeterministic " +
            "(localCheckpoint it before calling)")
        val ra = find(ia)
        val rb = find(ib)
        // roots point toward the smaller NODE VALUE, so every final
        // root is its component's minimum id
        if (ra != rb) {
          if (nodeArr(ra) < nodeArr(rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      val out = new Array[(Long, Long)](n)
      i = 0
      while (i < n) { out(i) = (nodeArr(i), nodeArr(find(i))); i += 1 }
      val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, n / 100000 + 1))
      return spark.sparkContext.parallelize(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out), slices)
        .toDF("node", "component")
    }


    // large-star: per node u over the symmetrized neighborhood, connect
    // strictly larger neighbors to m = min(N(u) ∪ {u})
    def largeStar(e0: DataFrame): DataFrame = {
      val un = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      val m = un.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      un.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // small-star: per node u over smaller neighbors N<(u) (edges are
    // kept (larger, smaller)), connect N<(u) ∪ {u} to m = min(N<(u))
    def smallStar(e0: DataFrame): DataFrame = {
      val m = e0.groupBy("u").agg(min(col("v")).as("m"))
      e0.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
    }

    // one (count, xxhash64-XOR) aggregate per round decides
    // convergence: both unchanged ⇒ the round was a no-op ⇒ fixed
    // point. XOR rather than sum — order-free like sum but immune to
    // ANSI-mode long overflow. A collision masking a real change would
    // need two distinct consecutive edge sets with equal size AND equal
    // 64-bit folds — not a practical concern, and star-ness is verified
    // independently below.
    def fingerprint(e0: DataFrame): (Long, Long) = {
      val r = e0.agg(
        count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }

    var fp = fingerprint(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // each round's edge count is observed as graft.cc.round.<i>; the
      // driver union-find path above runs no round. Truncated, not
      // Materialize.eager: each round is computed from the last, so a
      // kept lineage would grow by one round per iteration, up to maxIter
      val next = Occupancy.counted(smallStar(largeStar(e)), s"graft.cc.round.${it + 1}")
        .localCheckpoint(true)
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      e = next
      it += 1
    }

    // at the fixed point the graph is a union of stars: every edge is
    // (member, root), each member appears once, and no root is itself
    // a member (a parent chain of depth 2 would shrink under another
    // large-star). Both properties are verified rather than assumed —
    // the checksum shortcut above must not be able to silently emit a
    // node in two clusters. Two bounded aggregates over the final
    // (already tiny) edge set.
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds")
    val dupMembers = e.groupBy("u").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).count()
    require(dupMembers == 0,
      "connectedComponents fixed point is not a star graph: a node has two roots " +
        "(checksum convergence masked a real change — report this)")
    val chainedRoots = e.select(col("v").as("u"))
      .join(e.select("u"), Seq("u"), "left_semi").limit(1).count()
    require(chainedRoots == 0,
      "connectedComponents fixed point is not a star graph: a root is itself a member " +
        "(checksum convergence masked a real change — report this)")

    nodes
      .join(e.select(col("u").as("node"), col("v").as("__c__")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__c__"), col("node")).as("component"))
  }
}
