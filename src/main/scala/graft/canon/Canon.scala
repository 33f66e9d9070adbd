package graft.canon

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected-components canonicalization via iterative DataFrame self-joins
  * (SURVEY.md §2.5 J4) — the entity-resolution stage that unifies surface
  * nodes and lexicon concepts into canonical entities.
  *
  * Algorithm (general graphs): LARGE-STAR / SMALL-STAR alternation
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — each round contracts the graph toward stars centered on
  * component minima, converging in O(log n) rounds where plain min-label
  * propagation needs O(diameter). Each phase is one groupBy-min plus one
  * equi-join — partial-aggregation-friendly, no collect on the data path.
  *
  * ADAPTIVE execution: graphs whose raw edge list is bounded
  * (`driverMaxEdges`, default 100k — this pipeline's canonicalization
  * graph is vocabulary-bounded at any corpus scale) resolve with a driver
  * union-find in at most one job; larger graphs run the contraction loop.
  *
  * Scale features baked in:
  *  - SALTED two-phase min: hub nodes (a disease appearing in millions of
  *    docs) concentrate min() inputs on one key; the large-star min
  *    pre-combines on (node, salt) before the final (node) agg so no
  *    single reducer sees the hub's full fan-in. (AQE skew-join splitting
  *    is enabled in the session as backstop.)
  *  - `localCheckpoint()` each round truncates the growing lineage so the
  *    plan doesn't deepen linearly with rounds.
  *  - Convergence test is an aggregate (edge-set checksum), never a
  *    collect of data rows.
  */
object Canon {

  /** Contraction rounds the loop runs at most before it returns. */
  private val MaxIter = 20

  /** Salt buckets of the loop's two-phase min (spreads a hub's fan-in). */
  private val SaltBuckets = 16

  /** @param edges two string columns `src`, `dst` (undirected pairs)
    * @param driverMaxEdges adaptive cutover: a graph whose raw edge list
    *        is at most this size resolves with a driver-side union-find —
    *        one bounded-collect job (none for a LocalRelation edge
    *        plan), zero shuffles — returning a LocalRelation that
    *        downstream broadcast joins consume without an exchange. This pipeline's canonicalization
    *        graph is vocabulary-bounded (distinct surfaces ↔ concepts), so
    *        at ANY corpus scale it takes this path; the contraction loop
    *        below is the general-graph path (forced with 0). The default
    *        is 100k edges ≈ a few MB of driver heap (two short strings per
    *        row) — safe on a default driver; callers on GENERAL graphs
    *        whose edge count is data-sized should pass 0 to skip the
    *        gating job and any driver collect (ADVICE r2). Duplicate edges
    *        are harmless on both paths.
    * @return DataFrame(node: string, component: string) — component is the
    *         lexicographically smallest node id in the component. On the
    *         contraction path it is a local checkpoint, which
    *         `GraftSqlBridge.release` frees and `unpersist()` does not.
    */
  def connectedComponents(edges: DataFrame, driverMaxEdges: Long = 100000L): DataFrame = {
    val spark = edges.sparkSession

    val e0 = edges.select(col("src"), col("dst"))

    if (driverMaxEdges > 0) {
      // Adaptive gate in ONE action (guide §1.2: don't pay two full
      // evaluations of the edge plan, which re-shuffle when it holds a
      // distinct): an under-gate graph is collected completely, an
      // over-gate graph collapses to an overflow flag and takes the
      // contraction loop. A LocalRelation edge plan (the pipeline's
      // driver-resolved canonicalization graph) costs ZERO jobs.
      val cap = math.min(driverMaxEdges, Int.MaxValue - 1L).toInt
      graft.ops.BoundedCollect.collect(e0, cap).foreach { edgeRows =>
        // bounded graph: min-root union-find with path compression over
        // the RAW edge list — no bidirection, no dedup, no shuffle at
        // all. Union always attaches the larger root under the smaller,
        // so every set's root is its lexicographic minimum — identical
        // semantics to the contraction fixpoint, without per-round job
        // overhead. (Edge arrival order is partition-dependent, but
        // union-find minima — and the node SET — are order-invariant;
        // output row order is unspecified, as with any DataFrame.)
        val parent = scala.collection.mutable.HashMap.empty[String, String]
        def find(x: String): String = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        val nodes = scala.collection.mutable.LinkedHashSet.empty[String]
        edgeRows.foreach { r =>
          val a = r.getString(0)
          val b = r.getString(1)
          nodes += a += b
          val ra = find(a)
          val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        import spark.implicits._
        return nodes.iterator.map(n => (n, find(n))).toSeq.toDF("node", "component")
      }
    }

    val bidirected = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Size the loop's shuffles to the graph, not the session default: on a
    // vocabulary-bounded graph (this pipeline's case — thousands of nodes)
    // a 64-partition shuffle per round is pure task-scheduling overhead,
    // and it runs EVERY round. ~1 partition per 100k edges, restored after
    // the loop. (The count also materializes the persist.)
    val edgeCount = bidirected.count()
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val loopParts = math.max(1L, math.min(prevParts.toLong, edgeCount / 100000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)

    // every node, for the final label join (contraction drops self-loops
    // and star centers from the src side); materialized while bidirected
    // is still cached
    val nodes = bidirected
      .select(col("src").as("node"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    nodes.count()

    // canonical orientation (src > dst); self-loops drop out here and the
    // nodes table reinstates them at label time
    def orient(df: DataFrame): DataFrame = df
      .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

    // convergence via edge-set checksum: the contraction reaches a
    // fixpoint iff the (distinct, canonically oriented) edge set stops
    // changing — one small aggregation per round instead of a join+count.
    // decimal(38,0) accumulator: ANSI mode (Spark 4 default) rejects long
    // overflow, and hash sums overflow immediately
    def checksum(df: DataFrame): java.math.BigDecimal = df
      .agg(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")))
      .head()
      .getDecimal(0)

    var cur = orient(bidirected).localCheckpoint(eager = false)
    var prevSum = checksum(cur)
    var iter = 0
    var converged = prevSum == null // empty edge set: nothing to contract
    try while (iter < MaxIter && !converged) {
      // LARGE-STAR: for each node u, link every LARGER neighbor v to
      // m(u) = min(N(u) ∪ {u}). Salted two-phase min: pre-combine on
      // (u, salt) so a hub's fan-in never lands on one reducer key.
      val bi = cur.union(cur.select(col("dst").as("src"), col("src").as("dst")))
      val mLarge = bi
        .withColumn("salt", pmod(xxhash64(col("dst")), lit(SaltBuckets)))
        .groupBy(col("src"), col("salt"))
        .agg(min(least(col("dst"), col("src"))).as("m"))
        .groupBy(col("src"))
        .agg(min(col("m")).as("m"))
      val large = bi
        .join(mLarge, "src")
        .filter(col("dst") > col("src"))
        // v > u ≥ m(u), so (v, m) is already canonically oriented
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()

      // SMALL-STAR: on (big → small) edges, link every small neighbor AND
      // u itself to m(u) = min(N_small(u) ∪ {u}) = min(dst)
      val mSmall = large.groupBy(col("src")).agg(min(col("dst")).as("m"))
      // localCheckpoint truncates the lineage — without it the logical
      // plan deepens linearly with rounds (r1 VERDICT "What's wrong" #2).
      // LAZY (eager=false): the checkpoint materializes inside the very
      // next action (the checksum), keeping the round at ONE job.
      val small = large
        .join(mSmall, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mSmall.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(eager = false)

      val sum = checksum(small)
      GraftSqlBridge.release(cur)
      cur = small
      converged = sum == prevSum
      prevSum = sum
      iter += 1
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    bidirected.unpersist()

    // at the fixpoint every edge links a member directly to its component
    // minimum; centers and isolated (self-loop-only) nodes label themselves
    val memberLabels = cur.groupBy(col("src").as("node")).agg(min(col("dst")).as("component"))
    val result = nodes
      .join(memberLabels, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
      .localCheckpoint() // eager: lets the loop's caches release below
    nodes.unpersist()
    GraftSqlBridge.release(cur)
    result
  }
}
