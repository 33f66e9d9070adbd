package graft.graph

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Light graph analytics over the materialized KG — the first queries a
  * consumer of the constructed graph runs. Everything is edge-table
  * relational (plain joins + partial-agg groupBys over the triples
  * table); no vertex-program framework, nothing driver-side on the data
  * path, so the same plans run on a billion-edge graph:
  *
  *  - [[degrees]]: ONE shuffle (union the two endpoint projections, one
  *    groupBy with map-side combine).
  *  - [[pagerank]]: power iteration; each round is one broadcast-or-
  *    shuffle join (contributions) + one groupBy (sum), with lineage
  *    truncated per round (`localCheckpoint`, same pattern as the CC
  *    loop) so the plan does not deepen with iterations.
  */
object GraphOps {

  /** Bi-directed view of the undirected simple graph induced by an edge
    * table: both orientations of every edge, self-loops dropped,
    * parallel/reverse duplicates collapsed. The single definition of
    * "undirected" shared by [[labelPropagation]], [[neighborJaccard]],
    * and [[kHop]].
    */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Out/in/total degree per node of a directed edge table.
    * Distinct parallel edges count once per (src, dst) pair.
    */
  def degrees(edges: DataFrame, srcCol: String = "subj", dstCol: String = "obj"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    e.select(col("src").as("node"), lit(1L).as("out_e"), lit(0L).as("in_e"))
      .union(e.select(col("dst").as("node"), lit(0L).as("out_e"), lit(1L).as("in_e")))
      .groupBy("node")
      .agg(
        sum(col("out_e")).as("out_degree"),
        sum(col("in_e")).as("in_degree"),
        count(lit(1)).as("degree"))
  }

  /** PageRank by fixed-iteration power method over the distinct directed
    * edge set. Standard damped formulation; mass from dangling nodes
    * (no out-edges) is dropped rather than redistributed — the common
    * simplification — so ranks are comparable within a run, not a strict
    * probability distribution (documented, asserted in the spec).
    *
    * Floating-point note: distributed sums reorder, so ranks are
    * reproducible only to ~1e-12 relative; consumers that need stable
    * output should round (the spec compares against a local dense
    * reference at 1e-9 absolute tolerance).
    */
  def pagerank(
      edges: DataFrame,
      iters: Int = 10,
      damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("od"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count().toDouble

    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    var iter = 0
    while (iter < iters) {
      val contribs = e
        .join(outDeg, "src")
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("rank") / col("od")).as("c"))
      // EAGER checkpoint: unlike the CC loop (whose per-round checksum is
      // an action that materializes a lazy checkpoint), this loop has no
      // per-round action — a lazy checkpoint would defer the whole
      // iteration tower to the final action and the optimizer would
      // analyze an O(iters)-deep join plan. Eager = one bounded job per
      // round and a constant-depth plan, the iterative-DataFrame norm.
      val next = nodes
        .join(contribs.groupBy("node").agg(sum(col("c")).as("s")), Seq("node"), "left")
        .select(
          col("node"),
          (lit((1.0 - damping) / n) + lit(damping) * coalesce(col("s"), lit(0.0))).as("rank"))
        .localCheckpoint()
      GraftSqlBridge.release(ranks) // the previous round's checkpoint
      ranks = next
      iter += 1
    }
    // the last round's eager checkpoint already cut every reference to
    // the cached inputs, so they can release immediately
    e.unpersist(); outDeg.unpersist(); nodes.unpersist()
    ranks
  }

  /** Per-node triangle counts over the UNDIRECTED simple graph induced
    * by the edge table (self-loops dropped; parallel and reverse
    * duplicates collapse into one undirected edge). Only nodes in at
    * least one triangle appear.
    *
    * Degree-orientation formulation — the standard scalable shape: every
    * edge is oriented from its lower endpoint under the total order
    * (degree, node), and wedges are generated ONLY at an edge's lower
    * endpoint. Wedge fan-out is then bounded by the graph's degeneracy
    * (sum of min-endpoint-degree² across edges), not by max degree — a
    * celebrity hub with degree d contributes nothing quadratic because
    * its incident edges all point INTO it. Each triangle {x,y,z} with
    * x ≺ y ≺ z is found exactly once, as wedge (x→y, x→z) closed by the
    * canonical edge (min-id, max-id) of {y,z}.
    *
    * Plan shape: canonical dedup (one shuffle), two equi-joins (wedge
    * self-join on the low endpoint, closing-edge lookup against the
    * canonical edge set), and a partial-aggregated groupBy for the
    * per-node rollup. No cartesian, no window.
    */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String = "subj",
      dstCol: String = "obj"): DataFrame = {
    val und = edges
      .select(
        least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    val deg = und.select(col("lo").as("node"))
      .union(und.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient from the lower endpoint under (degree, id); ties by id keep
    // the order total, so every edge gets exactly one direction
    val oriented = und
      .join(deg.select(col("node").as("lo"), col("deg").as("dlo")), "lo")
      .join(deg.select(col("node").as("hi"), col("deg").as("dhi")), "hi")
      .select(
        when(col("dlo") < col("dhi") ||
          (col("dlo") === col("dhi") && col("lo") < col("hi")), col("lo"))
          .otherwise(col("hi")).as("src"),
        when(col("dlo") < col("dhi") ||
          (col("dlo") === col("dhi") && col("lo") < col("hi")), col("hi"))
          .otherwise(col("lo")).as("dst"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val triangles = wedges
      .join(und, col("b") === col("lo") && col("c") === col("hi"))
      .select("a", "b", "c")
    triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** Synchronous label propagation (community detection) over the
    * undirected simple graph, fully deterministic: every node starts
    * labeled with itself; each round it adopts the most frequent label
    * among its neighbors, ties broken by MINIMUM label. The argmax is
    * expressed relationally (count → per-node max → min label at the
    * max), so there is no RNG and no update-order dependence — the same
    * input gives the same communities on any partitioning, which is what
    * lets an unrolled SQL replica oracle it exactly.
    *
    * Scale shape: each round is two graph-sized partial-agg groupBys and
    * one equi-join (the classic LPA-on-relational pattern); lineage is
    * truncated per round like [[pagerank]], so the plan does not deepen
    * with iterations. Integer-only arithmetic — no float drift at all.
    */
  def labelPropagation(
      edges: DataFrame,
      iters: Int,
      srcCol: String = "subj",
      dstCol: String = "obj"): DataFrame = {
    val bi = undirected(edges, srcCol, dstCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bi.count()
    var labels = bi.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      val cnt = bi
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // rename before the cnt⋈agg(cnt) self-join so attributes resolve
      val mx = cnt.groupBy("node").agg(max(col("c")).as("mc"))
        .select(col("node").as("mx_node"), col("mc"))
      val next = cnt
        .join(mx, col("node") === col("mx_node") && col("c") === col("mc"))
        .groupBy("node")
        .agg(min(col("label")).as("label"))
        .localCheckpoint()
      GraftSqlBridge.release(labels)
      labels = next
      i += 1
    }
    bi.unpersist()
    labels.withColumnRenamed("label", "community")
  }

  /** Neighborhood Jaccard similarity — the relational link-prediction /
    * entity-resolution baseline over the constructed KG: for node pairs
    * sharing at least one (retained) neighbor,
    * |N'(a)∩N'(b)| / |N'(a)∪N'(b)| emitted when ≥ `minSim`, where N' is
    * the HUB-PRUNED neighborhood: neighbors whose own degree exceeds
    * `maxDegree` are dropped from every neighbor set. With
    * `maxDegree = ∞` this is exact Jaccard; with a finite cap it is
    * exact Jaccard of the pruned graph — numerator and denominator use
    * the SAME pruned sets, so the score is internally consistent (a
    * hub never deflates a pair it cannot also connect).
    *
    * The cap exists because co-neighbor pairs are generated per shared
    * neighbor (a self-join of the adjacency list on the neighbor
    * column): a hub of degree d would emit d² pairs — the same blow-up
    * the dedup family's hot-bucket caps guard against. A shared hub is
    * also the least informative similarity evidence (the tf-idf
    * argument), which is why pruning it from the sets, not just the
    * generators, is the standard formulation. Shuffle is bounded by
    * Σ_{deg(w)≤cap} deg(w)². The cap is part of the operator contract
    * and replicated verbatim by the SQL oracle, so the compare is exact.
    */
  def neighborJaccard(
      edges: DataFrame,
      minSim: Double,
      maxDegree: Long,
      srcCol: String = "subj",
      dstCol: String = "obj"): DataFrame = {
    val adj = undirected(edges, srcCol, dstCol)
    val deg = adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    // adjacency restricted to retained (non-hub) neighbors w
    val pruned = adj.select(col("dst").as("w"), col("src").as("v"))
      .join(deg.select(col("node").as("w"), col("deg").as("wdeg")), "w")
      .filter(col("wdeg") <= maxDegree)
      .select("w", "v")
    val pdeg = pruned.groupBy(col("v").as("node")).agg(count(lit(1)).as("pdeg"))
    val inter = pruned.as("x")
      .join(pruned.as("y"), col("x.w") === col("y.w") && col("x.v") < col("y.v"))
      .groupBy(col("x.v").as("a"), col("y.v").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(pdeg.select(col("node").as("a"), col("pdeg").as("deg_a")), "a")
      .join(pdeg.select(col("node").as("b"), col("pdeg").as("deg_b")), "b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("deg_a") + col("deg_b") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= minSim)
      .select("a", "b", "inter", "jaccard")
  }

  /** k-hop BFS levels from seed nodes over the UNDIRECTED view of the
    * edge table: (node, hops) with hops = the node's BFS level (minimum
    * edge count from any seed), hops ≤ k. Each round joins the SMALL
    * frontier (broadcast — an analytic seed set stays bounded) against
    * the edge table and anti-joins the visited set; the big table never
    * shuffles for the traversal and lineage is truncated per round.
    * Oracle-checked against a recursive-SQL reachability (kg_khop).
    */
  def kHop(
      edges: DataFrame,
      seeds: Seq[String],
      k: Int,
      srcCol: String = "subj",
      dstCol: String = "obj"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val bi = undirected(edges, srcCol, dstCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bi.count()
    var visited = seeds.toDF("node").withColumn("hops", lit(0)).localCheckpoint()
    // the checkpoint of the last hop's nodes (the seeds at first)
    var frontier = visited
    var i = 1
    while (i <= k && !frontier.isEmpty) {
      val next = bi
        .join(broadcast(frontier.select(col("node").as("src"))), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("hops", lit(i))
        .localCheckpoint()
      val grown = visited.unionByName(next).localCheckpoint()
      if (frontier ne visited) GraftSqlBridge.release(frontier)
      GraftSqlBridge.release(visited)
      visited = grown
      frontier = next
      i += 1
    }
    if (frontier ne visited) GraftSqlBridge.release(frontier)
    bi.unpersist()
    visited
  }

  /** Predicate wedge census: for every unordered predicate pair
    * (pred_a ≤ pred_b), the number of unordered pairs of DISTINCT edges
    * that share a subject — i.e. how often two relation types co-occur
    * on the same entity. The schema-profiling query a KG consumer runs
    * before writing multi-hop rules.
    *
    * Scale shape: the naive formulation self-joins the edge table on
    * subject, which is quadratic in hub out-degree. This one never
    * pairs edges at all — it counts edges per (subject, predicate)
    * first (one partial-agg groupBy), then pairs the COUNTS: the
    * per-subject fan-out of that join is bounded by the predicate
    * vocabulary (|P|², single digits for any real ontology), not by
    * degree, so a celebrity subject with a million edges contributes
    * |P|² rows, same as any other. Wedge counts come out in closed form
    * (c_a·c_b across predicates, C(c,2) within one).
    */
  def predicateWedges(
      triples: DataFrame,
      subjCol: String = "subj",
      predCol: String = "pred",
      objCol: String = "obj"): DataFrame = {
    val c = triples
      .select(col(subjCol).as("subj"), col(predCol).as("pred"), col(objCol).as("obj"))
      .distinct()
      .groupBy("subj", "pred").agg(count(lit(1)).as("c"))
    // c·(c−1) is always even, so the double division is exact and the
    // cast back to long is lossless (counts ≪ 2^52)
    c.as("x")
      .join(c.as("y"),
        col("x.subj") === col("y.subj") && col("x.pred") <= col("y.pred"))
      .select(
        col("x.pred").as("pred_a"), col("y.pred").as("pred_b"),
        when(col("x.pred") === col("y.pred"),
          (col("x.c") * (col("x.c") - 1) / 2).cast("long"))
          .otherwise(col("x.c") * col("y.c")).as("w"))
      .groupBy("pred_a", "pred_b").agg(sum(col("w")).as("n_wedges"))
      .filter(col("n_wedges") > 0)
  }

  /** AMIE-style rule implication table over the KG: for every ORDERED
    * predicate pair (antecedent ⇒ consequent, antecedent ≠ consequent),
    * the number of subjects with at least one antecedent edge
    * (`n_antecedent`), the number of those that also have a consequent
    * edge (`n_both`), and the rule confidence `n_both / n_antecedent`
    * (rounded to 6 — the ratio of two exact longs, so both engines
    * compute the identical IEEE double). The standard first cut of KG
    * rule mining (AMIE's single-atom body, subject-shared head).
    *
    * Scale shape: one distinct projection to (subj, pred) — at most |P|
    * rows per subject — then a self-join whose per-subject fan-out is
    * again vocabulary-bounded, and two partial-agg groupBys over
    * predicate-sized results. Nothing is ever quadratic in degree.
    */
  def ruleImplication(
      triples: DataFrame,
      subjCol: String = "subj",
      predCol: String = "pred"): DataFrame = {
    val sp = triples.select(col(subjCol).as("subj"), col(predCol).as("pred")).distinct()
    val support = sp.groupBy("pred").agg(count(lit(1)).as("n_antecedent"))
    val both = sp.as("a")
      .join(sp.as("b"), col("a.subj") === col("b.subj") && col("a.pred") =!= col("b.pred"))
      .groupBy(col("a.pred").as("pred"), col("b.pred").as("consequent"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(support, "pred")
      .select(
        col("pred").as("antecedent"), col("consequent"),
        col("n_antecedent"), col("n_both"),
        round(col("n_both").cast("double") / col("n_antecedent"), 6).as("confidence"))
  }

  /** Bounded-round single/multi-source WEIGHTED shortest paths
    * (Bellman-Ford over the min-plus semiring): after `rounds` rounds,
    * `dist(v)` is the minimum total weight of any path from a seed to v
    * using at most `rounds` edges; unreached nodes are absent. Integer
    * weights make the result bit-exact (no float min drift), which is
    * what lets an unrolled SQL replica oracle it with zero tolerance.
    * Complements [[kHop]] (unweighted hop distance): here a long cheap
    * path beats a short expensive one.
    *
    * `edges` must carry every traversable orientation (pass a
    * bi-directed view for undirected semantics) with a LONG `weightCol`.
    *
    * Scale shape: each round is one equi-join (frontier × out-edges,
    * broadcast-able while the reached set is small; AQE picks) and one
    * min-groupBy with map-side partial aggregation; lineage truncated
    * per round like [[pagerank]] so the plan stays constant-depth. The
    * classic iterative-relational SSSP — no vertex-program framework,
    * no driver-side state beyond the seed list.
    */
  def shortestPaths(
      edges: DataFrame,
      seeds: Seq[String],
      rounds: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "w"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(
      col(srcCol).as("src"), col(dstCol).as("dst"), col(weightCol).cast("long").as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()
    var dist = seeds.toDF("node").withColumn("dist", lit(0L)).localCheckpoint()
    var i = 0
    while (i < rounds) {
      val relaxed = e
        .join(dist.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      val next = dist.unionByName(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      GraftSqlBridge.release(dist)
      dist = next
      i += 1
    }
    e.unpersist()
    dist
  }

  /** Bounded-round k-core peeling over the undirected simple graph: each
    * round computes degrees over the surviving subgraph and drops every
    * node with degree < k (and its edges). After `rounds` rounds the
    * surviving nodes are returned with their degree INSIDE the surviving
    * subgraph. With enough rounds this converges to the exact k-core
    * (each round either strictly shrinks the graph or is the fixpoint);
    * a bounded round count keeps the operator oracle-able by an unrolled
    * SQL replica and the plan constant-depth (per-round lineage
    * truncation, like [[pagerank]] / [[labelPropagation]]).
    *
    * Scale shape: each round is ONE degree groupBy (partial agg — the
    * bi-directed table is keyed by src, so degree = per-key count) and
    * two hash equi-joins filtering edges to surviving endpoints. Node-
    * and edge-sized shuffles only; nothing quadratic, nothing driver-side.
    */
  def kCore(
      edges: DataFrame,
      k: Long,
      rounds: Int,
      srcCol: String = "subj",
      dstCol: String = "obj"): DataFrame = {
    var bi = undirected(edges, srcCol, dstCol).localCheckpoint()
    var i = 0
    while (i < rounds) {
      val keep = bi.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("src")
      val next = bi
        .join(keep, "src")
        .join(keep.withColumnRenamed("src", "dst"), "dst")
        .select("src", "dst")
        .localCheckpoint()
      GraftSqlBridge.release(bi)
      bi = next
      i += 1
    }
    bi.groupBy("src").agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree"))
  }

  /** PMI / lift weighting of the co-occurrence graph — the statistical
    * edge-strength measure that separates informative concept pairs from
    * pairs that merely ride on two frequent concepts:
    * `lift(a,b) = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b)` and
    * `pmi = ln(lift)` (rounded to 6 — the pagerank precedent for
    * absorbing sub-ulp ln differences across engines; the lift itself is
    * two IEEE multiplications and one division on exact long counts in a
    * PINNED operand order, so it is bit-identical cross-engine).
    *
    * Scale shape: all counts are partial-agg groupBys; the per-item
    * count and doc-total tables are vocabulary-bounded/scalar and join
    * back by BROADCAST, so the pair table never reshuffles. Products are
    * computed in double (long·long would overflow at corpus scale).
    *
    * @param perDoc distinct (doc, item) membership rows
    * @return (a, b, n_ab, lift, pmi) for canonical pairs a < b
    */
  def pmiWeights(
      perDoc: DataFrame,
      docCol: String = "doc_id",
      itemCol: String = "concept_id"): DataFrame = {
    val m = perDoc.select(col(docCol).as("doc"), col(itemCol).as("item")).distinct()
    val totals = m.agg(countDistinct(col("doc")).as("n_docs"))
    val itemCounts = m.groupBy(col("item")).agg(count(lit(1)).as("n_i"))
    val pairs = m.as("x")
      .join(m.as("y"), col("x.doc") === col("y.doc") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("a"), col("y.item").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val lift =
      (col("n_ab").cast("double") * col("n_docs").cast("double")) /
        (col("n_a").cast("double") * col("n_b").cast("double"))
    pairs
      .join(broadcast(itemCounts.select(col("item").as("a"), col("n_i").as("n_a"))), "a")
      .join(broadcast(itemCounts.select(col("item").as("b"), col("n_i").as("n_b"))), "b")
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("n_ab"),
        lift.as("lift"), round(log(lift), 6).as("pmi"))
  }

  /** Adamic-Adar link-prediction scores: for each non-ordered candidate
    * pair (a, b), `sum over shared neighbors z of 1/ln(deg(z))` —
    * common-neighbor counting that discounts promiscuous hubs. Wedges
    * generate at the shared neighbor, and only neighbors with
    * `2 <= deg(z) <= maxDegree` generate (deg 1 cannot be shared;
    * ln(1) = 0 would divide by zero; the cap is the same hub guard as
    * [[neighborJaccard]] — a hub's wedge fan-out is quadratic in its
    * degree, and its per-wedge contribution `1/ln(deg)` is the smallest,
    * so capping trades the least signal for the bound). Scores are
    * rounded to 6 (absorbs double-sum association order across engines).
    *
    * Each stage is edge-sized: one degree groupBy, one equi-join to
    * attach weights, one self-join at the (degree-capped) neighbor, one
    * partial-agg sum.
    */
  def adamicAdar(
      edges: DataFrame,
      maxDegree: Long,
      srcCol: String = "subj",
      dstCol: String = "obj"): DataFrame = {
    val bi = undirected(edges, srcCol, dstCol)
    val deg = bi.groupBy("src").agg(count(lit(1)).as("d"))
    val weighted = bi
      .join(deg.filter(col("d").between(2L, maxDegree)), "src")
      .select(col("src").as("z"), col("dst").as("nbr"),
        (lit(1.0) / log(col("d").cast("double"))).as("w"))
    weighted.as("p")
      .join(weighted.as("q"),
        col("p.z") === col("q.z") && col("p.nbr") < col("q.nbr"))
      .groupBy(col("p.nbr").as("a"), col("q.nbr").as("b"))
      .agg(round(sum(col("p.w")), 6).as("aa"))
  }
}
