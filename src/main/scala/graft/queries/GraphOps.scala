package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph operators over relations — the web-graph-shaped half of a
  * training-data pipeline (link-based quality weights, co-occurrence
  * graphs). Kin to [[graft.operators.ConnectedComponents]], which covers
  * the clustering side.
  *
  * PageRank here is ENTIRELY in 64-bit integer arithmetic: ranks are
  * micro-units of 1e12, every per-edge contribution is `r div deg`, and
  * the damping update is `0.15*SCALE + (17*S) div 20`. Integer sums are
  * associative-commutative with no rounding, so the result is invariant
  * to partitioning / aggregation order — the property that lets a
  * distributed 5-iteration run hash-match a single-threaded SQL oracle
  * exactly, and lets two cluster runs at different parallelism agree
  * bit-for-bit (a reproducibility property float PageRank lacks).
  * SCALE bounds: 17 * N * SCALE must stay under 2^63 — at N = 1e9 nodes
  * pick SCALE = 1e8 (rank resolution 1e-8, plenty; the reference point
  * is that ranks sum to ~N * SCALE).
  *
  * Scale shape (100 TB): edge generation is a self-equi-join of the
  * deduplicated (part, supplier) relation on the part key — safe here
  * because the join key has BOUNDED multiplicity (suppliers per part),
  * so per-key output is bounded too; the unbounded-hot-bucket argument
  * that forces bucket-explode for document shingles (see
  * DedupOps.pairCounts) does not apply, and the codegen'd join measured
  * ~2x faster than the interpreted collect_set+HOF explode. The edge
  * list is materialized ONCE via eager `localCheckpoint` (both its
  * consumers and every rank round reference it; Spark has no cross-
  * branch CSE, so an uncheckpointed plan re-executes the million-pair
  * join up to 6x per query). Each iteration is one equi-join (rank onto
  * the checkpointed edge list) + one hash aggregate — the canonical
  * Pregel-as-dataflow shape — ending in a lazy `localCheckpoint` so the
  * next round plans from a leaf; checkpoint blocks are released by the
  * ContextCleaner when the round's DataFrame goes out of scope (no
  * cache leak past the query).
  */
object GraphOps {

  private val Scale = 1000000000000L // 1e12 micro-rank units per node

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Canonical part co-purchase edge list (d1 < d2, eagerly
    * checkpointed), shared by g4/g5/g6 so the graph definition cannot
    * drift between them. `cap` bounds the part-id range (the d7-style
    * density lever); None takes the whole graph.
    *
    * The edge list is distinct ONLY when `dedupPairs = true` (the
    * default). `dedupPairs = false` skips the final (d1, d2) distinct —
    * ONLY for consumers whose aggregate is idempotent under duplicate
    * edges (g4's min-dist): it removes the pair relation's exchange +
    * hash dedup, the single largest shuffle in those queries. Vote/
    * moment consumers (g5, g6) MUST keep the dedup. In this corpus two
    * parts rarely share more than one order so the raw stream is ~the
    * distinct size; at high co-occurrence multiplicity the lever
    * reverses — re-enable dedup so the checkpoint and every round's
    * scan stay distinct-sized. */
  /** Rehearsal-only multiplier for the part-id density cap. The cap is a
    * CORPUS-PROPORTIONAL lever: a 10x disjoint-copy scale-up of the data
    * (Sf1Rehearsal remaps part ids p -> p*k + copy) needs a 10x cap for
    * the graph to be k disjoint copies of the base graph — with the cap
    * fixed, the remap would instead SHRINK the selected subgraph k-fold
    * and the rehearsal would measure nothing. The correctness gate and
    * the bench never set this property (default 1, semantics identical);
    * only `graft.tools.Sf1Rehearsal` sets it, to its copy factor. */
  private[graft] def capScale: Long =
    sys.props.getOrElse("graft.graph.capScale", "1").toLong

  private def coPurchaseEdges(s: SparkSession, dir: String,
      cap: Option[Long], dedupPairs: Boolean = true): DataFrame = {
    val base = t(s, dir, "lineitem")
    // ONE corpus-scale exchange builds the whole graph: repartition by
    // order id up front, and the (o, p) dedup (clustered-distribution
    // subset rule: o-partitioning satisfies (o, p) grouping), the wedge
    // self-join on o (both sides already clustered by o — and the two
    // identical subplans collapse into one reused shuffle stage), and
    // the map-side dedup before the final (d1, d2) exchange all run in
    // place. Round 6's shape paid a (o, p) exchange plus a fresh o
    // exchange per join side for the same result.
    val li = cap.fold(base)(c => base.filter(col("l_partkey") < c * capScale))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .repartition(col("o"))
      .distinct()
    val pairs = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("d1"), col("b.p").as("d2"))
    (if (dedupPairs) pairs.distinct() else pairs).localCheckpoint(true)
  }

  /** The cap-3000 co-purchase edge list g5/g6/g7/g8/g9 all iterate
    * over, materialized once per (dir, capScale) via [[Materialized]]:
    * each of the five paid the pair-join + distinct + checkpoint build
    * before its own algorithm even started. Their rounds now read a
    * stats-bearing parquet leaf (better for broadcast planning than the
    * stats-less checkpoint leaf — the r11 g4/g8 lesson) and the build
    * is paid once per corpus. */
  private def coPurchaseEdges3000(s: SparkSession, dir: String): DataFrame =
    Materialized.rel(s, s"copurch-${Materialized.dirTag(s, dir)}-3000-$capScale") {
      coPurchaseEdges(s, dir, cap = Some(3000L))
    }

  /** The FULL (capless, non-deduped) co-purchase edge artifact g4_bfs
    * iterates over — min-dist is idempotent under duplicate edges, so
    * the pair distinct's exchange (the build's largest shuffle) buys
    * nothing (see coPurchaseEdges scaladoc). */
  private def coPurchFullRawEdges(s: SparkSession, dir: String): DataFrame =
    Materialized.rel(s, s"copurch-full-raw-${Materialized.dirTag(s, dir)}-$capScale") {
      coPurchaseEdges(s, dir, cap = None, dedupPairs = false)
    }

  /** The deduped co-supply (supplier—supplier via shared part) edge
    * artifact g1_pagerank iterates over. */
  private def coSupplyEdges(s: SparkSession, dir: String): DataFrame =
    Materialized.rel(s, s"cosupply-${Materialized.dirTag(s, dir)}-$capScale") {
      val ps = t(s, dir, "lineitem")
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
        .distinct()
      // (round 11: a d19-style packed-long dedup of the raw pair stream
      // was A/B'd and dropped — ~3.75 vs ~3.8 s, within noise: the pair
      // JOIN generation dominates this stage, not the distinct's hash)
      ps.as("a").join(ps.as("b"),
          col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("d1"), col("b.sk").as("d2"))
        .distinct()
    }

  /** Per-node triangle participation over a canonical (p1 < p2) edge
    * list (expected eagerly checkpointed by the caller — the
    * orientation join and the closing join both read it). Edges are
    * DEGREE-ORIENTED (each points from its lower-(degree, id)
    * endpoint), bounding every node's out-degree by O(sqrt m) — the
    * classical bound that keeps wedge output near m^1.5 instead of
    * sum(deg^2) on skewed graphs. Returns (n, dg, n_triangles) for
    * EVERY node (zero-participation nodes carry 0) — shared by g3,
    * g10, and the `triangles` scale rehearsal so the machinery cannot
    * drift between them. */
  private[graft] def triangleCounts(e: DataFrame): DataFrame = {
    val deg = e.select(col("p1").as("n")).union(e.select(col("p2").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val lower = struct(col("g1.dg"), col("p1")) < struct(col("g2.dg"), col("p2"))
    val d = e.join(deg.as("g1"), col("p1") === col("g1.n"))
      .join(deg.as("g2"), col("p2") === col("g2.n"))
      .select(when(lower, col("p1")).otherwise(col("p2")).as("src"),
        when(lower, col("p2")).otherwise(col("p1")).as("dst"))
      .localCheckpoint(true)
    val tri = d.as("e1").join(d.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("ta"), col("e1.dst").as("tb"), col("e2.dst").as("tc"))
      .join(e, col("tb") === col("p1") && col("tc") === col("p2"))
      .select(col("ta"), col("tb"), col("tc"))
    val tcnt = tri.select(col("ta").as("n"))
      .union(tri.select(col("tb"))).union(tri.select(col("tc")))
      .groupBy(col("n")).agg(count(lit(1)).as("n_triangles"))
    deg.join(tcnt, Seq("n"), "left")
      .select(col("n"), col("dg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Materialized-view sharing for the g3/g10 triangle relation (r14
    * verdict ask #2a): both queries project from the SAME per-node
    * (n, dg, n_triangles) relation over the same cap-4000 graph, so the
    * first query to need it computes [[triangleCounts]] once and writes
    * the NODE-SIZED result as a parquet artifact in per-JVM scratch
    * (the z-queries' idempotent-writer precedent); the other query is
    * then a scan + projection — 17+19 jobs collapse to one build plus
    * two cheap scans. On a cluster the artifact lives on the shared FS;
    * it is one row per node, orders of magnitude smaller than the edge
    * list, so materialization cost is dominated by the compute it
    * de-duplicates. Keyed by (sfDir, cap, capScale) — the rehearsal's
    * density lever changes the graph, so it must miss this cache. */
  private[graft] def triangleCountsShared(s: SparkSession, dir: String,
      cap: Long): DataFrame =
    Materialized.rel(s, s"tri-${Materialized.dirTag(s, dir)}-$cap-$capScale") {
      triangleCounts(coPurchaseEdgesP(s, dir, cap))
    }

  /** g3/g10's shared graph: canonical part co-purchase edges under the
    * cap, eagerly checkpointed. The cap scales with [[capScale]] exactly
    * like [[coPurchaseEdges]]'s — both edge builders must honor the
    * rehearsal lever or an sf1 extension of g3/g10 would silently hit
    * the k-fold-shrink trap the lever exists to prevent. */
  private[graft] def coPurchaseEdgesP(s: SparkSession, dir: String, cap: Long): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_partkey") < cap * capScale)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("p1"), col("b.p").as("p2"))
      .distinct()
      .localCheckpoint(true)
  }

  /** 5-round integer PageRank over an arbitrary (d1 < d2) undirected
    * edge list (expected eagerly checkpointed by the caller — every
    * round references it). Returns (node, deg, r). Exposed for the
    * graph-family scale rehearsal (`QueryScaleRehearsal graph`): the
    * g-census argues the family's sf0.1 ratios are the per-round
    * job/stage floor, and the rehearsal proves the floor AMORTIZES —
    * K x the edges must cost far less than K x the wall, because each
    * round's constant scheduling cost is paid once regardless of data.
    * g1 is exactly this loop over the co-supply pair join. */
  private[graft] def pagerankOf(edges: DataFrame): DataFrame = {
    val bi = edges.union(
      edges.select(col("d2").as("d1"), col("d1").as("d2")))
    // deg doubles as the node table (one row per node by construction,
    // so no extra distinct); tiny — checkpointed once, reused by all
    // 5 rounds and the final projection
    val nd = bi.groupBy(col("d1")).agg(count(lit(1)).as("deg"))
      .select(col("d1").as("node"), col("deg"))
      .localCheckpoint(true)
    // deg rides inside `rank` (n rows), so no separate adjacency-with-
    // degree table is materialized — each round joins the checkpointed
    // edge list against the small rank relation (AQE broadcasts it at
    // this scale; at 1e9 nodes it degrades to a partitioned join).
    var rank = nd.select(col("node"), col("deg"), lit(Scale).as("r"))
    for (_ <- 1 to 5) {
      // BROADCAST the node-grained rank relation (round 11, the g4/g8
      // fix): rank is a stats-less checkpointed leaf after round 1, so
      // the unhinted join planned SMJ and AQE's broadcast conversion
      // could only fire AFTER the edge side's shuffle-write — 5 rounds
      // of exchanging the full bidirectional edge list to probe a
      // node-sized table. With the hint each round is one edge-list
      // scan + a map-side-combined dst aggregate. At 1e9 nodes the
      // rank relation outgrows the session's loud 2 GiB broadcast
      // ceiling and the lever is dropping the hint back to the
      // partitioned join.
      // r19: the rank update is a UNION + one aggregate, not a join —
      // the g4_bfs relaxation idiom. The old shape left-joined nd with
      // the contribution aggregate, which cost a second per-round
      // broadcast build + join stage just to re-attach deg and fill
      // absent nodes with 0. Unioning nd's zero-contribution rows
      // (deg rides along; contrib rows carry deg=0, so max() recovers
      // it) folds fill + re-attach into the SAME map-side-combined
      // aggregate the contributions already pay: one exchange per
      // round, no join. Identical values: sum(c) over the union equals
      // coalesce(s, 0), and every nd node appears exactly once.
      val contrib = bi
        .join(broadcast(rank), col("d1") === col("node"))
        .select(col("d2").as("node"), lit(0L).as("deg"), expr("r div deg").as("c"))
      // LAZY checkpoint per round: the next round (and the final job)
      // plans from a materialized leaf instead of a logical plan that
      // nests every prior round — without it the final plan is a
      // 10+-join tree that Catalyst/AQE re-analyzes stage by stage.
      // Lazy, not eager, so the chain still materializes in one job
      // with each round's RDD computed exactly once.
      rank = contrib
        .union(nd.select(col("node"), col("deg"), lit(0L).as("c")))
        .groupBy(col("node"))
        .agg(max(col("deg")).as("deg"),
          expr(s"${Scale * 15 / 100} + (17 * sum(c)) div 20").as("r"))
        .localCheckpoint(false)
    }
    rank
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- 5-iteration PageRank over the supplier co-supply graph: two
    //     suppliers are linked iff some part ships from both. Top-20
    //     hubs by final rank. ---
    "g1_pagerank" -> ((s, dir) => {
      // Pair generation as a codegen'd self-equi-join on the part key
      // rather than a collect_set + HOF explode: `p` has BOUNDED
      // multiplicity (suppliers per part), so the join's per-key output
      // is bounded too — the skew argument that forces bucket-explode
      // for document shingles (unbounded hot buckets, see DedupOps
      // .pairCounts) doesn't bite here, and the join generates the ~8.7M
      // candidate pairs in whole-stage codegen instead of an interpreted
      // lambda chain (measured 2.4 s vs 4.5-7 s at sf0.1).
      //
      // r15: the edge list — "the dominant cost of the whole query" per
      // the round-8 measurement — is a Materialized graph-view artifact
      // (the g4 precedent); the five integer-PageRank rounds stay live
      // and read a stats-bearing parquet leaf instead of the eager
      // checkpoint this build previously re-ran per invocation.
      val edges = coSupplyEdges(s, dir)
      pagerankOf(edges)
        .select(col("node").as("s_suppkey"), col("deg"), col("r").as("pr"))
        .orderBy(col("pr").desc, col("s_suppkey"))
        .limit(20)
    }),

    // --- weighted co-supply edges: top-20 supplier pairs by number of
    //     shared parts, with nation names. The part-key subset is the
    //     d7-style cost cap. Suppliers/nations are classic broadcast
    //     dims; the top-k is a deterministic TakeOrderedAndProject (ties
    //     break on the pair), never a global sort.
    //
    //     Exact pairwise-intersection counts must touch every
    //     (part, s1, s2) incidence once — sum(|S_p| choose 2) work is
    //     the information-theoretic floor and no orientation trick
    //     shrinks it (degree orientation bounds WEDGE-CLOSURE fan-out,
    //     g3; here the pairs themselves are the answer; census in
    //     PERF_NOTES §graph). Three pair-production strategies were
    //     measured at sf0.1: codegen'd self-join 1.36 s, collect_set +
    //     native id_pairs generator 1.7 s (8.7M boxed rows lose to the
    //     join's unsafe-row codegen), broadcast-hash self-join 1.8 s.
    //     The real defect was none of them: AQE coalesces the ~600 KB
    //     post-distinct exchange to ONE partition, so the 8.7M-pair
    //     stage ran single-threaded. The explicit partition count below
    //     is exempt from AQE coalescing and fans the pair stage out;
    //     16 (not 32) because fewer, larger partitions give the partial
    //     count aggregate more in-partition collapse against the ~500k
    //     possible supplier pairs, shrinking the second exchange —
    //     measured 0.77 s at 16 vs 0.91/1.13 s at 32/64. Net 1.36 ->
    //     0.77 s, hash unchanged. At 100 TB the same lever holds: pin
    //     the pair-stage partition count to cluster cores, not to what
    //     the (tiny) distinct relation's byte size suggests. ---
    "g2_edge_weights" -> ((s, dir) => {
      val ps = t(s, dir, "lineitem")
        .filter(col("l_partkey") < 5000)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
        .repartition(16, col("p"))
        .distinct()
      val w = ps.as("a").join(ps.as("b"),
          col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("s1"), col("b.sk").as("s2"))
        .agg(count(lit(1)).as("shared_parts"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      w.join(broadcast(sup.as("u1")), col("s1") === col("u1.s_suppkey"))
        .join(broadcast(nat.as("m1")), col("u1.s_nationkey") === col("m1.n_nationkey"))
        .join(broadcast(sup.as("u2")), col("s2") === col("u2.s_suppkey"))
        .join(broadcast(nat.as("m2")), col("u2.s_nationkey") === col("m2.n_nationkey"))
        .select(col("s1"), col("s2"), col("shared_parts"),
          col("m1.n_name").as("nation1"), col("m2.n_name").as("nation2"))
        .orderBy(col("shared_parts").desc, col("s1"), col("s2"))
        .limit(20)
    }),

    // --- triangle counting over the part co-purchase graph (parts are
    //     linked iff they appear in the same order): top-10 parts by
    //     triangle participation. The graph is genuinely sparse (~48k
    //     edges over ~4k nodes at sf0.1), unlike the near-complete
    //     co-supply graph. Scale shape: edges are DEGREE-ORIENTED (each
    //     edge points from its lower-(degree, id) endpoint), which bounds
    //     every node's out-degree by O(sqrt(m)) — the classical bound
    //     that keeps the wedge join's output near m^1.5 instead of
    //     sum(deg^2) on skewed graphs. Wedges close against the
    //     canonical edge list via one equi-join; per-node counts are
    //     orientation-independent, so the oracle can use the simpler
    //     id-orientation and still match exactly. ---
    "g3_triangles" -> ((s, dir) =>
      // participants only (n_triangles > 0), as the tri-node union the
      // original formulation counted — zero rows must not pad the top-10
      triangleCountsShared(s, dir, cap = 4000)
        .filter(col("n_triangles") > 0)
        .select(col("n").as("p_partkey"), col("n_triangles"))
        .orderBy(col("n_triangles").desc, col("p_partkey"))
        .limit(10)),

    // --- multi-source BFS over the part co-purchase graph (parts linked
    //     when some order contains both — SPARSER than g1's co-supply
    //     graph, which is near-complete at bench scale and would make
    //     every distance 1). Distances from seed parts {1, 2}, 4
    //     relaxation rounds, reached-node histogram per distance.
    //     Same scale shape as g1: bounded-multiplicity pair join for
    //     edges (order size bounds the per-key output), eager
    //     checkpoint of the edge list, per-round join + min-aggregate
    //     with lazy checkpoints — distances are INTEGERS so min() can't
    //     drift and the frontier expansion is partitioning-independent.
    //     At 100 TB rounds shuffle only frontier-sized relations. ---
    "g4_bfs" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      // dedupPairs = false: min-dist is idempotent under duplicate
      // edges, so the pair distinct's exchange (the query's largest
      // shuffle) buys nothing here — see coPurchaseEdges scaladoc.
      // Materialized per (dir, capScale): the 4 relaxation rounds (and
      // the bi union) re-reference the edge stream; the artifact build
      // replaces the per-query checkpoint build (r15 pre-registered).
      val edges = coPurchFullRawEdges(s, dir)
      val bi = edges.union(
        edges.select(col("d2").as("d1"), col("d1").as("d2")))
      // sources come from li (all parts in lineitem), not from edges:
      // an isolated part with no co-purchase partner is still a source
      var dist = li.select(col("p")).distinct().filter(col("p") < 3)
        .select(col("p").as("node"), lit(0L).as("dist"))
        .localCheckpoint(true)
      // Each round BROADCASTS the node-grained dist relation into the
      // relaxation join: the checkpointed-RDD leaf carries no stats, so
      // the unhinted plan sort-merge-joined — re-exchanging (and
      // re-sorting) the million-row edge list EVERY round for a probe
      // against a few-thousand-row visited set (round-11 pair: ~1.9 ->
      // ~1.1 s tail at sf0.1). With the hint each round is one edge-list
      // scan + a map-side-combined node-grain aggregate — the c1
      // discipline (model broadcasts, corpus never shuffles). The
      // broadcast side is bounded by the 4-hop ball of the sources; if
      // that outgrows the session's 2 GiB broadcast ceiling the failure
      // is loud and the lever is dropping the hint back to the shuffle
      // join. The per-round checkpoint stays: dist has TWO consumers
      // per round (union + join), the g7 fan-out that defeats exchange
      // canonicalization. EAGER, not lazy (r16 ProbeG4, 3 windows:
      // fused 1.56-2.02 s REJECTED, lazy 1.22-1.64 s, eager
      // 1.09-1.29 s): materializing each round's node-grained relation
      // as its own job beats deferring the whole chain to the final
      // action — per-query, not a rule: the SAME A/B kept g8 lazy
      // (0.72 vs 0.87 s) and read flat on g1.
      for (_ <- 1 to 4) {
        val relaxed = bi.join(broadcast(dist), col("d1") === col("node"))
          .select(col("d2").as("node"), (col("dist") + 1L).as("dist"))
        dist = dist.union(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .localCheckpoint(true)
      }
      dist.groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("dist"))
    }),

    // --- two-hop reach (friends-of-friends) — the neighborhood-size
    //     signal behind graph-feature engineering (how much of the
    //     graph does a node see in two steps?). Adjacency-merge shape:
    //     per-node sorted neighbor ARRAYS build once (the degree falls
    //     out of the same aggregate), the middle-node join ships one
    //     packed array per edge instead of one row per two-hop PAIR,
    //     and the per-node dedup is array_distinct/flatten inside the
    //     final aggregate — the sum(degree^2)-row shuffle + global
    //     distinct the pair formulation needs never exists. Work is
    //     still sum(degree^2) array-element merges (inherent to exact
    //     reach), but it rides in O(edges) array rows; the part-key cap
    //     stays the skew lever, and a production hub cap (bound
    //     neighbor-list length) drops in as one filter. ---
    "g9_two_hop" -> ((s, dir) => {
      val edges = coPurchaseEdges3000(s, dir)
      // narrow union view, consumed once by the adjacency aggregate —
      // nothing to share, nothing to checkpoint
      val bi = edges.union(
        edges.select(col("d2").as("d1"), col("d1").as("d2")))
      val adj = bi.groupBy(col("d1"))
        .agg(sort_array(collect_set(col("d2"))).as("ns"))
        .select(col("d1"), col("ns"), size(col("ns")).cast("long").as("degree"))
        .localCheckpoint(true) // consumed as both join sides below
      // reach = |({direct} ∪ {neighbors-of-neighbors}) \ {self}|: the
      // direct list is unioned explicitly (a degree-1 chain's neighbor
      // need not appear in any ns2), then one array_distinct dedups
      val reach2 = adj
        .select(col("d1"), col("ns"), explode(col("ns")).as("mid"))
        .join(adj.select(col("d1").as("mid"), col("ns").as("ns2")), Seq("mid"))
        .groupBy(col("d1"))
        .agg(first(col("ns")).as("direct"),
          flatten(collect_list(col("ns2"))).as("hop2"))
        .select(col("d1"),
          (size(array_distinct(expr("array_remove(concat(direct, hop2), d1)"))))
            .cast("long").as("reach2"))
      val deg = adj.select(col("d1"), col("degree"))
      deg.join(reach2, Seq("d1"))
        .select(col("d1").as("node"), col("degree"), col("reach2"))
        .orderBy(col("reach2").desc, col("node"))
        .limit(20)
    }),

    // --- harmonic centrality from sampled sources — the practical form
    //     of closeness at scale (exact all-pairs closeness is O(n*m);
    //     every production system samples sources): per source in a
    //     20-node sample, 3 BFS relaxation rounds over the capped
    //     co-purchase graph tracking (src, node, dist) — the same
    //     join+min-agg rounds as g4 with the source id carried through —
    //     then centrality = sum of 1e6 div dist over reached nodes,
    //     exact integer micro-units so ranking cannot drift on float
    //     reciprocals. State is |sample| x n, the standard
    //     memory/accuracy lever; rounds shuffle frontier-sized
    //     relations keyed by (src, node). ---
    "g8_harmonic" -> ((s, dir) => {
      val edges = coPurchaseEdges3000(s, dir)
      // bi is a narrow union VIEW over the checkpointed edges — cheap to
      // recompute per consumer, so materializing a double-size copy of
      // the edge list bought nothing (one job + memory for a re-scan)
      val bi = edges.union(
        edges.select(col("d2").as("d1"), col("d1").as("d2")))
      var dist = bi.select(col("d1")).distinct().filter(col("d1") < 20)
        .select(col("d1").as("src"), col("d1").as("node"), lit(0L).as("dist"))
        .localCheckpoint(true)
      // g4's round shape: broadcast the (src, node)-grained dist into
      // the relaxation join (bounded by 20 sources x the 3-hop ball) so
      // the edge list never re-exchanges per round; checkpoint stays for
      // the union+join double consumption. Same loud 2 GiB ceiling and
      // shuffle-join lever as g4.
      for (_ <- 1 to 3) {
        val relaxed = bi.join(broadcast(dist), col("d1") === col("node"))
          .select(col("src"), col("d2").as("node"), (col("dist") + 1L).as("dist"))
        dist = dist.union(relaxed)
          .groupBy(col("src"), col("node")).agg(min(col("dist")).as("dist"))
          .localCheckpoint(false)
      }
      dist.filter(col("dist") > 0)
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_reached"),
          sum(expr("1000000 div dist")).cast("long").as("harmonic_micro"))
        .orderBy(col("harmonic_micro").desc, col("src"))
    }),

    // --- label propagation (community detection) over the part
    //     co-purchase graph, 3 synchronous rounds. Each round a node
    //     adopts its neighbors' MODE label — "most votes, ties to the
    //     smallest label", which is exactly Spark 4's deterministic
    //     `mode(lbl, true)` aggregate (most frequent; ties return the
    //     LOWEST value), so a round is ONE map-side-combinable
    //     aggregate. The n-row label relation is broadcast-hinted into
    //     the edge join (bounded: one row per node; same loud 2 GiB
    //     ceiling as g4's frontier), so per round the plan is a
    //     map-side join + ONE shuffle — the r13 form paid THREE
    //     exchanges per round (shuffle join + (node,lbl) vote counts +
    //     per-node pack-max), and the sf1 JobCensus put g5's wall at
    //     ~75% exchange floor (18 jobs/18 stages ≈ 2.9 s of 3.77 s).
    //     Measured at 10x: 2.80 -> 2.11 s, values exact vs the packed
    //     cnt*1e6+(999999-lbl) oracle form, which the oracle SQL still
    //     spells out (ProbeGRounds A/B, three windows consistent).
    //     Scale shape: frontier never exceeds n; aggregation is
    //     partitioning-order invariant (vote counts are exact ints). ---
    "g5_label_prop" -> ((s, dir) => {
      val edges = coPurchaseEdges3000(s, dir)
      // narrow union view over checkpointed edges — see g8
      val bi = edges.union(
        edges.select(col("d2").as("d1"), col("d1").as("d2")))
      var lab = bi.select(col("d1")).distinct()
        .select(col("d1").as("node"), col("d1").as("lbl"))
        .localCheckpoint(true)
      // no per-round checkpoint: 3 rounds is a bounded, linear lineage
      // and keeping it ONE plan lets AQE size every exchange and reuse
      // the checkpointed bi scan across rounds — an RDD boundary per
      // round only added jobs. (Unbounded-round algorithms — g1/d8 —
      // do need the per-round checkpoint; 3 fixed rounds do not.)
      //
      // Size guard on the broadcast hint: the label relation is one
      // (node, lbl) row per node, so at ~16 B/row the 2 GiB broadcast
      // ceiling is ~10^8 nodes. Counting the eagerly-checkpointed lab
      // is a cheap cached-block scan; past the guard we drop the hint
      // and let the round run as a shuffle join — slower per round but
      // unbounded (the r13 packed-aggregate form's property, kept as
      // the degrade path instead of the default).
      val nNodes = lab.count()
      val labelFitsBroadcast = nNodes < 50000000L
      for (_ <- 1 to 3) {
        val labSide = if (labelFitsBroadcast) broadcast(lab) else lab
        lab = bi.join(labSide, col("d1") === col("node"))
          .groupBy(col("d2"))
          .agg(expr("mode(lbl, true)").as("lbl"))
          .select(col("d2").as("node"), col("lbl"))
      }
      lab.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
        .select(col("lbl").as("community"), col("community_size"))
        .orderBy(col("community_size").desc, col("community"))
        .limit(20)
    }),

    // --- degree assortativity (Newman's r) of the part co-purchase
    //     graph: Pearson correlation of endpoint degrees over directed
    //     edge ends — do similar-degree nodes connect? All five moments
    //     (n, sum dx, sum dy, sum dx^2, sum dy^2, sum dx*dy) accumulate
    //     as exact BIGINTs in ONE map-side-combinable aggregate, so the
    //     distributed sums are partitioning-order invariant; floats
    //     enter only in the final one-row Pearson formula, computed
    //     from identical integers on both engines. Shape: the edge list
    //     is built once (checkpointed), degrees are one hash aggregate,
    //     and the moment pass is two narrow equi-joins (edge x degree)
    //     — nothing ever exceeds edge-list size. At ~1e9 edges the
    //     moments approach 2^63: widen to DECIMAL(38,0) there, same
    //     plan. ---
    "g6_assortativity" -> ((s, dir) => {
      val edges = coPurchaseEdges3000(s, dir)
      val bi = edges.union(
        edges.select(col("d2").as("d1"), col("d1").as("d2")))
      val deg = bi.groupBy(col("d1")).agg(count(lit(1)).as("dg"))
      val m = bi
        .join(deg.select(col("d1"), col("dg").as("dx")), Seq("d1"))
        .join(deg.select(col("d1").as("d2"), col("dg").as("dy")), Seq("d2"))
        .agg(count(lit(1)).as("n"),
          sum(col("dx")).cast("long").as("sx"),
          sum(col("dy")).cast("long").as("sy"),
          sum(col("dx") * col("dx")).cast("long").as("sxx"),
          sum(col("dy") * col("dy")).cast("long").as("syy"),
          sum(col("dx") * col("dy")).cast("long").as("sxy"))
      m.select((col("n") / 2).cast("long").as("n_edges"),
        round(col("sx") / col("n"), 6).as("avg_degree"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("assortativity"))
    }),

    // --- k-core decomposition (k=80, 4 peel rounds) over the part
    //     co-purchase graph: repeatedly delete nodes with degree < k and
    //     every edge touching them — the degeneracy peel that isolates
    //     cohesive cores (community seeds, link-farm detection). Output
    //     is the peel convergence curve: per-round surviving (nodes,
    //     edges). State is integer-only, so the distributed rounds
    //     hash-match the oracle's unrolled CTEs exactly. Scale shape:
    //     each round is ONE degree hash aggregate over the (shrinking)
    //     edge list plus two left-semi joins (both endpoints must
    //     survive), eagerly checkpointed because the round's edges feed
    //     both its summary row and the next round — work only ever
    //     decreases round over round, the property that makes peeling
    //     viable at web-graph scale. ---
    "g7_kcore" -> ((s, dir) => {
      val k = 80
      var e = coPurchaseEdges3000(s, dir)
      var bi = e.union(e.select(col("d2").as("d1"), col("d1").as("d2")))
      // ONE aggregate per bidirectional relation, ever: the per-node
      // degree count drives the NEXT round's peel AND yields the
      // CURRENT round's survival audit row-for-free (n_nodes = degree
      // rows, n_edges = sum(deg)/2) — round 8 additionally ran a
      // countDistinct + count pass over each round's bi just for the
      // audit, a second full exchange of the same relation per round.
      // The degree frame is NOT checkpointed: its three consumers
      // (audit agg + both semi-join builds) sit on one checkpointed e,
      // so their aggregate subplans canonicalize identically and AQE
      // exchange reuse computes it once (A/B: equal-or-faster than an
      // eager checkpoint, minus the materialization job).
      var deg = bi.groupBy(col("d1")).agg(count(lit(1)).as("deg"))
      val rounds = (1 to 4).map { r =>
        val keep = deg.filter(col("deg") >= k).select(col("d1").as("node"))
        // the USING semi-joins move the join column first (schema becomes
        // (d2, d1)); re-select before the positional union in the next
        // round reads it as (d1, d2)
        e = e.join(keep.select(col("node").as("d1")), Seq("d1"), "left_semi")
          .join(keep.select(col("node").as("d2")), Seq("d2"), "left_semi")
          .select(col("d1"), col("d2"))
          .localCheckpoint(true)
        bi = e.union(e.select(col("d2").as("d1"), col("d1").as("d2")))
        deg = bi.groupBy(col("d1")).agg(count(lit(1)).as("deg"))
        // coalesce: a round that peels the graph EMPTY has sum(deg) =
        // NULL, but "no surviving edges" is 0, which is what the oracle's
        // count(*)//2 yields — found by the round-11 full sf0.1
        // cross-check (the sf0.01 gate never empties this graph).
        // `div 2` instead of `/2`+cast: sum(deg) is even by construction
        // (each edge counted from both ends), and integer division stays
        // exact past the 2^53 double envelope at real edge counts.
        deg.agg(count(lit(1)).cast("long").as("n_nodes"),
            expr("coalesce(sum(deg), CAST(0 AS BIGINT)) div 2").as("n_edges"))
          .select(lit(r).as("round"), col("n_nodes"), col("n_edges"))
      }
      rounds.reduce(_ union _).orderBy(col("round"))
    }),

    // --- local clustering coefficient — the per-node closure signal
    //     (what fraction of a node's neighbor pairs are themselves
    //     linked?) behind community and link-quality features. Reuses
    //     g3's degree-oriented triangle machinery over the same graph
    //     (part co-purchase, cap 4000): per-node triangle participation
    //     T(v) and degree d(v) give lcc = 2*T / (d*(d-1)) — ONE float
    //     division over exact integers per node, the same IEEE op in
    //     both engines, so the round-6 value cannot drift with
    //     partitioning. Scale shape is g3's: degree orientation bounds
    //     each node's wedge output by O(sqrt m); everything after the
    //     triangle count is node-sized. The degree frame is NOT
    //     checkpointed — its three consumers' subplans canonicalize
    //     identically over the one checkpointed edge list, so AQE
    //     exchange reuse computes it once (g7's measured pattern). ---
    "g10_clustering_coeff" -> ((s, dir) =>
      triangleCountsShared(s, dir, cap = 4000)
        .filter(col("dg") >= 2)
        .select(col("n").as("p_partkey"), col("dg").as("degree"),
          col("n_triangles"))
        .withColumn("lcc",
          round(col("n_triangles") * lit(2.0d) /
            (col("degree") * (col("degree") - lit(1.0d))), 6))
        .orderBy(col("lcc").desc, col("p_partkey"))
        .limit(20))
  )

  // oracle: the same 5 iterations unrolled as chained CTEs (r0..r5),
  // all-BIGINT arithmetic with DuckDB's `//` floor division. Every CTE
  // is MATERIALIZED — g7's lesson applied to the whole chain: default
  // inlining re-expands the million-pair edge join inside each of the 5
  // iterations (measured 14.3 s -> 2.4 s at sf0.1, and an 80 GB temp
  // spill vs 28 s at the 10x rehearsal). The STRONGER baseline is the
  // honest one; the repo's per-query ratio for g1 is taken against it.
  private val prIters: String = (1 to 5).map { k =>
    s"""c$k AS MATERIALIZED (SELECT bi.d2 AS node, CAST(sum(r${k - 1}.r // deg.deg) AS BIGINT) AS s
       |  FROM bi JOIN r${k - 1} ON bi.d1 = r${k - 1}.node
       |  JOIN deg ON bi.d1 = deg.node GROUP BY 1),
       |r$k AS MATERIALIZED (SELECT deg.node,
       |  CAST(${Scale * 15 / 100} + (17 * COALESCE(c$k.s, 0)) // 20 AS BIGINT) AS r
       |  FROM deg LEFT JOIN c$k ON deg.node = c$k.node)""".stripMargin
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "g1_pagerank" ->
      s"""WITH ps AS MATERIALIZED (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
         |e AS MATERIALIZED (SELECT DISTINCT a.sk AS d1, b.sk AS d2
         |      FROM ps a JOIN ps b ON a.p = b.p AND a.sk < b.sk),
         |bi AS MATERIALIZED (SELECT d1, d2 FROM e UNION ALL SELECT d2, d1 FROM e),
         |deg AS MATERIALIZED (SELECT d1 AS node, count(*) AS deg FROM bi GROUP BY 1),
         |r0 AS MATERIALIZED (SELECT node, CAST($Scale AS BIGINT) AS r FROM deg),
         |$prIters
         |SELECT r5.node AS s_suppkey, deg.deg, r5.r AS pr
         |FROM r5 JOIN deg ON r5.node = deg.node
         |ORDER BY pr DESC, s_suppkey LIMIT 20""".stripMargin,

    "g2_edge_weights" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk
        |            FROM lineitem WHERE l_partkey < 5000),
        |w AS (SELECT a.sk AS s1, b.sk AS s2, CAST(count(*) AS BIGINT) AS shared_parts
        |      FROM ps a JOIN ps b ON a.p = b.p AND a.sk < b.sk GROUP BY 1, 2)
        |SELECT s1, s2, shared_parts, n1.n_name AS nation1, n2.n_name AS nation2
        |FROM w JOIN supplier u1 ON s1 = u1.s_suppkey
        |       JOIN nation n1 ON u1.s_nationkey = n1.n_nationkey
        |       JOIN supplier u2 ON s2 = u2.s_suppkey
        |       JOIN nation n2 ON u2.s_nationkey = n2.n_nationkey
        |ORDER BY shared_parts DESC, s1, s2 LIMIT 20""".stripMargin,

    // id-orientation instead of degree-orientation: the triangle SET is
    // identical (orientation only changes who enumerates the wedge), so
    // per-node participation counts match the Spark plan exactly
    "g3_triangles" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem WHERE l_partkey < 4000),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS p1, b.p AS p2
        |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |tri AS (
        |  SELECT e1.p1 AS ta, e1.p2 AS tb, e2.p2 AS tc
        |  FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
        |            JOIN e e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2),
        |nodes AS (SELECT ta AS node FROM tri
        |          UNION ALL SELECT tb FROM tri
        |          UNION ALL SELECT tc FROM tri)
        |SELECT node AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM nodes GROUP BY node
        |ORDER BY n_triangles DESC, p_partkey LIMIT 10""".stripMargin,

    // g3's id-oriented triangle enumeration (the participation counts
    // are orientation-independent) + the degree table; lcc is the same
    // double division over the same exact integers
    "g10_clustering_coeff" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem WHERE l_partkey < 4000),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS p1, b.p AS p2
        |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS degree FROM (
        |  SELECT p1 AS n FROM e UNION ALL SELECT p2 FROM e) u GROUP BY n),
        |tri AS (
        |  SELECT e1.p1 AS ta, e1.p2 AS tb, e2.p2 AS tc
        |  FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
        |            JOIN e e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2),
        |nodes AS (SELECT ta AS n FROM tri
        |          UNION ALL SELECT tb FROM tri
        |          UNION ALL SELECT tc FROM tri),
        |tc AS (SELECT n, CAST(count(*) AS BIGINT) AS n_triangles
        |       FROM nodes GROUP BY n)
        |SELECT deg.n AS p_partkey, deg.degree,
        |  COALESCE(tc.n_triangles, 0) AS n_triangles,
        |  round(COALESCE(tc.n_triangles, 0) * 2.0 /
        |    (deg.degree * (deg.degree - 1.0)), 6) AS lcc
        |FROM deg LEFT JOIN tc ON deg.n = tc.n
        |WHERE deg.degree >= 2
        |ORDER BY lcc DESC, p_partkey LIMIT 20""".stripMargin,

    // the same middle-node join + distinct reach count
    "g9_two_hop" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey < 3000),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS d1, b.p AS d2
        |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |bi AS MATERIALIZED (SELECT d1, d2 FROM e UNION ALL SELECT d2, d1 FROM e),
        |two AS (SELECT x.d1, y.d2 FROM bi x JOIN bi y ON x.d2 = y.d1),
        |reach AS (
        |  SELECT d1, count(*) AS reach2 FROM (
        |    SELECT DISTINCT d1, d2 FROM (
        |      SELECT d1, d2 FROM bi UNION ALL SELECT d1, d2 FROM two) u
        |    WHERE d1 != d2) v
        |  GROUP BY d1),
        |deg AS (SELECT d1, count(*) AS degree FROM bi GROUP BY d1)
        |SELECT deg.d1 AS node, deg.degree, reach.reach2
        |FROM deg JOIN reach ON deg.d1 = reach.d1
        |ORDER BY reach2 DESC, node LIMIT 20""".stripMargin,

    // the same 3 (src,node)-keyed rounds unrolled; MATERIALIZED so the
    // round chain can't re-expand exponentially under default inlining
    "g8_harmonic" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey < 3000),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS d1, b.p AS d2
        |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |bi AS MATERIALIZED (SELECT d1, d2 FROM e UNION ALL SELECT d2, d1 FROM e),
        |s0 AS MATERIALIZED (
        |  SELECT DISTINCT d1 AS src, d1 AS node, CAST(0 AS BIGINT) AS dist
        |  FROM bi WHERE d1 < 20),
        |s1 AS MATERIALIZED (
        |  SELECT src, node, min(dist) AS dist FROM (
        |    SELECT src, node, dist FROM s0 UNION ALL
        |    SELECT s0.src, bi.d2, s0.dist + 1 FROM bi JOIN s0 ON bi.d1 = s0.node) t
        |  GROUP BY src, node),
        |s2 AS MATERIALIZED (
        |  SELECT src, node, min(dist) AS dist FROM (
        |    SELECT src, node, dist FROM s1 UNION ALL
        |    SELECT s1.src, bi.d2, s1.dist + 1 FROM bi JOIN s1 ON bi.d1 = s1.node) t
        |  GROUP BY src, node),
        |s3 AS MATERIALIZED (
        |  SELECT src, node, min(dist) AS dist FROM (
        |    SELECT src, node, dist FROM s2 UNION ALL
        |    SELECT s2.src, bi.d2, s2.dist + 1 FROM bi JOIN s2 ON bi.d1 = s2.node) t
        |  GROUP BY src, node)
        |SELECT src, count(*) AS n_reached,
        |  CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_micro
        |FROM s3 WHERE dist > 0
        |GROUP BY src ORDER BY harmonic_micro DESC, src""".stripMargin,

    // the same 4 relaxation rounds unrolled as chained CTEs
    "g4_bfs" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS d1, b.p AS d2
        |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |bi AS MATERIALIZED (SELECT d1, d2 FROM e UNION ALL SELECT d2, d1 FROM e),
        |s0 AS MATERIALIZED (SELECT DISTINCT p AS node, CAST(0 AS BIGINT) AS dist
        |       FROM li WHERE p < 3),
        |s1 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |         SELECT node, dist FROM s0 UNION ALL
        |         SELECT bi.d2, s0.dist + 1 FROM bi JOIN s0 ON bi.d1 = s0.node) t
        |       GROUP BY node),
        |s2 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |         SELECT node, dist FROM s1 UNION ALL
        |         SELECT bi.d2, s1.dist + 1 FROM bi JOIN s1 ON bi.d1 = s1.node) t
        |       GROUP BY node),
        |s3 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |         SELECT node, dist FROM s2 UNION ALL
        |         SELECT bi.d2, s2.dist + 1 FROM bi JOIN s2 ON bi.d1 = s2.node) t
        |       GROUP BY node),
        |s4 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |         SELECT node, dist FROM s3 UNION ALL
        |         SELECT bi.d2, s3.dist + 1 FROM bi JOIN s3 ON bi.d1 = s3.node) t
        |       GROUP BY node)
        |SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM s4 GROUP BY dist ORDER BY dist""".stripMargin,

    // the same 3 synchronous rounds unrolled; the packed-BIGINT mode
    // (max(cnt * 1e6 + (999999 - lbl))) keeps tie-breaking identical
    "g5_label_prop" -> {
      val lpIters = (1 to 3).map { k =>
        s"""v$k AS (SELECT bi.d2 AS node, l${k - 1}.lbl, count(*) AS cnt
           |  FROM bi JOIN l${k - 1} ON bi.d1 = l${k - 1}.node GROUP BY 1, 2),
           |l$k AS (SELECT node,
           |  CAST(999999 - max(cnt * 1000000 + (999999 - lbl)) % 1000000 AS BIGINT) AS lbl
           |  FROM v$k GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |            FROM lineitem WHERE l_partkey < 3000),
         |e AS (SELECT DISTINCT a.p AS d1, b.p AS d2
         |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
         |bi AS (SELECT d1, d2 FROM e UNION ALL SELECT d2, d1 FROM e),
         |l0 AS (SELECT DISTINCT d1 AS node, d1 AS lbl FROM bi),
         |$lpIters
         |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS community_size
         |FROM l3 GROUP BY lbl
         |ORDER BY community_size DESC, community LIMIT 20""".stripMargin
    },

    // identical integer moments; the Pearson division runs on the same
    // BIGINTs in both engines
    "g6_assortativity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem WHERE l_partkey < 3000),
        |e AS (SELECT DISTINCT a.p AS d1, b.p AS d2
        |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |bi AS (SELECT d1, d2 FROM e UNION ALL SELECT d2, d1 FROM e),
        |deg AS (SELECT d1 AS node, CAST(count(*) AS BIGINT) AS dg
        |        FROM bi GROUP BY d1),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x.dg) AS BIGINT) AS sx, CAST(sum(y.dg) AS BIGINT) AS sy,
        |    CAST(sum(x.dg * x.dg) AS BIGINT) AS sxx,
        |    CAST(sum(y.dg * y.dg) AS BIGINT) AS syy,
        |    CAST(sum(x.dg * y.dg) AS BIGINT) AS sxy
        |  FROM bi JOIN deg x ON bi.d1 = x.node JOIN deg y ON bi.d2 = y.node)
        |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
        |  round(sx * 1.0 / n, 6) AS avg_degree,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS assortativity
        |FROM m""".stripMargin,

    // the same 4 peel rounds unrolled; each round recomputes degrees
    // over the previous round's surviving edges and keeps only edges
    // whose BOTH endpoints still clear the degree-k bar. Every e$r is
    // MATERIALIZED: each is referenced ~3x by its round, so the default
    // CTE inlining would expand the chain 3^4-fold (measured: the
    // un-hinted form never finished at sf0.01)
    "g7_kcore" -> {
      val peel = (1 to 4).map { r =>
        s"""kp$r AS MATERIALIZED (
           |  SELECT d1 AS node FROM (SELECT d1, d2 FROM e${r - 1}
           |    UNION ALL SELECT d2, d1 FROM e${r - 1})
           |  GROUP BY d1 HAVING count(*) >= 80),
           |e$r AS MATERIALIZED (
           |  SELECT d1, d2 FROM e${r - 1}
           |  WHERE d1 IN (SELECT node FROM kp$r)
           |    AND d2 IN (SELECT node FROM kp$r)),
           |s$r AS (SELECT CAST($r AS INT) AS round,
           |  CAST(count(DISTINCT d1) AS BIGINT) AS n_nodes,
           |  CAST(count(*) // 2 AS BIGINT) AS n_edges
           |  FROM (SELECT d1, d2 FROM e$r UNION ALL SELECT d2, d1 FROM e$r))""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |            FROM lineitem WHERE l_partkey < 3000),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.p AS d1, b.p AS d2
         |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
         |$peel
         |SELECT * FROM (
         |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
         |ORDER BY round""".stripMargin
    }
  )
}
