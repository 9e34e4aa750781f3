package graft

import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{DeserializeToObjectExec, ExpandExec, InputAdapter,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Census
import graft.tools.Census.Execution

/** Plan-shape assertions: the optimizations the engine relies on at scale
  * must actually appear in the physical plans — filter/column pushdown to
  * the parquet scan, broadcast joins for dimension tables, no cartesian
  * products where a hash join belongs. Exchange claims and the ledger
  * claims read [[Census]]'s `exchanges` and `scans` of the executed query;
  * the rest, scan counts included, read the plan string before execution. */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-plan-test")
  // Overridable so the 100x scale gate can re-pin every shape invariant
  // against the scaled corpus, where the planner's stats-driven choices
  // (broadcast vs shuffle) can genuinely flip — the d14 hazard class.
  private val dir =
    sys.env.getOrElse("GRAFT_PLANSHAPE_DIR", "/root/testdata/sf0.001")

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private val censuses = collection.mutable.Map.empty[String, Seq[Execution]]

  /** Every SQL execution of a query built and written to a `noop` sink,
    * after one unmeasured pass so that materialized artifacts and parquet
    * listings are not counted; memoized per query. */
  private def census(name: String): Seq[Execution] = censuses.getOrElseUpdate(name, {
    def run(): Unit =
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    run()
    Census.measure(spark)(run())
  })

  /** The final write among a query's executions. */
  private def write(es: Seq[Execution]): Execution = es.filter(_.funcName == "overwrite") match {
    case Seq(e) => e
    case _ => fail(s"expected one write: $es")
  }

  private def written(name: String): Execution = write(census(name))

  private val Docs = "documents.parquet"

  /** The scan fan-out `Tables.fanout` adds when a source under-splits. */
  private val Fanout = "REPARTITION_BY_NUM roundrobin()"

  /** The keys of a hash exchange (none for any other kind). */
  private def hashKeys(exchange: String): Seq[String] = {
    val at = exchange.indexOf(" hash(")
    if (at < 0) Nil else exchange.substring(at + 6, exchange.length - 1).split(", ").toSeq
  }

  private def nodesOf(e: Execution): Seq[SparkPlan] = e.plan.toSeq.flatMap(Census.nodes)

  /** The shuffle exchanges of `e` that [[Census.exchange]] describes as `d`. */
  private def exchangeNodes(e: Execution, d: String): Seq[ShuffleExchangeLike] =
    nodesOf(e).collect { case x: ShuffleExchangeLike if Census.exchange(x) == d => x }

  private def leftSemi(p: SparkPlan): Boolean = p match {
    case j: BroadcastHashJoinExec => j.joinType == LeftSemi
    case _ => false
  }

  /** The nodes one whole-stage codegen span fuses, down to its inputs. */
  private def span(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case p => p +: p.children.flatMap(span)
  }

  private def spans(e: Execution): Seq[Seq[SparkPlan]] =
    nodesOf(e).collect { case w: WholeStageCodegenExec => span(w.child) }

  private def hasExpr(p: SparkPlan, cls: Class[_]): Boolean =
    p.expressions.exists(_.exists(cls.isInstance))

  /** A relaxation round: one node-grain exchange and one broadcast join. */
  private def oneExchangeOneBhj(r: Execution, keys: String): Boolean =
    r.exchanges == Seq(s"ENSURE_REQUIREMENTS hash($keys)") &&
      r.nodes("BroadcastHashJoin") == 1 && r.nodes("BroadcastExchange") == 1

  /** One plan claim of the round-19/20 optimization ledgers
    * (OPTIMIZATION_r19.md, OPTIMIZATION_r20.md) over the executions of
    * `query`. Where a ledger counted the plan before execution and the
    * executed plan counts differently, the row pins the executed count. */
  private case class Claim(row: String, query: String, holds: Seq[Execution] => Boolean)

  private def rounds(es: Seq[Execution]) = es.filter(_.funcName == "localCheckpoint")

  private val ledger: Seq[Claim] = Seq(
    // the (doc_id, h) distinct exchange is folded into the bucket
    // aggregate: 7 exchanges (6 built, the doc-count side reused once)
    Claim("r19 d7: the distinct exchange is folded into the bucket aggregate", "d7_jaccard_capped",
      es => {
        val w = write(es)
        !w.exchanges.exists(hashKeys(_) == Seq("doc_id", "h")) &&
          w.nodes("ShuffleExchange") + w.nodes("ReusedExchange") == 7
      }),
    // 6 exchanges (4 shuffles, 2 broadcasts); the one (doc_id, h)
    // exchange is the count_distinct over semi-join survivors, never the
    // corpus-wide shingle stream
    Claim("r19 d9: the corpus is scanned, never exchanged", "d9_contamination", es => {
      val w = write(es)
      val docH = w.exchanges.filter(hashKeys(_) == Seq("doc_id", "h"))
      w.nodes("ShuffleExchange") == 4 && w.nodes("BroadcastExchange") == 2 && docH.size == 1 &&
        exchangeNodes(w, docH.head).forall(x => Census.nodes(x).exists(leftSemi))
    }),
    // one corpus scan and one shingle exchange serve the prefix branch
    // and both verify sides: the packed build is reused
    Claim("r20 d19: one documents scan, the packed build reused", "d19_prefix_join", es => {
      val w = write(es)
      w.scans.count(_ == Docs) == 1 && w.nodes("ReusedExchange") == 3
    }),
    Claim("r20 d20: one documents scan, the packed build reused", "d20_prefix_join_skew", es => {
      val w = write(es)
      w.scans.count(_ == Docs) == 1 && w.nodes("ReusedExchange") == 3
    }),
    // the rotation permutation is a literal: only the query x corpus ADC
    // crossJoin is a nested loop
    Claim("r20 v9: one BNLJ", "v9_pq_rot", es => es.map(_.nodes("BroadcastNestedLoopJoin")).sum == 1),
    Claim("r20 t21: one REPARTITION_BY_COL hash(doc_id) over the only documents scan",
      "t21_perplexity", es => {
        val w = write(es)
        val byDoc = exchangeNodes(w, "REPARTITION_BY_COL hash(doc_id)")
        w.scans.count(_ == Docs) == 1 && byDoc.size == 1 &&
          Census.nodes(byDoc.head).flatMap(Census.scan).contains(Docs)
      }),
    // every checkpointed relaxation round (after the seed checkpoint):
    // one node-grain exchange and one broadcast join, the edge list
    // never re-exchanges. For g1 (r19) the left join that re-attached
    // deg, a second broadcast and join per round, is gone
    Claim("r19/r20 g1: one exchange and one BHJ per checkpointed round", "g1_pagerank", es => {
      val rs = rounds(es).tail
      rs.size == 5 && rs.forall(oneExchangeOneBhj(_, "node"))
    }),
    Claim("r20 g4: one exchange and one BHJ per checkpointed round", "g4_bfs", es => {
      val rs = rounds(es).tail
      rs.size == 4 && rs.forall(oneExchangeOneBhj(_, "node"))
    }),
    Claim("r20 g8: one exchange and one BHJ per checkpointed round", "g8_harmonic", es => {
      val rs = rounds(es).tail
      rs.size == 3 && rs.forall(oneExchangeOneBhj(_, "src, node"))
    }),
    // g5's three rounds are not checkpointed one by one: the write runs
    // all three, one exchange and one BHJ each, then the community rollup
    Claim("r20 g5: one exchange and one BHJ per round", "g5_label_prop", es => {
      val w = write(es)
      w.exchanges.sorted == (Seq.fill(3)("ENSURE_REQUIREMENTS hash(d2)") :+
        "ENSURE_REQUIREMENTS hash(lbl)").sorted && w.nodes("BroadcastHashJoin") == 3
    }),
    // each peel round: two broadcast semi-joins against one degree
    // aggregate, whose exchange serves both (built once, reused once)
    Claim("r20 g7: the peel shape", "g7_kcore", es => {
      val peels = rounds(es).filter(_.nodes("BroadcastHashJoin") > 0)
      peels.nonEmpty && peels.forall { r =>
        r.exchanges == Seq("ENSURE_REQUIREMENTS hash(d1)") && r.nodes("ReusedExchange") == 1 &&
          nodesOf(r).count(leftSemi) == 2 && r.nodes("BroadcastHashJoin") == 2
      }
    }),
    // the decode closure has one consumer: one DeserializeToObject
    Claim("r20 m1: one DeserializeToObject", "m1_media_features",
      es => nodesOf(write(es)).count(_.isInstanceOf[DeserializeToObjectExec]) == 1),
    // the verify kernel (and the assignment) evaluate vector_dot inside
    // whole-stage codegen spans
    Claim("r20 v16: vector_dot inside a codegen span", "v16_knn_graph", es => {
      val dot = classOf[functions.VectorDot]
      val dots = es.flatMap(e => nodesOf(e).filter(hasExpr(_, dot)))
      val fused = es.flatMap(spans).flatten
      dots.nonEmpty && dots.forall(d => fused.exists(_ eq d))
    }))

  test("r19/r20 ledger: every plan claim holds on the executed plans") {
    val broken = ledger.filterNot(c => c.holds(census(c.query))).map { c =>
      s"${c.row}:\n" + census(c.query).map(e =>
        s"  ${e.funcName} ${e.nodes} ${e.exchanges} ${e.scans}").mkString("\n")
    }
    assert(broken.isEmpty, broken.mkString("\n"))
  }

  test("q1: shipdate filter and column pruning reach the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // only the referenced columns are read (no l_orderkey/l_partkey/...)
    assert(p.contains("ReadSchema"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_partkey"), readSchema)
    assert(readSchema.contains("l_shipdate"), readSchema)
  }

  test("q5: dimension tables join via broadcast, fact side never broadcast") {
    val p = plan("q5_multi_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("t4: doc_id pushdown on documents") {
    val p = plan("t4_fingerprint")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]"), p)
  }

  test("v1: scoring runs inside whole-stage codegen with broadcast queries") {
    val p = plan("v1_cosine_topk")
    assert(p.contains("vector_dot"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("v5: LSH candidates come from an equi-join shuffle, never a cross join") {
    val p = plan("v5_rhp_lsh")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d6: banded SimHash candidates come from bucket equi-joins, no nested loop") {
    val p = plan("d6_simhash_pairs")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("v4: exact pair scoring is a blocked equi-join, no nested loop") {
    val p = plan("v4_embedding_neardup")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d18: candidates come from the shared pair artifact; packed-array merge attaches, no broadcast") {
    val p = plan("d18_xmodal_verify")
    // the rewire is structural: the candidate side is a parquet scan of
    // the materialized near-dup relation (graft-mv-neardup-*), not a
    // recomputation of v4's blocked quadratic pass
    assert(p.contains("graft-mv-neardup-"), p)
    // r18: candidate pairs are corpus-proportional — never broadcast,
    // never hash-built; the shingle arrays attach via doc-keyed SMJ and
    // the overlap is the row-local two-pointer kernel
    assert(!p.contains("BroadcastExchange"), p)
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("sorted_intersect_count"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t21: the LM model side reads the bigram artifacts and broadcasts; dw is the only corpus consumer") {
    val p = plan("t21_perplexity")
    assert(p.contains("graft-mv-bigrams-"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    // exactly ONE scan of the documents table survives (the dw scoring
    // relation); model + vocab come from the artifacts. Scan counts stay
    // on the plan before execution: the executed plan drops a scan whose
    // exchange is reused or whose branch AQE found empty at run time
    val docScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans == 1, s"expected 1 documents scan, saw $docScans:\n$p")
  }

  test("d9: benchmark shingles broadcast into a semi-join, corpus scanned once") {
    val p = plan("d9_contamination")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("t8/t9: global top-k is TakeOrderedAndProject, not a one-partition window") {
    for (q <- Seq("t8_bm25", "t9_vocab")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q: $p")
    }
  }

  test("q8: outer join distribution has no cartesian") {
    val p = plan("q8_custdist")
    assert(p.contains("LeftOuter"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("q4: grouping sets expand once into one aggregate") {
    val es = census("q4_grouping_sets")
    assert(es.flatMap(nodesOf).count(_.isInstanceOf[ExpandExec]) == 1, es)
    assert(!plan("q4_grouping_sets").toLowerCase.contains("cartesianproduct"))
  }

  test("t6: corpus pipeline keeps the quality gate ahead of the dedup exchange") {
    val p = plan("t6_corpus_filter")
    // the dedup shuffle is hash-partitioned by fingerprint, and the only
    // wide operators are that exchange + the final rollup
    assert(p.contains("hashpartitioning(fp"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("d10: bloom prefilter guards the exact confirmation semi-join") {
    val p = plan("d10_bloom_decontam")
    // the bloom probe must appear as a filter on the corpus side, and the
    // exactness comes from a semi-join behind it — never a cartesian
    assert(p.contains("might_contain"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("v10: Hamming candidate scan is xor+popcount, rerank never cross-joins") {
    val p = plan("v10_bq_hamming")
    assert(p.contains("bit_count"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("t11/e10: model joins and grid build stay hash/broadcast, no cartesian") {
    for (q <- Seq("t11_bigram_lm", "e10_gapfill")) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("cartesianproduct"), s"$q: $p")
    }
  }

  test("d11: batch x corpus shingle join is an in-place merge on one h exchange, no broadcast") {
    val p = plan("d11_incremental")
    // r18: the batch is a corpus FRACTION (doc_id % 7) — broadcasting
    // it was the d14 hazard one step removed; both splits now read the
    // single h-grained exchange and merge-join in place
    assert(!p.contains("BroadcastExchange"), p)
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("v11: semdedup pair scan is a shuffle-hash equi-join on the cluster id") {
    val p = plan("v11_semdedup")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("p7: the corpus prefix-sum window is partitioned by bucket") {
    val p = plan("p7_pack")
    // the only window over corpus-sized data must be keyed by the range
    // bucket; the bucket-totals window runs on the 500x-smaller table
    assert(p.contains("hashpartitioning(bucket"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("p8: weighted-sample top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("p8_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("g1/d13/t13/e12: round-5 aggregation pipelines never cross-join") {
    for (q <- Seq("g1_pagerank", "d13_boilerplate", "t13_hll_shingles",
        "e12_transitions")) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("cartesianproduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("v12: the metadata predicate reaches the parquet scan before scoring") {
    val p = plan("v12_filtered_topk")
    assert(p.contains("EqualTo(label,3)"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d14/g2: window and pair aggregates stay equi-join/broadcast, no cartesian") {
    for (q <- Seq("d14_substring_windows", "g2_edge_weights")) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("cartesianproduct"), s"$q: $p")
    }
    assert(plan("g2_edge_weights").contains("TakeOrderedAndProject"))
  }

  test("d14/d21: the duplicated-window join-backs NEVER broadcast (corpus-proportional build sides)") {
    // r17 sf1-gate catch: the planner's fan-out-blind Generate estimate
    // sent the dup/occ sets (corpus-proportional by definition) under
    // the broadcast threshold; at 10x the build hit the 2 GiB ceiling.
    // r17 pinned shuffle-hash joins; the r18 100x gate then OOM'd those
    // very builds (SHJ's HashedRelation cannot spill), so the pin is
    // now SORT-MERGE: the only join whose memory is bounded at any
    // corpus-to-memory ratio.
    for (q <- Seq("d14_substring_windows", "d21_exact_substr")) {
      val p = plan(q)
      assert(!p.contains("BroadcastExchange"),
        s"$q must not broadcast any relation (all join sides are corpus- or doc-proportional): $p")
      assert(!p.contains("ShuffledHashJoin"),
        s"$q: SHJ builds a non-spillable HashedRelation from a corpus-proportional side: $p")
      assert(p.contains("SortMergeJoin"), s"$q: expected merge join-backs: $p")
    }
  }

  test("c1: kmeans assignment is a single-row broadcast, update shuffles model-sized keys") {
    val p = plan("c1_kmeans")
    // the centroid matrix rides in one broadcast row: the only join shapes
    // allowed are broadcast (model) and the tiny cid-keyed left join
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // per-(cid,dim) partial aggregation happens map-side before the exchange
    assert(p.contains("partial_"), p)
  }

  test("g3: triangle closing is an equi-join over oriented edges, top-k never sorts globally") {
    val p = plan("g3_triangles")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t15/p9: classifier scoring and mixture explode stay shuffle-free before the rollup") {
    for ((q, key, rollups) <- Seq(("t15_classifier", "lang", 1), ("p9_mixture", "source", 2))) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("cartesianproduct"), s"$q: $p")
      // exactly the aggregation exchanges and the order-by's, never a
      // join/repartition of the corpus: scoring (t15) has one agg
      // exchange; the mixture (p9) has its two rollups
      val w = written(q)
      assert(w.exchanges.filterNot(_ == Fanout).sorted ==
        (Seq.fill(rollups)(s"ENSURE_REQUIREMENTS hash($key)") :+
          s"ENSURE_REQUIREMENTS range($key)").sorted, w)
    }
  }

  test("t17/p10/v8: pair merges and encodes stay equi-join + hash-agg shaped") {
    // t17: candidate pairs come from term buckets, never a doc x doc join
    val t17 = plan("t17_tfidf_pairs")
    assert(!t17.toLowerCase.contains("cartesianproduct"), t17)
    // p10: only source-count rows ever cross-join (single-row broadcasts)
    val p10 = plan("p10_temperature_mix")
    assert(!p10.toLowerCase.contains("cartesianproduct"), p10)
    // v8 (round 13): encode and ADC are the FUSED map-only kernels in
    // the scan projection — pq_encode/pq_adc9 present, and the old
    // explode + broadcast-join + max_by encode must NOT resurface (it
    // shuffled the corpus n x nSub ways)
    val v8 = plan("v8_pq_adc")
    assert(v8.contains("pq_encode") && v8.contains("pq_adc9"), v8)
    assert(!v8.contains("max_by"), v8)
    // exactly one Window operator (the top-3 ranking; WindowGroupLimit
    // rows are its pushed-down limit, not extra windows)
    assert(v8.linesIterator.count(_.contains("Window [")) == 1, v8)
  }

  test("v8/v9: no whole-stage codegen span fuses the pq_encode projection with the nested-loop join") {
    // the CodegenFallback transform() cast keeps the encode projection out
    // of the cross-join's span (SimilarityOps). AQE plans codegen per query
    // stage at run time, so this reads the final plan of an executed write.
    def encodes(p: SparkPlan) = hasExpr(p, classOf[functions.PqEncode])
    def bnlj(p: SparkPlan) = p.isInstanceOf[BroadcastNestedLoopJoinExec]
    for (q <- Seq("v8_pq_adc", "v9_pq_rot")) {
      val w = written(q)
      val nodes = nodesOf(w)
      assert(nodes.exists(encodes) && nodes.exists(bnlj), s"$q: ${w.plan}")
      assert(spans(w).nonEmpty, s"$q: ${w.plan}")
      assert(!spans(w).exists(s => s.exists(encodes) && s.exists(bnlj)), s"$q: ${w.plan}")
    }
  }

  test("generator expressions are never duplicated into inferred filters") {
    // InferFiltersFromGenerate copies the explode's child expression into a
    // Filter (IsNotNull && size > 0); with computed higher-order generators
    // (shingle/bigram transform builders) that filter re-evaluates the
    // lambda interpreted, per element — measured 21x slower on t10 at
    // sf0.1. The session excludes the rule (Spark.scala); these plans are
    // the regression tripwire: no Filter condition may contain a
    // higher-order generator rebuild.
    for (q <- Seq("t10_repetition", "d2_ngram_jaccard", "d7_jaccard_capped")) {
      val p = plan(q)
      val badFilter = p.linesIterator.exists(l =>
        l.contains("Filter ") && l.contains("transform("))
      assert(!badFilter, s"$q has a Filter re-evaluating a generator HOF:\n$p")
    }
  }

  test("q10/q18: date/flag filters push to the scans, top-k never sorts globally") {
    val q10 = plan("q10_returned")
    assert(q10.contains("GreaterThanOrEqual(o_orderdate"), q10)
    assert(q10.contains("EqualTo(l_returnflag,R)"), q10)
    assert(q10.contains("TakeOrderedAndProject"), q10)
    val q18 = plan("q18_large_orders")
    assert(q18.contains("TakeOrderedAndProject"), q18)
    assert(!q18.toLowerCase.contains("cartesianproduct"), q18)
  }

  test("q15/q22: scalar thresholds ride in broadcasts, dormancy is a left anti join") {
    val q15 = plan("q15_top_supplier")
    assert(q15.contains("BroadcastHashJoin"), q15)
    assert(!q15.toLowerCase.contains("cartesianproduct"), q15)
    val q22 = plan("q22_dormant")
    assert(q22.contains("LeftAnti"), q22)
    // the dormancy cutoff prunes the orders scan before the anti join
    assert(q22.contains("GreaterThanOrEqual(o_orderdate"), q22)
    assert(!q22.toLowerCase.contains("cartesianproduct"), q22)
  }

  test("q17: correlated small-quantity avg decorrelates to aggregate-then-join") {
    val p = plan("q17_small_qty")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(p.contains("partial_"), p) // per-part averages combine map-side
  }

  test("e16/c2/v15: round-6 joins stay equi-keyed, never nested-loop on data") {
    // g5 is deliberately absent: its per-round joins end in
    // localCheckpoint, so the final executedPlan is a LogicalRDD scan
    // and any join assertion on it would be vacuously green
    for (q <- Seq("e16_timed_funnel", "c2_grid_density")) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("cartesianproduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
    // v15 composes v1 (whose brute-force ground truth legitimately
    // broadcasts the 5-query side as a nested loop) — only cartesians
    // are banned there
    assert(!plan("v15_recall_eval").toLowerCase.contains("cartesianproduct"))
  }

  test("t18: redaction is one scan and one rollup — no join, no extra exchange") {
    val p = plan("t18_pii_redact")
    // regexp_count lowers to size(regexp_extract_all(...)) — row-local
    assert(p.contains("regexp_extract_all"), p)
    assert(!p.contains("Join"), p)
    // exactly the rollup's hash exchange + the final order-by's range
    // exchange; nothing corpus-shaped moves besides the 5-group aggregate
    val w = written("t18_pii_redact")
    assert(w.exchanges.filterNot(_ == Fanout).sorted ==
      Seq("ENSURE_REQUIREMENTS hash(source)", "ENSURE_REQUIREMENTS range(source)"), w)
  }

  test("v16: the kNN-graph pair scan is a cell-keyed join, corpus never broadcasts") {
    val p = plan("v16_knn_graph")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    // the pair scan itself must be shuffle-keyed on the cell id (hash or
    // sort-merge), and the cell join must NEVER be a broadcast — at
    // scale both sides are corpus-sized, so a BroadcastHashJoin on the
    // cell key is exactly the regression this guards against
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin [cell"), p)
  }

  test("q19: the disjunction's common bounds push to both scans") {
    val p = plan("q19_disjunctive")
    assert(p.contains("LessThanOrEqual(l_quantity,30"), p)
    assert(p.contains("LessThanOrEqual(p_size,30)"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("p12: the only corpus window is partitioned by length bucket") {
    val p = plan("p12_length_batches")
    assert(p.contains("hashpartitioning(bucket"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("Join"), p)
  }

  test("g7: round summaries read materialized peel leaves, no cartesian") {
    val p = plan("g7_kcore")
    // the peel's semi-joins ran eagerly at localCheckpoint time, so the
    // final plan must be summary aggregates over materialized leaves
    // (Scan ExistingRDD) — NOT a re-derived 4-round join tree
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("LeftSemi"), p)
  }

  test("a9: each profile branch scans exactly its own column, no Expand") {
    val p = plan("a9_profile")
    // the one-aggregate alternative plans a 7-way Expand of full-width
    // rows (measured 8.6 s vs 0.9 s at sf0.1) — this shape must stay
    // six pruned single-column scans
    assert(!p.contains("Expand"), p)
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.size == 6, s"expected 6 pruned scans\n$p")
    // every scan reads exactly one column (no struct<a:…,b:…>)
    schemas.foreach { rs =>
      val struct = rs.substring(rs.indexOf("ReadSchema: struct<"))
      assert(!struct.contains(","), rs)
    }
  }

  test("d15: the funnel's only joins are the boilerplate side, no nested loop") {
    val p = plan("d15_curation_funnel")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q21: the decorrelated quantifier pair never cartesians or nested-loops") {
    val p = plan("q21_waiting")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the F-order status predicate reaches the orders scan
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("s2: zorder_key evaluates inside whole-stage codegen, one hash aggregate") {
    val p = plan("s2_zorder_layout")
    assert(p.contains("zorder_key"), p)
    val line = p.linesIterator.find(_.contains("zorder_key")).get
    assert(line.trim.startsWith("*") || line.contains("HashAggregate") ||
      line.contains("Project"), line)
    // the audit aggregates map-side before its one exchange
    assert(p.contains("partial_count"), p)
  }

  test("q23/e23: interval builds window by their natural keys, no corpus-wide window") {
    val q23 = plan("q23_scd2")
    // every window is PARTITION BY o_custkey — no unpartitioned corpus window
    assert(!q23.contains("Window [") ||
      q23.linesIterator.filter(_.contains("windowspecdefinition(")).forall(
        _.contains("o_custkey")), q23)
    assert(q23.contains("LessThan(o_custkey,300)"), q23)
    // e23's only unpartitioned window runs on the quarter relation,
    // AFTER the customer-sized aggregate (bounded by calendar quarters)
    val e23 = plan("e23_hazard")
    val aggIdx = e23.indexOf("HashAggregate")
    val winIdx = e23.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < e23.lastIndexOf("HashAggregate"), e23)
  }

  test("nearest_centroid assignment stays inside whole-stage codegen") {
    // r15: c1 consumes the materialized Lloyd model, so the assignment
    // no longer appears in c1's CONSUMER plan — pin the codegen property
    // on the expression directly (the shape the lloyd build runs)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val q = Seq((1L, Seq(1L, 2L))).toDF("vec_id", "qv")
    val cs = Seq((Seq((0L, Seq(0L, 0L)), (1L, Seq(3L, 3L))))).toDF("cs")
    val p = q.crossJoin(org.apache.spark.sql.functions.broadcast(cs))
      .select(col("vec_id"),
        graft.functions.nearest_centroid(col("qv"), col("cs")).as("m"))
      .queryExecution.executedPlan.toString
    assert(p.contains("nearest_centroid"), p)
    val line = p.linesIterator.find(_.contains("nearest_centroid")).get
    assert(line.trim.startsWith("*") || line.contains("Project"), line)
  }

  test("c1 consumes the materialized Lloyd model: artifact scan + model-sized aggregate") {
    val p = plan("c1_kmeans")
    // the corpus-scale fit runs once in the Materialized build; the
    // gated consumer must be a parquet scan of the artifact feeding a
    // broadcast-joined model-sized aggregate — never a corpus re-fit
    assert(p.contains("mv-lloyd"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  // --- round-7 floor-burndown shapes: these exchanges were REMOVED; the
  // assertions keep them removed ---

  test("t17: per-doc tf is row-local and the rare-term table broadcasts") {
    val p = plan("t17_tfidf_pairs")
    // run-length over the sorted token array, not a (doc, word) groupBy
    assert(p.contains("zip_with"), p)
    // the r6 corpus-scale shuffle of raw (doc_id, w) occurrences is gone
    val w = written("t17_tfidf_pairs")
    assert(!w.exchanges.exists(x => hashKeys(x).headOption.contains("doc_id") &&
      hashKeys(x).contains("w")), w)
    // df-capped vocabulary joins by broadcast, never by reshuffling tf
    assert(p.contains("BroadcastHashJoin [w#"), p)
  }

  test("t14/t16: BPE merge rounds run in one task, application joins broadcast") {
    val p14 = plan("t14_bpe_learn")
    assert(p14.contains("MapPartitions") && p14.contains("Coalesce 1"), p14)
    val p16 = plan("t16_bpe_apply")
    assert(p16.contains("MapPartitions") && p16.contains("Coalesce 1"), p16)
    assert(p16.contains("BroadcastHashJoin [word#"), p16)
  }

  test("t21: corpus aggregates once into (doc, bigram) counts; margins broadcast") {
    val p = plan("t21_perplexity")
    // the single corpus-scale exchange is one repartition(doc_id); the
    // (doc, bigram) rollup runs co-partitioned on it, with no exchange
    // of its own (and none is reused, so no second one hides)
    val w = written("t21_perplexity")
    assert(w.exchanges.count(_ == "REPARTITION_BY_COL hash(doc_id)") == 1, w)
    assert(w.exchanges.count(hashKeys(_).headOption.contains("doc_id")) == 1, w)
    assert(w.nodes("ReusedExchange") == 0, w)
    assert(!w.exchanges.exists(hashKeys(_).take(2) == Seq("doc_id", "w1")), w)
    // c1 margin and the vocab scalar ride broadcasts, not joins-by-shuffle
    assert(w.nodes("BroadcastExchange") >= 2, w)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("t20: one-pass S x S overlap — no checkpoint, diagonal via window") {
    val p = plan("t20_source_overlap")
    // single job: no materialized-RDD scan (the r6 shape checkpointed the
    // shingle-type relation to consume it twice)
    assert(!p.contains("Scan ExistingRDD"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(h#"), p)
  }

  // ---- round-8 shapes: the exchange cuts must not silently regress ----

  test("t8: native tokenizer kernel, no token explode, stats broadcast") {
    val p = plan("t8_bm25")
    assert(p.contains("token_term_counts"), p)
    assert(!p.contains("Generate explode"), p) // the r7 shape exploded every token
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q16: no pre-distinct exchange, dims broadcast, one grouped distinct") {
    val p = plan("q16_supplier_cnt")
    // both dimension probes broadcast; the only exchanges belong to the
    // count(DISTINCT) two-level aggregate
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q21: single corpus pass — no Expand, no probe-side rescan") {
    val p = plan("q21_waiting")
    assert(!p.contains("Expand"), p) // countDistinct x2 would plan one
    // lineitem is scanned once: the decorrelated aggregate feeds the
    // supplier rollup directly instead of semi-joining a second scan
    assert("Scan parquet [^\\n]*lineitem".r.findAllIn(p).size == 1, p)
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
  }

  test("q20: everything derives from ONE basket aggregate (no checkpoint, no re-scan fan-out)") {
    val p = plan("q20_basket_lift")
    // r8 planned four independent lineitem scans (pairs, np twice, n);
    // r9 derives the pair explode, part frequencies, and order count
    // from one basket aggregate whose exchange AQE reuses — so the
    // static plan shows the lineitem scan + basket collect_set, never a
    // checkpoint RDD, and no cartesian anywhere
    assert(!p.contains("Scan ExistingRDD"), p)
    assert(p.contains("collect_set"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("m8: banded candidates come from bucket equi-joins + top-k") {
    val p = plan("m8_dhash_neardup")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t24: rank cap is TakeOrderedAndProject, never a vocabulary-wide window") {
    val p = plan("t24_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the OLS moments collapse in one partial+final aggregate pair, so the
    // only exchanges are the vocab aggregate's and the 1-row final agg's
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("t25/p15: single-scan single-aggregate shapes — no join, row-local scoring") {
    val p25 = plan("t25_classifier_eval")
    assert(!p25.contains("Join"), p25) // scoring is row-local; eval is one aggregate
    assert("Scan parquet [^\\n]*documents".r.findAllIn(p25).size == 1, p25)
    val p15 = plan("p15_shard_manifest")
    assert(!p15.contains("Join"), p15)
    assert("Scan parquet [^\\n]*documents".r.findAllIn(p15).size == 1, p15)
    assert(p15.contains("HashAggregate"), p15)
  }

  test("t26: metrics run on the checkpointed confusion relation, never the corpus") {
    val p = plan("t26_langid_eval")
    // the one corpus scan happened inside the eager confusion checkpoint
    // at build time; the metric plan itself must touch NO parquet — all
    // joins/margins/rollups read the <=15-cell checkpoint leaf
    assert(!p.contains("Scan parquet"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("d19: prefix verification stays equi-join shaped, no cartesian, no forced broadcast") {
    val p = plan("d19_prefix_join")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // no plan-time broadcast pin on the candidate relation: its size is
    // corpus-dependent (dup-heavy corpora → result-set-many pairs), so
    // AQE must keep the runtime choice
  }

  test("d18: packed shingle arrays merge-join onto the pairs, no corpus broadcast") {
    val p = plan("d18_xmodal_verify")
    assert(!p.contains("BroadcastExchange"), p)
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("v18: queries broadcast into the range scan, corpus aggregates per query") {
    val p = plan("v18_range_search")
    assert(p.contains("vector_dot"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // the corpus side must never be the broadcast build
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p14: the only corpus-sized work is the token count; totals broadcast") {
    val p = plan("p14_mixture_budget")
    assert(p.contains("token_count"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("Generate explode"), p)
  }

  test("g10: consumes the materialized triangle relation, no cartesian") {
    val p = plan("g10_clustering_coeff")
    // r15: the wedge machinery runs once in the Materialized build;
    // g10's gated plan must be a scan of the node-sized artifact with
    // pushed filters — never a wedge re-join, never a cartesian
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("mv-tri"), p)
    assert(p.contains("PushedFilters: [IsNotNull(dg), GreaterThanOrEqual(dg,2)]"), p)
  }

  test("c5: corpus never key-shuffles — the model rides one broadcast row") {
    val p = plan("c5_silhouette")
    // assignment + silhouette are row-local against the broadcast K x 64
    // matrix; the only aggregates are model-sized (cid rollup). A
    // SortMergeJoin or corpus-keyed Exchange would mean the row-local
    // contract broke.
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }
}
