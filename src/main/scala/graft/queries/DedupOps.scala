package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * MinHash, MinHash-LSH, SimHash. Every stage is deterministic (hash
  * functions derived from md5, which both Spark and DuckDB implement
  * identically), so even the LSH bucketing is value-checked by the oracle,
  * not just row-counted.
  *
  * Scale design (100 TB):
  *   - shingling is a generated-column explode — map-side only;
  *   - MinHash is one hash-aggregate over (doc, hashIndex) — a single
  *     shuffle keyed by doc_id, no skew (uniform docs);
  *   - LSH candidate generation is a self-equi-join on (band, bucket) —
  *     Catalyst plans a shuffled hash join on a high-cardinality key;
  *     only same-bucket pairs materialize, never the O(n^2) cross join;
  *   - exact-Jaccard confirmation runs only on LSH survivors.
  *
  * MinHash family: h_i(f) = ((2i+1) * f + 7919 i) mod (2^31 - 1), with f
  * the first-8-hex-digits of md5(shingle) as a long — standard universal
  * hashing (Broder '97 resemblance estimation), oracle-expressible.
  */
object DedupOps {

  private val P = 2147483647L // 2^31 - 1

  // plain load: the family's iterative queries (d8/d12's CC rounds,
  // d16's banded eval) measured ~18% SLOWER under a blanket
  // Tables.fanout — their cost is round-structured, not kernel-bound.
  // Kernel-heavy entries (d14's per-char window digests) fan out at the
  // kernel site instead.
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** distinct word-3-gram shingles keyed by their 60-bit md5 prefix:
    * (doc_id, h). Grouping/joining on the long instead of the ~30-byte
    * shingle string shrinks every downstream shuffle and compare; the
    * oracle applies the identical hash, so even a (mirrored) collision
    * cannot diverge the gate. */
  // word_shingle_hashes fuses the split -> transform-lambda -> concat ->
  // hash pipeline into one native evaluation per document (the composed
  // HOF form ran the lambda interpreted per shingle); element-for-element
  // equal, asserted in FunctionsSpec
  private def shingles(d: DataFrame): DataFrame =
    shinglesRaw(d).distinct()

  /** [[shingles]] before the distinct — consumers whose aggregates dedup
    * anyway (d19's collect_set / count_distinct) skip the extra
    * exchange. */
  /** THE shingle-builder expression (word-3-grams of `text`, 60-bit
    * md5-hashed): single definition shared by [[shinglesRaw]]'s explode
    * and [[docShingleCount]]'s row-local count, so a future change to
    * the shingle size/function cannot silently diverge the Jaccard /
    * contamination denominators from the bucket build (ADVICE r19). */
  private val shingleArr: Column = expr("word_shingle_hashes(text, 3)")

  private[graft] def shinglesRaw(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(shingleArr).as("h"))

  /** Row-local per-doc DISTINCT shingle count — the d19 pk-carries-n
    * idiom (a doc's distinct shingles are array_distinct of its own
    * array; no corpus explode + doc-grain aggregate). BIGINT so the
    * downstream arithmetic is identical to the old count(1) output. */
  private def docShingleCount: Column =
    size(array_distinct(shingleArr)).cast("long")

  /** shingle fingerprint: first 8 md5 hex digits as long (0 .. 2^32) —
    * the top 32 of the shingle key's 60 bits. */
  private val fp: Column = expr("CAST(shiftright(h, 28) AS BIGINT)")

  /** All 8 MinHash values as one map-side-combinable hash aggregate:
    * columns mh0..mh7 with mh_i = min((2i+1)*f + 7919i mod P). */
  private def minhash(docFp: DataFrame): DataFrame = {
    val aggs = (0 to 7).map(i =>
      min((lit(2 * i + 1) * col("f") + lit(7919L * i)) % P).as(s"mh$i"))
    docFp.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** 60-bit SimHash per document from md5-derived token hashes. */
  private def simhash(d: DataFrame): DataFrame = {
    val toks = d.select(col("doc_id"),
      explode(split(trim(col("text")), "\\s+")).as("tok"))
    val h = toks.select(col("doc_id"),
      expr("md5_bits(tok, 15)").as("h"))
    h.select(col("doc_id"), col("h"), explode(expr("sequence(0, 59)")).as("j"))
      .select(col("doc_id"), col("j"),
        (expr("CAST(shiftright(h, j) AS BIGINT)") % 2 * 2 - 1).as("w"))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("w")).as("sw"))
      .select(col("doc_id"),
        when(col("sw") > 0, expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(0L).as("bit"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bit")).as("simhash"))
  }

  /** Co-occurrence counts per doc pair from a (doc_id, key) relation:
    * group by key, explode ordered id-pairs within each bucket, count.
    * One shuffle by key + one by pair — no self-join. */
  // id_pairs is the native form of the in-bucket pair explode
  // (flatten(transform(ids, a -> transform(filter(ids, b -> b > a), ...)))
  // — three nested interpreted lambdas, O(freq^2) dispatches per bucket);
  // element-for-element equality is asserted in FunctionsSpec
  private def pairCounts(rel: DataFrame, key: String = "s"): DataFrame =
    rel.groupBy(col(key)).agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(graft.functions.id_pairs(col("ids"))).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("m"))

  /** d19/d20's exact prefix-filtered set-similarity join over a
    * (doc_id, h) DISTINCT shingle relation, threshold 0.5. The per-doc
    * PACKED token array (sorted by (df, h) — the global prefix order —
    * then projected to the raw hashes) is built ONCE and eagerly
    * checkpointed; the prefix relation AND both verification sides read
    * it, so the corpus-sized shingle relation is scanned exactly once
    * (round 8 probed it three times: once for sizes, twice in the
    * m-count join — the family's slowest plan at 8.8x oracle).
    * Verification is row-local: size(array_intersect(hs1, hs2)) on two
    * doc-sized arrays (shingles are distinct per doc, so set
    * intersection IS the match count) — the g9_two_hop packed-array
    * technique. The checkpoint is doc-many array rows, orders of
    * magnitude smaller than the shingle relation d2/d16 rightly decline
    * to checkpoint. */
  /** d20's deterministic skew injection: even doc_ids gain a shared
    * verbatim footer (leading space keeps token boundaries intact), so
    * the footer's word-3-grams become corpus-hottest shingles. */
  private[queries] val boilerplateFooter =
    " shared boilerplate footer tokens appear verbatim across half the corpus exactly"

  private def skewedDocs(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      when(col("doc_id") % 2 === 0, concat(col("text"), lit(boilerplateFooter)))
        .otherwise(col("text")).as("text"))

  private[graft] def prefixJoinPairs(shRaw: DataFrame): DataFrame = {
    // input is the RAW (pre-distinct) shingle relation: every aggregate
    // below dedups on its own (count_distinct / collect_set), so the
    // helper's distinct exchange would be a pure extra shuffle.
    // cluster by token ONCE: the df aggregate and the df-attach join
    // both run on this exchange (aggregate output is h-partitioned,
    // probe side is the same exchange — no second token shuffle)
    //
    // EXPLICIT isnotnull(doc_id) so all three packed consumers (prefix
    // branch + both verify joins) canonicalize to ONE exchange subtree:
    // the verify joins' `d1/d2 === doc_id` equi-keys make the optimizer
    // INFER IsNotNull(doc_id) into their packed subtrees, while the
    // prefix branch (no join on doc_id) gets none — so the two subtree
    // classes canonicalized apart and the r19 FINAL plan ran the corpus
    // scan + shingle exchange AND the dfq-attach SMJ + partial
    // collect_set TWICE (ShuffleQueryStages 0 vs 3 and 10 vs 11).
    // PlanShapeSpec's ledger row "r20 d19" pins the fixed shape: one
    // documents scan, the packed build reused. Filtering at the
    // source puts the identical filter in every branch; exchange reuse
    // then serves all three from one scan + one exchange + one packed
    // build (guide §2.4 — remove shuffles outright). Result-identical:
    // a NULL doc_id can never reach the output (collect_list drops the
    // null-packed pk; both verify joins are inner equi-joins on
    // doc_id), and count_distinct(doc_id) in dfq ignores NULLs, so
    // filtering them early changes no aggregate value.
    val shH = shRaw.where(col("doc_id").isNotNull).repartition(col("h"))
    val dfq = shH.groupBy(col("h")).agg(count_distinct(col("doc_id")).as("df"))
    // two views of the same token set, both doc-sized: pf = the
    // ALREADY-SLICED prefix in (df, h) global order (feeds candidate
    // generation), hv = the full set value-sorted (feeds the
    // two-pointer verification merge). NO checkpoint despite three
    // consumers (prefix + both verify sides): the three subplans are
    // identical up to expression ids, so AQE's exchange reuse serves
    // all of them from one aggregate stage — measured 0.2 s (d19) /
    // 0.6 s (d20) FASTER than an eager checkpoint, whose
    // materialization job + RDD re-scans cost more than they saved.
    // merge, never broadcast and never shuffle-hash (the d14 lesson,
    // r17 audit; algorithm revised by the r18 100x gate): dfq is
    // token-type-sized — CORPUS-PROPORTIONAL — so it can neither
    // broadcast (2 GiB ceiling, the Generate-blind estimate sends it
    // under the threshold at plan time) nor build an SHJ HashedRelation
    // (non-spillable: at 100x with per-core memory held constant the
    // build OOM'd the heap — d14's stack pinned
    // ShuffledHashJoinExec.buildHashedRelation). Both sides already sit
    // on the h exchange, so the merge join is exchange-free and pays
    // only in-partition sorts, which SPILL; dfq's keys are unique, so
    // SMJ's duplicate-key group buffering never engages.
    val packed = shH.join(dfq.hint("merge"), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(expr("transform(sort_array(collect_set(struct(df, h))), t -> t.h)")
        .as("hs"))
      .select(col("doc_id"),
        expr("slice(hs, 1, size(hs) - CAST(ceil(size(hs) * 0.5D) AS INT) + 1)")
          .as("pf"),
        expr("array_sort(hs)").as("hv"),
        size(col("hs")).cast("long").as("n"))
    // each prefix-token occurrence carries (doc_id | position-in-the-
    // (df,h)-global-order | set size) packed into ONE long, so the
    // in-bucket pair explode stays the codegen'd id_pairs kernel and
    // unpacking is shift arithmetic. Pack bounds: doc_id < 2^21 and
    // pos, n < 2^21 (pos < n, so guarding doc_id and n covers all
    // three) — ample for the bench corpora and GUARDED at runtime
    // on BOTH ends: a doc_id above the bound OR below zero (negative
    // ids would pack into the long silently and alias another doc's
    // bits) raises instead of silently corrupting candidate pairs.
    // n = size(collect_set(...)) is structurally >= 1, but the guard
    // covers n < 0 too — it costs one more codegen'd comparison and
    // keeps the packed domain closed. At >2M docs widen to a struct-array pair
    // explode (same shape, interpreted) or a DECIMAL pack, the c2
    // cell-id precedent. The guard is two codegen'd comparisons per
    // occurrence — noise next to the explode it feeds.
    val packMax = lit((1L << 21) - 1L)
    val pref = packed
      .select(col("doc_id"), col("n"), posexplode(col("pf")).as(Seq("pos", "h")))
      .select(col("h"),
        when(col("doc_id") > packMax || col("doc_id") < 0 ||
             col("n") > packMax || col("n") < 0,
          expr("raise_error(concat('prefix-join pack overflow: doc_id and set " +
            "size must be in [0, 2^21) for the packed-long kernel; got doc_id=', " +
            "doc_id, ', n=', n, '. Widen to the struct-array explode for " +
            "corpora beyond 2M docs; negative doc_ids are out of domain.'))")
            .cast("long"))
          .otherwise(col("doc_id") * lit(1L << 42)
            + col("pos").cast("long") * lit(1L << 21) + col("n"))
          .as("pk"))
    // candidate pairs explode inside each prefix-token bucket and are
    // verified WITH MULTIPLICITY: a pair sharing k prefix tokens is
    // checked k times and deduped AFTER the jaccard filter, where only
    // result-sized rows remain — cheaper than the (d1, d2) pre-dedup
    // aggregate, which shuffled every bucket-pair occurrence (~3x the
    // distinct-candidate count on this corpus) just to avoid row-local
    // re-merges that cost ~50 comparisons each.
    // PPJoin positional filter, row-local BEFORE any verification join:
    // both docs' token arrays share one global (df, h) order, so every
    // shared token of a pair sits at or after this occurrence's
    // positions in BOTH suffixes — overlap <= 1 + min(n1-pos1-1,
    // n2-pos2-1). Jaccard >= 0.5 needs overlap >= ceil((n1+n2)/3); an
    // occurrence failing the bound cannot be the pair's SMALLEST shared
    // token (whose bound is loosest and TRUE for any qualifying pair),
    // so dedup-after still sees every real pair while ~70% of the
    // candidate explosion dies before touching the packed arrays
    // (measured 431k -> 132k verification rows at sf0.1, ProbeD19;
    // the probe's verify stage drops 0.97 -> 0.65 s). The size
    // filter (|sets| within 2x) is subsumed: ub <= min(n1, n2) <
    // ceil((n1+n2)/3) whenever sizes diverge past 2x.
    val cand = pref
      .groupBy(col("h")).agg(sort_array(collect_list(col("pk"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(graft.functions.id_pairs(col("ids"))).as("p"))
      .select(expr("shiftright(p.d1, 42)").as("d1"),
        expr("shiftright(p.d1, 21) & 2097151").as("pos1"),
        expr("p.d1 & 2097151").as("n1c"),
        expr("shiftright(p.d2, 42)").as("d2"),
        expr("shiftright(p.d2, 21) & 2097151").as("pos2"),
        expr("p.d2 & 2097151").as("n2c"))
      .filter((lit(1L) + least(col("n1c") - col("pos1") - lit(1L),
          col("n2c") - col("pos2") - lit(1L)))
        >= expr("(n1c + n2c + 2) div 3"))
      .select(col("d1"), col("d2"))
    // NO broadcast of the candidates: prefix filtering bounds which
    // BUCKETS open, not the candidate count — a duplicate-heavy corpus
    // (the dedup workload) yields at least result-set-many pairs, and
    // pinning those through the driver is the 8 GB broadcast wall. The
    // jaccard filter lands in the join condition, where
    // sorted_intersect_count stays cheap per evaluation (no per-call
    // hash-set build, unlike array_intersect).
    // merge joins: the static planner otherwise BROADCASTS packed — the
    // per-doc token-array relation, i.e. the whole corpus content — on
    // the same blind estimate (observed in the final adaptive plan at
    // 10x, r17 audit), and a shuffle-hash build is no better at scale:
    // BOTH sides are unbounded (packed is doc-many, candidates are
    // result-many — a dup-heavy corpus yields at least result-set-many
    // pairs), and SHJ's HashedRelation build cannot spill (the r18 100x
    // gate OOM'd exactly this class). SMJ sorts spill, and packed's
    // doc_id keys are unique so group buffering never engages.
    // r20 re-measured the pre-dedup once more WITH the positional
    // filter in place (VERDICT r19 #1): candidates deduped before the
    // verify joins on the d1 exchange the first join pays anyway
    // (repartition(d1) + dropDuplicates — the subset rule keeps it one
    // exchange). STILL NO WIN: variant 2.00/1.74 s (d19/d20 filtered
    // medians) vs 1.86/1.72 for the committed shape re-run in the same
    // degraded window (healthy-window committed baseline 1.45/1.26) —
    // at best flat, and it adds a dedup aggregate for multiplicity the
    // positional filter already thinned. Multiplicity verification
    // stays; dedup-after remains the empirical winner.
    cand.hint("merge")
      .join(packed.as("p1").hint("merge"), col("d1") === col("p1.doc_id"))
      .join(packed.as("p2").hint("merge"), col("d2") === col("p2.doc_id"))
      .select(col("d1"), col("d2"),
        graft.functions.sorted_intersect_count(col("p1.hv"), col("p2.hv")).as("m"),
        size(col("p1.hv")).cast("long").as("n1"),
        size(col("p2.hv")).cast("long").as("n2"))
      .withColumn("jac_raw", col("m") / (col("n1") + col("n2") - col("m")))
      .filter(col("jac_raw") >= 0.5)
  }

  /** [[prefixJoinPairs]] finished for the gated d19/d20 surface: rounded
    * jaccard, multiplicity collapsed, total order. Consumers that dedup
    * in their own aggregate (d16's tag union) use the raw pair relation
    * and skip the distinct exchange + sort. */
  private[graft] def prefixJoin(shRaw: DataFrame): DataFrame =
    prefixJoinPairs(shRaw)
      .select(col("d1"), col("d2"), round(col("jac_raw"), 6).as("jaccard"))
      .distinct() // collapse the per-shared-prefix-token multiplicity
      .orderBy(col("d1"), col("d2"))

  /** THE shared ground-truth relation of the dedup family: exact
    * 3-gram jaccard >= 0.5 near-dup pairs over the clean corpus,
    * materialized once per corpus. Built with the bucket-join form —
    * this round's d2-vs-d19 A/B measured it faster than the prefix
    * join on the clean regime at both SFs. Consumers: d2 (its gated
    * output, rounded + ordered), d16's truth side, and the dupcc edge
    * build below. d19/d20 deliberately do NOT consume it — the
    * prefix-filtered algorithm stays live-gated as its own pair. */
  private[graft] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    Materialized.rel(s, s"jacpairs-${Materialized.dirTag(s, dir)}") {
      val sh = shingles(docs(s, dir))
      val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      pairCounts(sh, "h")
        .join(cnt.as("c1"), col("d1") === col("c1.doc_id"))
        .join(cnt.as("c2"), col("d2") === col("c2.doc_id"))
        .withColumn("jac_raw", col("m") / (col("c1.n") + col("c2.n") - col("m")))
        .filter(col("jac_raw") >= 0.5)
        .select(col("d1"), col("d2"), col("jac_raw"))
    }

  /** The MinHash-LSH banded candidate pair relation, materialized once
    * per corpus: d4 and d16 generate IDENTICAL candidate sets (MinHash
    * mins are duplicate-invariant, so the distinct-vs-raw shingle
    * inputs agree), and this is exactly the candidate surface an LSH
    * index persists. Built from the raw shingles (no distinct exchange). */
  private def lshCandidates(s: SparkSession, dir: String): DataFrame =
    Materialized.rel(s, s"lshcand-${Materialized.dirTag(s, dir)}") {
      val bands = minhash(shinglesRaw(docs(s, dir)).select(col("doc_id"), fp.as("f")))
        .select(col("doc_id"), explode(expr(
          "array(" + (0 to 3).map(b =>
            s"concat('$b,', mh${2 * b}, ',', mh${2 * b + 1})").mkString(",") + ")"))
          .as("s"))
      pairCounts(bands).select(col("d1"), col("d2"))
    }

  /** d6/d17's shared SimHash surface over the doc<200 slice: the
    * signature relation and its banded candidate pairs, materialized
    * together (one build, two artifacts). */
  private def simhash200(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val out = Materialized.rels(s, s"simhash200-${Materialized.dirTag(s, dir)}",
      Seq("sig", "cand")) {
      val sh = simhash(docs(s, dir).filter(col("doc_id") < 200))
        .localCheckpoint(true) // candidate build reads it twice
      Seq(sh, simhashCandidates(sh))
    }
    (out(0), out(1))
  }

  /** d8/d12's shared duplicate-cluster labeling, materialized once per
    * corpus (the [[Materialized]] pattern the r14 verdict endorsed for
    * g3/g10): both queries run the identical bounded-round
    * ConnectedComponents over the identical exact-jaccard edge graph —
    * the family's two most expensive plans at sf0.1 — and everything
    * either needs FROM it is the doc-sized (doc_id, cluster) relation. */
  private def dupClusterLabels(s: SparkSession, dir: String): DataFrame =
    Materialized.rel(s, s"dupcc-${Materialized.dirTag(s, dir)}") {
      val edges = jaccardPairs(s, dir).select(col("d1"), col("d2"))
      val (labels, _) = graft.operators.ConnectedComponents.label(edges)
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster"))
    }

  /** d21's exact-substring pipeline over an arbitrary documents frame
    * (exposed for the `substr` scale rehearsal, which feeds synthetic
    * corpora — the gated query reads the fanned-out table). */
  private[graft] def exactSubstr(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 40
    val win = d.filter(length(col("text")) >= L)
      .select(col("doc_id"),
        posexplode(expr(s"char_window_hashes(text, $L)")).as(Seq("pos", "h")))
      // NO checkpoint despite three consumers: the generated window
      // relation never crosses a shared exchange (its consumers key
      // on h, doc_id, and a join probe), so reuse cannot apply — but
      // re-running the codegen'd scan+explode per consumer measured
      // FASTER (0.43 vs 0.55 s) than materializing the 28 MB
      // positioned relation through a checkpoint job
    val occ = win.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("occ") >= 2)
    // merge, never broadcast (r17 sf1 gate) and never shuffle-hash
    // (r18 100x gate): the occ set is CORPUS-PROPORTIONAL (every window
    // hash repeated >= 2 times) — too big for a broadcast (the
    // Generate-blind estimate would send it under the threshold) and
    // too big for SHJ's non-spillable HashedRelation build at constant
    // per-core memory. The occ aggregate is already h-partitioned, so
    // the merge join adds only spillable in-partition sorts; occ's keys
    // are unique, so no duplicate-key group buffering.
    val removed = win.join(occ.hint("merge"), Seq("h"))
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos"))
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = removed
      .withColumn("prev", lag(col("pos"), 1).over(wD))
      .select(col("doc_id"), col("pos"),
        when(col("prev").isNull, lit(L.toLong))
          .otherwise(least(lit(L.toLong), (col("pos") - col("prev")).cast("long")))
          .as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_removed"),
        sum(col("c")).cast("long").as("removed_chars"),
        md5(concat_ws(",", expr(
          "transform(sort_array(collect_list(pos)), p -> CAST(p AS STRING))")))
          .as("spans_md5"))
    val per = win.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
    // doc-grained relation: same never-broadcast / never-hash-build
    // discipline (both sides land doc_id-partitioned from their
    // aggregates, so the merge join is exchange-free; unique keys)
    per.join(spans.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        coalesce(col("spans_md5"), lit("none")).as("spans_md5"))
      .orderBy(col("doc_id"))
  }

  /** d6/d17's banded SimHash candidate pairs: 13 bands over bits [0,60)
    * (8 of width 5, 5 of width 4) — a pair differing in <= 12 bits can
    * touch at most 12 bands, so it collides exactly in at least one
    * (pigeonhole); the oracle may therefore check all-pairs-within-12
    * directly. One string bucket key per (band, bkey), pair-exploded by
    * the same pairCounts helper d4's LSH uses. */
  private def simhashCandidates(sh: DataFrame): DataFrame = {
    val widths = Seq.fill(8)(5) ++ Seq.fill(5)(4)
    val bandExprs = widths.scanLeft(0)(_ + _).zip(widths).zipWithIndex.map {
      case ((off, w), b) =>
        s"struct($b AS band, shiftright(simhash, $off) & ${(1 << w) - 1} AS bkey)"
    }
    val bands = sh.select(col("doc_id"),
      explode(expr(s"array(${bandExprs.mkString(",")})")).as("bb"))
      .select(col("doc_id"), concat_ws(",", col("bb.band"), col("bb.bkey")).as("s"))
    pairCounts(bands).select(col("d1"), col("d2"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- boilerplate-dominated documents (the C4/RefinedWeb inter-doc
    //     repetition filter): a shingle is boilerplate when >= 3 distinct
    //     docs contain it; a doc is flagged when boilerplate shingles are
    //     >= half its distinct shingles (2*n_bp >= n_sh — integer
    //     arithmetic, no float threshold). Shape: one doc-frequency hash
    //     aggregate keyed by the 60-bit shingle hash, then the (much
    //     smaller) boilerplate set joins back on h — the corpus-sized
    //     relation is only ever aggregated, never self-joined. At 100 TB
    //     the df table is the big intermediate; it stays (h, count) pairs
    //     and the >= B filter prunes it before the join back. ---
    "d13_boilerplate" -> ((s, dir) => {
      val d = docs(s, dir)
      val sh = shingles(d)
      val bp = sh.groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
        .filter(col("dfreq") >= 3).select(col("h"))
      val nSh = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      // merge, never broadcast (r17 audit, the d14 lesson) and never
      // shuffle-hash (r18 100x gate): the boilerplate set is
      // CORPUS-PROPORTIONAL (every shingle with df >= 3) and the
      // doc-grained aggregates are doc-proportional — too big to
      // broadcast (the fan-out-blind Generate estimate sends all of
      // them under the threshold at plan time) and too big for SHJ's
      // non-spillable HashedRelation build at constant per-core
      // memory. Unique join keys on every attach side, so SMJ's sorts
      // (which spill) are the whole cost.
      val nBp = sh.join(bp.hint("merge"), Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bp"))
      val flagged = nSh.join(nBp.hint("merge"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_sh"),
          coalesce(col("n_bp"), lit(0L)).as("n_bp"))
        .withColumn("flag", (lit(2) * col("n_bp") >= col("n_sh")).cast("int"))
      d.select(col("doc_id"), col("source"), col("n_chars"))
        .join(flagged.hint("merge"), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("flag"), lit(0))).cast("long").as("n_flagged"),
          sum(when(coalesce(col("flag"), lit(0)) === 1, col("n_chars"))
            .otherwise(0L)).cast("long").as("chars_flagged"))
        .orderBy(col("source"))
    }),

    // --- exact substring-window dedup (the practical fixed-length form
    //     of suffix-array exact-substring dedup): every 40-char window,
    //     stride 1, keyed by its md5-derived 60-bit hash; a window is
    //     duplicated when >= 2 DISTINCT docs contain it, and each doc
    //     reports how much of it is covered by cross-document repeats.
    //     Character windows catch verbatim reuse that word-shingle
    //     Jaccard blurs (partial sentences, templated spans). Scale
    //     shape: the window explode is map-side; one distinct + one
    //     doc-frequency aggregate on the 60-bit key; the duplicated-key
    //     set joins back by hash — never a doc-to-doc comparison. The
    //     d7-style frequency cap is the standing skew lever for
    //     boilerplate-heavy corpora. ---
    "d14_substring_windows" -> ((s, dir) => {
      val L = 40
      // char_window_hashes digests each 40-char window in place (ASCII:
      // zero-copy over the UTF-8 bytes) instead of materializing ~1k
      // window strings per document through an interpreted transform.
      //
      // NO checkpoint (revised by the r18 100x gate; r16 used cache,
      // r17 localCheckpoint): the window relation is corpus x ~1k
      // fan-out — materializing it is storage-proportional to the
      // UNCOMPRESSED exploded corpus (at 100 TB input that is a
      // non-starter; at 100x bench scale its MEMORY_AND_DISK blocks
      // squeezed the unified pool the joins needed). The explode is a
      // cheap codegen'd scan projection, so the one extra consumer
      // (per) RECOMPUTES it; dup + hit share winH's single h exchange
      // via AQE exchange reuse (the prefixJoinPairs precedent, where
      // recompute measured faster than an eager checkpoint even at
      // sf0.1).
      val win = Tables.fanout(docs(s, dir)).filter(length(col("text")) >= L)
        .select(col("doc_id"),
          explode(expr(s"char_window_hashes(text, $L)")).as("h"))
      // ONE h-grained exchange feeds the dup set AND the join probe (the
      // two winH consumers canonicalize to the same exchange, so AQE
      // reuses one shuffle): the distinct runs in place (subset rule:
      // h-partitioning satisfies (doc_id, h) grouping), the doc-freq
      // aggregate runs in place, and the dup join-back is exchange-free
      // on both sides. The r16 shape instead BROADCAST the dup set —
      // the r17 sf1 gate's first catch: the dup set is CORPUS-
      // PROPORTIONAL (exactly the cross-doc-repeated window hashes) and
      // the planner's fan-out-blind Generate estimate sent it under the
      // broadcast threshold; at 10x it hit the 2 GiB ceiling loudly, at
      // 100 TB it always would. Corpus-derived relations never broadcast.
      val winH = win.repartition(col("h"))
      val dup = winH.select(col("doc_id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2).select(col("h"))
      val per = win.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
      // merge, never broadcast and never shuffle-hash: the dup set is
      // corpus-proportional, and SHJ's HashedRelation build does not
      // spill — the r18 100x gate OOM'd the heap building EXACTLY this
      // relation (ShuffledHashJoinExec.buildHashedRelation) with
      // per-core memory held constant. Both sides are h-partitioned
      // already, so the merge join pays only spillable in-partition
      // sorts; dup's keys are unique, so no group buffering.
      val hit = winH.join(dup.hint("merge"), Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
      // LEFT join (d13 precedent): clean documents report n_dup = 0
      // rather than vanishing — corpus-level statistics over this output
      // must see every doc that has windows at all. Doc-grained relation:
      // merge for the same never-broadcast/never-hash-build reason
      // (1e9 docs).
      per.join(hit.hint("merge"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_windows"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_windows"), col("n_dup"),
          round(col("n_dup") / col("n_windows"), 6).as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // --- EXACT SUBSTRING dedup with GLOBAL-ORDER survivor selection
    //     (the deduplicate-text-datasets ExactSubstr technique, Lee et
    //     al. 2022, in window-hash form): every 40-char window
    //     occurrence keys by its 60-bit hash; a hash occurring >= 2
    //     times corpus-wide keeps ONLY its globally-first occurrence
    //     (min (doc_id, pos)) and every other occurrence is a removed
    //     span. Where d14 reports which docs OVERLAP, d21 pins the
    //     exact byte spans an ExactSubstr pass would cut: per doc, the
    //     removed-window count, the chars covered by the UNION of
    //     removed spans, and an md5 over the sorted span starts — so
    //     the survivor byte ranges are hash-pinned, not just counted.
    //     Scale shape: ONE corpus aggregate keyed by the window hash
    //     (min-struct survivor + occurrence count — no corpus-wide
    //     window, no doc-doc pairs, work bounded by hash buckets);
    //     the span-union walk is a lag window over per-doc bounded
    //     partitions. Equal-length spans sorted by pos make the union
    //     size sum to min(L, pos - prev_pos) per span. ---
    "d21_exact_substr" -> ((s, dir) =>
      exactSubstr(Tables.fanout(docs(s, dir)))),

    // --- the curation funnel: the four standing filters composed as one
    //     cumulative cascade with per-source survivor accounting — the
    //     shape every corpus-curation run reports (how many docs each
    //     stage costs, per source). Stages: (1) length band, (2) alpha
    //     ratio >= 0.6 (t2's quality core, as an INTEGER cross-multiply
    //     so no float compare), (3) not boilerplate (d13's 2*n_bp <
    //     n_sh), (4) exact-dup survivor (first doc_id per content hash,
    //     d1's keeper rule). Stage flags are booleans computed in ONE
    //     pass over the corpus (the boilerplate join is the only extra
    //     shuffle, shared with d13's plan shape; the dedup survivor is
    //     a window over the content-hash — at 100 TB a max_by aggregate
    //     per hash replaces the window, same keeper). Output stays
    //     integer-only: counts and chars. ---
    "d15_curation_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val sh = shingles(d)
      val bp = sh.groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
        .filter(col("dfreq") >= 3).select(col("h"))
      val nSh = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      // merge, never broadcast (r17 audit) and never shuffle-hash (r18
      // 100x gate: SHJ's build doesn't spill): bp is corpus-
      // proportional, nSh/nBp doc-proportional — same class as d13
      val nBp = sh.join(bp.hint("merge"), Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bp"))
      val wD = Window.partitionBy(col("hash")).orderBy(col("doc_id"))
      val alpha = length(regexp_replace(lower(col("text")), "[^a-z]", ""))
      val staged = d
        .withColumn("hash", md5(col("text")))
        .withColumn("rn", row_number().over(wD))
        .join(nSh.hint("merge"), Seq("doc_id"), "left")
        .join(nBp.hint("merge"), Seq("doc_id"), "left")
        .select(col("source"), col("n_chars"),
          (col("n_chars") >= 100 && col("n_chars") <= 20000).as("f1"),
          (lit(10) * alpha >= lit(6) * col("n_chars")).as("f2"),
          (lit(2) * coalesce(col("n_bp"), lit(0L)) <
            coalesce(col("n_sh"), lit(1L))).as("f3"),
          (col("rn") === 1).as("f4"))
        .select(col("source"), col("n_chars"), col("f1"),
          (col("f1") && col("f2")).as("c2"),
          (col("f1") && col("f2") && col("f3")).as("c3"),
          (col("f1") && col("f2") && col("f3") && col("f4")).as("c4"))
      staged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("f1").cast("int")).cast("long").as("n_len"),
          sum(col("c2").cast("int")).cast("long").as("n_quality"),
          sum(col("c3").cast("int")).cast("long").as("n_clean"),
          sum(col("c4").cast("int")).cast("long").as("n_kept"),
          sum(when(col("c4"), col("n_chars")).otherwise(0L)).cast("long")
            .as("chars_kept"))
        .orderBy(col("source"))
    }),

    // --- exact dedup: content-hash groups + survivor stats per source ---
    "d1_dedup_exact" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_removed"))
        .orderBy(col("source"))
    }),

    // --- n-gram Jaccard near-dup pairs (exact, the oracle for LSH too).
    //     Pair generation groups by shingle and explodes id-pairs inside
    //     each bucket instead of a self-equi-join: one shuffle keyed by
    //     shingle, intersection counts in a single hash aggregate. At
    //     100 TB the bucket explode bounds work by sum(freq^2), and a
    //     stop-shingle frequency cap (not needed at this skew: max
    //     freq 25) would bound the worst key. ---
    "d2_ngram_jaccard" -> ((s, dir) =>
      jaccardPairs(s, dir)
        .select(col("d1"), col("d2"), round(col("jac_raw"), 6).as("jaccard"))
        .orderBy(col("d1"), col("d2"))),

    // --- exact set-similarity join via PREFIX FILTERING (the
    //     AllPairs/PPJoin family, Bayardo et al. WWW'07) — the OTHER
    //     canonical exact technique next to d2's full bucket join.
    //     Tokens order globally by (df, h) ascending (rarest first,
    //     h as the unique tiebreak); a doc with n shingles exposes only
    //     its first n - ceil(t*n) + 1 tokens (t = 0.5). Theorem: for
    //     Jaccard >= t the MINIMAL shared token sits inside BOTH
    //     prefixes — if it fell outside either side's prefix, every
    //     shared token would sit in that side's ceil(t*n)-1 tail slots,
    //     contradicting m >= ceil(t*n) (which J >= t forces, since
    //     m(1+t) >= t(n_x + n_y) >= t(n_x + m)). So joining the prefix
    //     relations on the token loses nothing, and candidate buckets
    //     are built from the RAREST tokens — bucket fan-out is
    //     anti-correlated with frequency by construction, designing
    //     away the hot-bucket skew d7 caps by fiat. Exact verification
    //     runs only on the candidate pairs (equi-joins by doc id; see
    //     the no-broadcast note below).
    //     Output is BYTE-IDENTICAL to d2 under the same oracle SQL —
    //     same answer, cheaper algorithm, and the gate proves the
    //     substitution. ---
    "d19_prefix_join" -> ((s, dir) => prefixJoin(shinglesRaw(docs(s, dir)))),

    // --- d19's algorithm in the regime it exists FOR: a boilerplate-
    //     skewed corpus (half the docs share an injected verbatim
    //     footer — the real-web shape: nav bars, license blocks,
    //     scraped templates). d2's bucket join explodes each hot
    //     boilerplate shingle as (n/2 choose 2) pairs; d19 never opens
    //     those buckets, because a doc's prefix holds its RAREST
    //     tokens and boilerplate shingles are by construction the most
    //     frequent. Gated so the scale-critical regime flip (measured
    //     2.7-6x in REHEARSALS.json) is oracle-checked and
    //     bench-tracked every round, not just rehearsed. ---
    "d20_prefix_join_skew" -> ((s, dir) =>
      prefixJoin(shinglesRaw(skewedDocs(docs(s, dir))))),

    // --- the stop-shingle-capped form of d2: shingles appearing in more
    //     than 5 documents are excluded from PAIR GENERATION (their
    //     buckets explode as freq^2 — the skew-control lever at 100 TB,
    //     CCNet/Gopher-style), while per-doc sizes keep every shingle so
    //     the capped Jaccard is a strict underestimate, never an
    //     overestimate. ---
    "d7_jaccard_capped" -> ((s, dir) => {
      val d = docs(s, dir)
      // r19: collect_set over the RAW shingle stream replaces the old
      // distinct() + collect_list — the set aggregate dedups (doc, h)
      // inside the same exchange the bucket build already pays, so the
      // separate corpus-scale (doc_id, h) distinct exchange disappears
      // (10 -> 7 formatted-plan exchanges; identical ids arrays).
      val cold = shinglesRaw(d).groupBy(col("h"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1 && size(col("ids")) <= 5)
      val pairs = cold
        .select(explode(expr(
          "flatten(transform(ids, a -> transform(filter(ids, b -> b > a), b -> struct(a AS d1, b AS d2))))"))
          .as("p"))
        .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
        .agg(count(lit(1)).as("m"))
      // r19: the per-doc distinct-shingle count is ROW-LOCAL — a doc's
      // distinct shingles are array_distinct of its own shingle array,
      // so the second corpus explode + doc-grain count aggregate the
      // old `sh.groupBy(doc_id).count` shape paid is a narrow map over
      // the scan (the d19 pk-carries-n precedent). BIGINT cast keeps
      // the n arithmetic identical to the old count(1) output.
      val cnt = d.select(col("doc_id"), docShingleCount.as("n"))
      // merge, never broadcast (r17 audit) and never shuffle-hash (r18
      // 100x gate: SHJ's build doesn't spill): cnt is DOC-proportional;
      // only the (result-sized) pair relation pays the exchanges — cnt
      // keys are unique (one row per doc straight off the scan)
      pairs
        .join(cnt.as("c1").hint("merge"), col("d1") === col("c1.doc_id"))
        .join(cnt.as("c2").hint("merge"), col("d2") === col("c2.doc_id"))
        .withColumn("jac_raw", col("m") / (col("c1.n") + col("c2.n") - col("m")))
        .filter(col("jac_raw") >= 0.5)
        .select(col("d1"), col("d2"), round(col("jac_raw"), 6).as("jaccard_capped"))
        .orderBy(col("d1"), col("d2"))
    }),

    // --- MinHash signatures (8 hash functions) for the first 50 docs.
    //     All 8 mins computed in ONE hash aggregate over the (doc,
    //     fingerprint) relation — no hash-index explode, no pivot: the
    //     shuffle moves each shingle row once, not 8 times. ---
    "d3_minhash_sig" -> ((s, dir) => {
      val sh = shingles(docs(s, dir).filter(col("doc_id") < 50))
      minhash(sh.select(col("doc_id"), fp.as("f")))
        .orderBy(col("doc_id"))
    }),

    // --- full MinHash-LSH dedup: 8 hashes, 4 bands x 2 rows, candidate
    //     pairs confirmed with exact Jaccard >= 0.5 ---
    "d4_lsh_pairs" -> ((s, dir) =>
      // both sides of the LSH dedup are shared materialized index
      // relations now (r15 pre-registered): the banded candidate pairs
      // (lshCandidates — the surface an LSH index persists; its build
      // runs the signature aggregate + band explode once per corpus)
      // and the exact-jaccard truth (jaccardPairs, complete for
      // jac >= 0.5 since any qualifying pair shares a shingle). The
      // gated query is their confirmation equi-join. NO forced
      // broadcast (r18): both sides are stats-carrying parquet
      // artifacts, so the planner's size estimates are ACCURATE here —
      // it broadcasts while the candidate set genuinely fits and
      // shuffles when it doesn't, which is exactly the adaptive
      // behavior a corpus-proportional pair relation needs.
      lshCandidates(s, dir).join(jaccardPairs(s, dir), Seq("d1", "d2"))
        .select(col("d1"), col("d2"), round(col("jac_raw"), 6).as("jaccard"))
        .orderBy(col("d1"), col("d2"))),

    // --- LSH quality evaluation: d4's band-bucket candidate surface
    //     scored against d2's exact-Jaccard ground truth (>= 0.5) —
    //     the v15-style "evaluate the approximation against the exact
    //     twin" gate, for dedup. Reuses the shingle/minhash/band
    //     helpers verbatim so the measurement cannot drift from the
    //     measured pipeline. Output: truth/candidate/hit counts and
    //     precision/recall — counts are integers, the two divisions run
    //     on identical BIGINTs in both engines. Shape: both pair sets
    //     are bucket-bounded (never a corpus self-join); the combine is
    //     three one-row aggregates cross-joined. ---
    "d16_lsh_eval" -> ((s, dir) => {
      // truth side = the d19 prefix-filtered set-similarity join (the
      // "d19 treatment" VERDICT r12 prescribed for this row): its
      // row-local sorted_intersect_count verification and PPJoin
      // positional filter replace the shingle-bucket pair explode, its
      // (d1, d2, m) aggregation, and BOTH per-doc-count joins — the
      // pair-relation-wide shuffles that made this the family's
      // widest-spread plan at sf1 (ProbeD16Sf1: 7.03-11.27 s within one
      // JVM on the old shape). Same truth SET by construction: jaccard
      // >= 0.5 on the same distinct-shingle surface, gated exactly in
      // d19's oracle.
      // NOTE: the gated wrapper (distinct included), not prefixJoinPairs
      // — a jac>=0.5 pair re-verifies once per SHARED PREFIX TOKEN, and
      // near-dup pairs share O(doc_len) of them, so skipping the early
      // distinct floods the tag-union aggregate with pair-multiplicity
      // rows (measured at sf1: median 6.4 s -> 10.1 s with 22-29 s
      // outlier passes). The distinct collapses multiplicity while the
      // relation is still result-sized.
      // truth side now reads the shared materialized exact-jaccard pair
      // relation (same pair SET the prefix join produced — d2/d19 are
      // gated byte-identical — built once per corpus instead of per
      // consumer; the r15 pre-registered extension)
      val truth = jaccardPairs(s, dir)
        .select(col("d1"), col("d2"), lit(1L).as("t"), lit(0L).as("c"))
      // bands from the RAW (pre-distinct) shingles: every MinHash value
      // is a min(), which duplicates cannot change — dropping the
      // distinct removes the last corpus-sized exchange this side had.
      // No checkpoint: the two shingle consumers key differently
      // (prefixJoin's h-repartition vs the doc_id signature aggregate),
      // so no exchange is shareable and the codegen'd scan+explode
      // re-run is cheaper than materializing it (exactSubstr precedent).
      // candidate side reads the same shared banded-candidate artifact
      // d4 confirms against (r15) — the evaluation measures the exact
      // relation the dedup pipeline uses, by construction
      val cand = lshCandidates(s, dir)
        .select(col("d1"), col("d2"), lit(0L).as("t"), lit(1L).as("c"))
      // precision/recall in ONE pass: tag-union the truth and candidate
      // pair relations, collapse tags per pair, and the three counts are
      // sums of one aggregate (hit = both tags set). Round 6 checkpointed
      // each relation to feed a count plus a semi-join — two extra jobs
      // and a pair-relation-wide materialization for the same numbers.
      truth.unionByName(cand)
        .groupBy(col("d1"), col("d2"))
        .agg(max(col("t")).as("t"), max(col("c")).as("c"))
        .agg(sum(col("t")).cast("long").as("n_truth"),
          sum(col("c")).cast("long").as("n_cand"),
          sum(col("t") * col("c")).cast("long").as("n_hit"))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          round(col("n_hit") / col("n_cand"), 6).as("prec"),
          round(col("n_hit") / col("n_truth"), 6).as("recall"))
    }),

    // --- SimHash near-dup pairs: Hamming distance <= 12 among the first
    //     200 docs (bit_count(xor) in both engines). Pair generation is
    //     EXACT banded bucketing, not a self-join: the 60-bit key splits
    //     into 13 disjoint bands, and a pair differing in <= 12 bits can
    //     touch at most 12 bands, so it collides exactly in at least one
    //     (pigeonhole). Candidates come from the same bucket-explode d4
    //     uses, confirmation (bit_count on the full key) runs on the few
    //     survivors — the corpus never cross-joins at any scale. ---
    "d6_simhash_pairs" -> ((s, dir) => {
      val (sh, cand) = simhash200(s, dir) // shared with d17 (r15)
      broadcast(cand)
        .join(sh.select(col("doc_id").as("d1"), col("simhash").as("h1")), Seq("d1"))
        .join(sh.select(col("doc_id").as("d2"), col("simhash").as("h2")), Seq("d2"))
        .select(col("d1"), col("d2"),
          expr("CAST(bit_count(h1 ^ h2) AS BIGINT)").as("hamming"))
        .filter(col("hamming") <= 12)
        .orderBy(col("d1"), col("d2"))
    }),

    // --- edit-distance verification of LSH candidates — the final stage
    //     of a fuzzy-dedup pipeline: banding proposes, Levenshtein
    //     disposes. Candidates come from d6's 13-band SimHash buckets
    //     (pigeonhole: every pair within 12 bits collides in >= 1 band),
    //     confirmation runs the O(L^2) edit distance only on the 80-char
    //     prefixes of the few survivors — the quadratic string kernel
    //     never touches the corpus at large, which is what makes
    //     character-level dedup affordable at 100 TB (cost is
    //     sum(bucket_freq^2), not n^2, and both engines' native
    //     `levenshtein` is unit-cost insert/delete/substitute so the
    //     distances are integer-identical). sim_permille is the
    //     length-normalized similarity in exact integer arithmetic. ---
    "d17_edit_verify" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 200)
      val (sh, cand) = simhash200(s, dir) // shared with d6 (r15)
      val pre = d.select(col("doc_id"), substring(col("text"), 1, 80).as("pre"))
      broadcast(cand)
        .join(sh.select(col("doc_id").as("d1"), col("simhash").as("h1")), Seq("d1"))
        .join(sh.select(col("doc_id").as("d2"), col("simhash").as("h2")), Seq("d2"))
        .filter(expr("bit_count(h1 ^ h2)") <= 12)
        .join(pre.select(col("doc_id").as("d1"), col("pre").as("p1")), Seq("d1"))
        .join(pre.select(col("doc_id").as("d2"), col("pre").as("p2")), Seq("d2"))
        .select(col("d1"), col("d2"),
          levenshtein(col("p1"), col("p2")).cast("long").as("lev"),
          greatest(length(col("p1")), length(col("p2"))).cast("long").as("maxlen"))
        .select(col("d1"), col("d2"), col("lev"),
          expr("(maxlen - lev) * 1000 div maxlen").as("sim_permille"))
        .orderBy(col("d1"), col("d2"))
    }),

    // --- cross-modal dedup verification: v4's embedding near-dup
    //     candidates (cos >= 0.45, the EXACT gated v4 surface via
    //     SimilarityOps.neardupPairs — vec_id is the document's
    //     embedding id) re-scored by exact lexical 3-gram Jaccard.
    //     The SemDeDup-composition question "does semantic similarity
    //     imply lexical duplication?" answered pair by pair: the
    //     embedding index PROPOSES, the text DISPOSES. 100 TB shape
    //     (r18): near-dup candidates are CORPUS-PROPORTIONAL (a
    //     dup-heavy corpus yields at least result-many pairs), so
    //     nothing broadcasts — the d19 packed-array idiom instead:
    //     sorted per-doc shingle arrays attach via doc-keyed spillable
    //     MERGE joins and the overlap is a row-local two-pointer
    //     kernel; zero-overlap pairs survive via a left join on the
    //     packed side (the interesting rows: semantically close,
    //     lexically disjoint). ---
    "d18_xmodal_verify" -> ((s, dir) => {
      // the shared Materialized pair artifact (r15): a tiny stats-carrying
      // parquet scan, so the consumers below re-read it for free and
      // the former localCheckpoint (and its stats-less-leaf broadcast
      // caveat) is gone
      val cand = graft.queries.SimilarityOps.neardupPairs(s, dir)
      // r18 100x-gate restructure: the old shape BROADCAST the candidate
      // relation into the shingle joins — but near-dup candidates are
      // CORPUS-PROPORTIONAL by definition (a dup-heavy corpus yields at
      // least result-many pairs), so that broadcast is the d14 hazard
      // class one artifact removed (the sf10 audit read it 10x over its
      // declared bound). The d19 packed-array idiom replaces it: ONE
      // doc-grained aggregate packs each doc's sorted distinct shingle
      // set, two doc-keyed MERGE joins attach the arrays to the pairs,
      // and the overlap is the row-local two-pointer
      // sorted_intersect_count — no corpus relation is ever broadcast
      // or hash-built, every sort spills, and the per-(pair, shingle)
      // join intermediate disappears entirely.
      val packed = shingles(docs(s, dir))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("h"))).as("hv"))
      // ALL attaches are left joins with a 0 fill: a doc shorter than
      // the shingle width has an EMPTY shingle set (no packed row at
      // all), and dropping its pairs would silently remove exactly the
      // semantically-close-lexically-disjoint rows this audit exists to
      // surface. Jaccard over two empty sets is defined 0 (union empty
      // -> no lexical evidence of duplication).
      val denom = col("n1") + col("n2") - col("m")
      val jac = when(denom === 0, lit(0.0))
        .otherwise(round(col("m") / denom, 6))
      cand
        .join(packed.select(col("doc_id").as("id1"), col("hv").as("hv1"))
          .hint("merge"), Seq("id1"), "left")
        .join(packed.select(col("doc_id").as("id2"), col("hv").as("hv2"))
          .hint("merge"), Seq("id2"), "left")
        .select(col("id1"), col("id2"), col("cos"),
          coalesce(graft.functions.sorted_intersect_count(col("hv1"), col("hv2")),
            lit(0L)).as("m"),
          // explicit null branch (not coalesce(size(..))): legacy
          // sizeOfNull returns -1, not null
          when(col("hv1").isNull, lit(0L))
            .otherwise(size(col("hv1")).cast("long")).as("n1"),
          when(col("hv2").isNull, lit(0L))
            .otherwise(size(col("hv2")).cast("long")).as("n2"))
        .select(col("id1"), col("id2"), col("cos"),
          jac.as("jaccard"),
          when(jac >= 0.5, 1L).otherwise(0L).as("lexical_dup"))
        .orderBy(col("id1"), col("id2"))
    }),

    // --- SimHash (60-bit, md5-derived token hashes) for first 100 docs ---
    "d5_simhash" -> ((s, dir) =>
      simhash(docs(s, dir).filter(col("doc_id") < 100)).orderBy(col("doc_id"))),

    // --- near-duplicate CLUSTERS: connected components over d2's
    //     Jaccard >= 0.5 edges, labeled by component-minimum doc_id —
    //     what a dedup pipeline actually needs (keep one survivor per
    //     cluster, not a bag of pairs). Delegates to
    //     [[graft.operators.ConnectedComponents]]: min-label propagation
    //     with pointer jumping (O(log diameter) rounds), every loop
    //     cache released before the result returns. ---
    "d8_dup_clusters" -> ((s, dir) =>
      dupClusterLabels(s, dir).orderBy(col("doc_id"))),

    // --- benchmark decontamination: fraction of each training doc's
    //     3-gram shingles that appear in the held-out set (doc_id < 20
    //     stands in for an eval benchmark). The benchmark shingle set is
    //     tiny and BROADCASTs into a semi-join against the corpus
    //     shingles — the corpus-side relation is scanned once, keyed
    //     only by its own doc_id aggregate. At 100 TB this is the
    //     standard eval-overlap sweep: benchmark n-grams always fit in
    //     a broadcast. ---
    "d9_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      // r19: the old shape ran a corpus-wide (doc_id, h) distinct just
      // so three consumers saw deduped shingles. All three dedup
      // cheaper locally, so that corpus-scale exchange is GONE:
      // - bench distincts only its own doc<20 slice (benchmark-sized);
      // - n_hit dedups via count_distinct, whose (doc, h) partial agg
      //   sees only rows that SURVIVE the broadcast semi-join
      //   (contaminated shingles, not the corpus);
      // - n_shingles is row-local (array_distinct over the doc's own
      //   shingle array — the d7/d19 pk-carries-n precedent).
      val shRaw = shinglesRaw(d)
      val bench = shRaw.filter(col("doc_id") < 20).select(col("h")).distinct()
      val total = d.filter(col("doc_id") >= 20)
        .select(col("doc_id"), docShingleCount.as("n_shingles"))
      val hit = shRaw.filter(col("doc_id") >= 20)
        .join(broadcast(bench), Seq("h"), "left_semi")
        .groupBy(col("doc_id")).agg(count_distinct(col("h")).as("n_hit"))
      total.join(hit, Seq("doc_id"))
        .withColumn("frac_raw", col("n_hit") / col("n_shingles"))
        .filter(col("frac_raw") >= 0.15)
        .select(col("doc_id"), col("n_shingles"), col("n_hit"),
          round(col("frac_raw"), 6).as("contamination"))
        .orderBy(col("doc_id"))
    }),

    // --- bloom-prefiltered decontamination: the drop-contaminated-docs
    //     sweep at 100 TB scale. d9 ships the benchmark shingle set as an
    //     exact broadcast; here the corpus probes a BLOOM of it first
    //     (bloom_filter_agg / might_contain — Spark's own runtime-filter
    //     expressions, SQL-registered by this engine), so ~all clean
    //     shingle rows die map-side inside the scan stage and only
    //     bloom-positives reach the exact confirmation semi-join that
    //     kills false positives. A bloom of millions of benchmark n-grams
    //     is a few MB where the exact set is hundreds; the output is
    //     EXACT either way (no false negatives + exact confirm), which is
    //     why the oracle can gate it. ---
    "d10_bloom_decontam" -> ((s, dir) => {
      docs(s, dir).createOrReplaceTempView("d10_docs")
      s.sql("""
        WITH sh AS (SELECT DISTINCT doc_id, h
               FROM (SELECT doc_id,
                       explode(word_shingle_hashes(text, 3)) AS h
                     FROM d10_docs)),
        bench AS (SELECT DISTINCT h FROM sh WHERE doc_id < 20),
        corpus AS (SELECT doc_id, h FROM sh WHERE doc_id >= 20),
        cand AS (SELECT doc_id, h FROM corpus
                 WHERE might_contain(
                   (SELECT bloom_filter_agg(h, 100000L, 1048576L) FROM bench), h)),
        bad AS (SELECT DISTINCT c.doc_id FROM cand c LEFT SEMI JOIN bench b ON c.h = b.h),
        d AS (SELECT doc_id, source FROM d10_docs WHERE doc_id >= 20)
        SELECT d.source, count(*) AS n_docs,
          CAST(sum(CASE WHEN bad.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
          CAST(sum(CASE WHEN bad.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM d LEFT JOIN bad ON d.doc_id = bad.doc_id
        GROUP BY d.source ORDER BY d.source""")
    }),

    // --- incremental-batch dedup: the ingestion-time operation — a new
    //     batch (doc_id % 7 = 3 stands in for today's crawl) classified
    //     against the standing corpus as exact_dup (content hash already
    //     present), near_dup (Jaccard >= 0.5 vs any corpus doc), or new.
    //     Scale shape (r18): the "batch" is a corpus FRACTION, so
    //     nothing batch-derived may broadcast or hash-build. The exact
    //     check is a spillable merge semi-join on the content hash; the
    //     near-dup check never touches corpus-x-corpus pairs — batch and
    //     corpus shingle splits share ONE h-grained exchange and merge
    //     in place on h, so work is bounded by batch size x bucket
    //     frequency, with d7's stop-shingle cap as the standing skew
    //     lever — the corpus is scanned, never reshuffled against
    //     itself. ---
    "d11_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val isBatch = col("doc_id") % 7 === 3
      val hashes = d.select(col("doc_id"), md5(col("text")).as("ch"), isBatch.as("b"))
      // merge on the content hash: the standing-corpus hash set is
      // corpus-proportional (never broadcast, never hash-built)
      val exact = hashes.filter(col("b"))
        .join(hashes.filter(!col("b")).select(col("ch")).distinct().hint("merge"),
          Seq("ch"), "left_semi")
        .select(col("doc_id"))
      // r18 100x-gate restructure: the old shape BROADCAST the batch
      // shingle set twice ("batch-sized by the incremental contract") —
      // but this batch is a fixed FRACTION of the corpus (doc_id % 7),
      // so the broadcast grows with the corpus and read 10x over its
      // declared bound at the sf10 audit. New shape: ONE h-grained
      // exchange of the shingle relation; the batch and corpus splits
      // are filters ON that exchange (AQE exchange reuse serves both),
      // and the batch x corpus pair join is an in-place MERGE join —
      // no broadcast, no non-spillable hash build, the old semi
      // prefilter subsumed by the join itself (it existed to kill
      // corpus rows map-side BEFORE a shuffle; both sides now share
      // the one exchange, so it would be a second copy of the same
      // join). A genuinely tiny ingestion batch loses a broadcast
      // opportunity here; that is the price of a plan that cannot OOM
      // when the batch is not tiny.
      val sh = shingles(d)
      val shH = sh.repartition(col("h"))
      val bsh = shH.filter(col("doc_id") % 7 === 3)
      val csh = shH.filter(col("doc_id") % 7 =!= 3)
      val pairs = bsh.select(col("h"), col("doc_id").as("bd"))
        .join(csh.select(col("h"), col("doc_id").as("cd")).hint("merge"), Seq("h"))
        .groupBy(col("bd"), col("cd")).agg(count(lit(1)).as("m"))
      val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      // doc-proportional count attaches: merge for the same reason
      val near = pairs
        .join(cnt.select(col("doc_id").as("bd"), col("n").as("nb"))
          .hint("merge"), Seq("bd"))
        .join(cnt.select(col("doc_id").as("cd"), col("n").as("nc"))
          .hint("merge"), Seq("cd"))
        .filter(col("m") / (col("nb") + col("nc") - col("m")) >= 0.5)
        .select(col("bd").as("doc_id")).distinct()
      d.filter(isBatch).select(col("doc_id"))
        // batch-grained status attaches: merge too — the exact/near id
        // sets scale with the batch, and the batch is a corpus fraction
        .join(exact.withColumn("e", lit(1)).hint("merge"), Seq("doc_id"), "left")
        .join(near.withColumn("nd", lit(1)).hint("merge"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("e") === 1, "exact_dup")
            .when(col("nd") === 1, "near_dup").otherwise("new").as("status"))
        .orderBy(col("doc_id"))
    }),

    // --- survivor selection: d8 labels the clusters, this picks WHO
    //     SURVIVES — the policy step an actual dedup run executes (drop
    //     everything but one doc per cluster). Keep-rule: longest doc,
    //     ties to the lowest doc_id (the common "most content wins"
    //     policy). One window per cluster over cluster-sized groups —
    //     bounded by the largest near-dup cluster, which the d7-style
    //     shingle cap already bounds upstream at scale. ---
    "d12_cluster_keepers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val members = dupClusterLabels(s, dir)
        .join(d.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      members.withColumn("rk", row_number().over(w))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          min(when(col("rk") === 1, col("doc_id"))).as("keeper"),
          sum(when(col("rk") > 1, col("n_chars")).otherwise(0L)).cast("long")
            .as("chars_dropped"))
        .orderBy(col("cluster"))
    })
  )

  private def shingleSqlFrom(src: String) =
    s"""sh AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15))::BIGINT AS h
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM $src) t,
      |       LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i) u)""".stripMargin

  private val shingleSql = shingleSqlFrom("documents")

  private val jaccardTail =
    """cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS m
      |      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d13_boilerplate" ->
      s"""WITH $shingleSql,
         |bp AS (SELECT h FROM (SELECT h, count(*) AS dfreq FROM sh GROUP BY h)
         |       WHERE dfreq >= 3),
         |nsh AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |nbp AS (SELECT sh.doc_id, count(*) AS n_bp
         |        FROM sh JOIN bp ON sh.h = bp.h GROUP BY sh.doc_id),
         |per AS (
         |  SELECT nsh.doc_id,
         |    CASE WHEN 2 * COALESCE(nbp.n_bp, 0) >= nsh.n_sh THEN 1 ELSE 0 END AS flag
         |  FROM nsh LEFT JOIN nbp ON nsh.doc_id = nbp.doc_id)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(COALESCE(per.flag, 0)) AS BIGINT) AS n_flagged,
         |  CAST(sum(CASE WHEN COALESCE(per.flag, 0) = 1 THEN d.n_chars ELSE 0 END)
         |       AS BIGINT) AS chars_flagged
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // identical cumulative flags: length band, integer cross-multiplied
    // alpha ratio, d13's boilerplate test, d1's first-per-hash keeper
    "d15_curation_funnel" ->
      s"""WITH $shingleSql,
         |bp AS (SELECT h FROM (SELECT h, count(*) AS dfreq FROM sh GROUP BY h)
         |       WHERE dfreq >= 3),
         |nsh AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |nbp AS (SELECT sh.doc_id, count(*) AS n_bp
         |        FROM sh JOIN bp ON sh.h = bp.h GROUP BY sh.doc_id),
         |base AS (
         |  SELECT d.source, d.n_chars,
         |    (d.n_chars BETWEEN 100 AND 20000) AS f1,
         |    (10 * len(regexp_replace(lower(d.text), '[^a-z]', '', 'g'))
         |       >= 6 * d.n_chars) AS f2,
         |    (2 * COALESCE(nbp.n_bp, 0) < COALESCE(nsh.n_sh, 1)) AS f3,
         |    (row_number() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) = 1) AS f4
         |  FROM documents d
         |  LEFT JOIN nsh ON d.doc_id = nsh.doc_id
         |  LEFT JOIN nbp ON d.doc_id = nbp.doc_id),
         |st AS (
         |  SELECT source, n_chars, f1,
         |    (f1 AND f2) AS c2, (f1 AND f2 AND f3) AS c3,
         |    (f1 AND f2 AND f3 AND f4) AS c4
         |  FROM base)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
         |  CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |  CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN c4 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
         |FROM st GROUP BY source ORDER BY source""".stripMargin,

    // the same window relation with positions; survivor = min packed
    // (doc_id, pos) key per hash (pos < 2^32 by construction, so the
    // packed BIGINT order IS the struct's lexicographic order)
    "d21_exact_substr" ->
      """WITH w AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    ('0x' || substr(md5(substr(text, i, 40)), 1, 15))::BIGINT AS h
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text) - 39)) AS i) u
        |  WHERE len(text) >= 40),
        |f AS (
        |  SELECT h, count(*) AS occ,
        |    min(doc_id * 4294967296 + pos) AS firstk
        |  FROM w GROUP BY h),
        |removed AS (
        |  SELECT w.doc_id, w.pos
        |  FROM w JOIN f USING (h)
        |  WHERE f.occ >= 2 AND w.doc_id * 4294967296 + w.pos <> f.firstk),
        |cov AS (
        |  SELECT doc_id, pos,
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM removed),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 40
        |                  ELSE least(40, pos - prev) END) AS BIGINT) AS removed_chars,
        |    md5(string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos)) AS spans_md5
        |  FROM cov GROUP BY doc_id),
        |per AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id)
        |SELECT per.doc_id, per.n_windows,
        |  CAST(COALESCE(agg.n_removed, 0) AS BIGINT) AS n_removed,
        |  CAST(COALESCE(agg.removed_chars, 0) AS BIGINT) AS removed_chars,
        |  COALESCE(agg.spans_md5, 'none') AS spans_md5
        |FROM per LEFT JOIN agg USING (doc_id)
        |ORDER BY per.doc_id""".stripMargin,

    "d14_substring_windows" ->
      """WITH w AS (
        |  SELECT doc_id, ('0x' || substr(md5(substr(text, i, 40)), 1, 15))::BIGINT AS h
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text) - 39)) AS i) u
        |  WHERE len(text) >= 40),
        |dw AS (SELECT DISTINCT doc_id, h FROM w),
        |dup AS (SELECT h FROM (SELECT h, count(*) AS df FROM dw GROUP BY h) t WHERE df >= 2),
        |per AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id),
        |hit AS (SELECT w.doc_id, count(*) AS n_dup FROM w JOIN dup USING (h) GROUP BY w.doc_id)
        |SELECT per.doc_id, per.n_windows,
        |       CAST(COALESCE(hit.n_dup, 0) AS BIGINT) AS n_dup,
        |       round(COALESCE(hit.n_dup, 0) * 1.0 / per.n_windows, 6) AS dup_frac
        |FROM per LEFT JOIN hit USING (doc_id)
        |ORDER BY per.doc_id""".stripMargin,

    "d1_dedup_exact" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_unique,
        |  count(*) - count(DISTINCT md5(text)) AS n_removed
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "d2_ngram_jaccard" ->
      s"""WITH $shingleSql,
         |$jaccardTail
         |SELECT d1, d2, round(m * 1.0 / (c1.n + c2.n - m), 6) AS jaccard
         |FROM m JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
         |WHERE m * 1.0 / (c1.n + c2.n - m) >= 0.5
         |ORDER BY d1, d2""".stripMargin,

    // same oracle as d2 on purpose: d19 computes the identical exact
    // pair set by prefix filtering — the gate proves the substitution
    "d19_prefix_join" ->
      s"""WITH $shingleSql,
         |$jaccardTail
         |SELECT d1, d2, round(m * 1.0 / (c1.n + c2.n - m), 6) AS jaccard
         |FROM m JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
         |WHERE m * 1.0 / (c1.n + c2.n - m) >= 0.5
         |ORDER BY d1, d2""".stripMargin,

    // d2's exact-Jaccard oracle over the deterministically skewed
    // corpus (even doc_ids + the shared footer) — proves d19's
    // algorithm stays exact in the hot-shingle regime it is built for
    "d20_prefix_join_skew" ->
      s"""WITH sk AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN text || '$boilerplateFooter'
         |         ELSE text END AS text
         |  FROM documents),
         |${shingleSqlFrom("sk")},
         |$jaccardTail
         |SELECT d1, d2, round(m * 1.0 / (c1.n + c2.n - m), 6) AS jaccard
         |FROM m JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
         |WHERE m * 1.0 / (c1.n + c2.n - m) >= 0.5
         |ORDER BY d1, d2""".stripMargin,

    "d7_jaccard_capped" ->
      s"""WITH $shingleSql,
         |freq AS (SELECT h, count(*) AS df FROM sh GROUP BY h),
         |cold AS (SELECT sh.doc_id, sh.h FROM sh JOIN freq USING (h) WHERE df <= 5),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS m
         |      FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT d1, d2, round(m * 1.0 / (c1.n + c2.n - m), 6) AS jaccard_capped
         |FROM m JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
         |WHERE m * 1.0 / (c1.n + c2.n - m) >= 0.5
         |ORDER BY d1, d2""".stripMargin,

    "d3_minhash_sig" ->
      s"""WITH $shingleSql,
         |f AS (SELECT doc_id, h // 268435456 AS f
         |      FROM sh WHERE doc_id < 50),
         |mh AS (SELECT doc_id, i, min(((2*i+1) * f + 7919*i) % 2147483647) AS mh
         |       FROM f, LATERAL (SELECT unnest(generate_series(0, 7)) AS i) u
         |       GROUP BY doc_id, i)
         |SELECT doc_id,
         |  CAST(min(CASE WHEN i=0 THEN mh END) AS BIGINT) AS mh0,
         |  CAST(min(CASE WHEN i=1 THEN mh END) AS BIGINT) AS mh1,
         |  CAST(min(CASE WHEN i=2 THEN mh END) AS BIGINT) AS mh2,
         |  CAST(min(CASE WHEN i=3 THEN mh END) AS BIGINT) AS mh3,
         |  CAST(min(CASE WHEN i=4 THEN mh END) AS BIGINT) AS mh4,
         |  CAST(min(CASE WHEN i=5 THEN mh END) AS BIGINT) AS mh5,
         |  CAST(min(CASE WHEN i=6 THEN mh END) AS BIGINT) AS mh6,
         |  CAST(min(CASE WHEN i=7 THEN mh END) AS BIGINT) AS mh7
         |FROM mh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d4_lsh_pairs" ->
      s"""WITH $shingleSql,
         |f AS (SELECT doc_id, h // 268435456 AS f FROM sh),
         |mh AS (SELECT doc_id, i, min(((2*i+1) * f + 7919*i) % 2147483647) AS mh
         |       FROM f, LATERAL (SELECT unnest(generate_series(0, 7)) AS i) u
         |       GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // 2 AS band,
         |                 string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bucket
         |          FROM mh GROUP BY doc_id, i // 2),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |m AS (SELECT d1, d2, count(*) AS m
         |      FROM cand JOIN sh s1 ON d1 = s1.doc_id
         |                JOIN sh s2 ON d2 = s2.doc_id AND s1.h = s2.h
         |      GROUP BY 1, 2)
         |SELECT d1, d2, round(m * 1.0 / (c1.n + c2.n - m), 6) AS jaccard
         |FROM m JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
         |WHERE m * 1.0 / (c1.n + c2.n - m) >= 0.5
         |ORDER BY d1, d2""".stripMargin,

    // same shingle/minhash/band formulas as d2 + d4; the eval combines
    // their outputs into one row of counts + ratios
    "d16_lsh_eval" ->
      s"""WITH $shingleSql,
         |$jaccardTail,
         |truth AS (
         |  SELECT d1, d2 FROM m
         |  JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
         |  WHERE m * 1.0 / (c1.n + c2.n - m) >= 0.5),
         |f AS (SELECT doc_id, h // 268435456 AS f FROM sh),
         |mhv AS (SELECT doc_id, i, min(((2*i+1) * f + 7919*i) % 2147483647) AS mh
         |        FROM f, LATERAL (SELECT unnest(generate_series(0, 7)) AS i) u
         |        GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // 2 AS band,
         |                 string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bucket
         |          FROM mhv GROUP BY doc_id, i // 2),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |hit AS (SELECT c.d1, c.d2 FROM cand c
         |        JOIN truth t ON c.d1 = t.d1 AND c.d2 = t.d2)
         |SELECT nt AS n_truth, nc AS n_cand, nh AS n_hit,
         |  round(nh * 1.0 / nc, 6) AS prec, round(nh * 1.0 / nt, 6) AS recall
         |FROM (SELECT (SELECT count(*) FROM truth) AS nt,
         |             (SELECT count(*) FROM cand) AS nc,
         |             (SELECT count(*) FROM hit) AS nh)""".stripMargin,

    "d6_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE doc_id < 200),
        |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
        |bits AS (SELECT doc_id, j, sum((h >> j) % 2 * 2 - 1) AS sw
        |         FROM h, LATERAL (SELECT unnest(generate_series(0, 59)) AS j) u
        |         GROUP BY doc_id, j),
        |sh AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN sw > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |       FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
        |ORDER BY d1, d2""".stripMargin,

    // all-pairs-within-12 is exactly the banded candidate set (pigeonhole,
    // see simhashCandidates); levenshtein is unit-cost in both engines
    "d17_edit_verify" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE doc_id < 200),
        |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
        |bits AS (SELECT doc_id, j, sum((h >> j) % 2 * 2 - 1) AS sw
        |         FROM h, LATERAL (SELECT unnest(generate_series(0, 59)) AS j) u
        |         GROUP BY doc_id, j),
        |sh AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN sw > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |       FROM bits GROUP BY doc_id),
        |pre AS (SELECT doc_id, substr(text, 1, 80) AS p FROM documents WHERE doc_id < 200),
        |pair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS lev,
        |    CAST(greatest(length(pa.p), length(pb.p)) AS BIGINT) AS maxlen
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |    AND bit_count(xor(a.simhash, b.simhash)) <= 12
        |  JOIN pre pa ON pa.doc_id = a.doc_id
        |  JOIN pre pb ON pb.doc_id = b.doc_id)
        |SELECT d1, d2, lev, (maxlen - lev) * 1000 // maxlen AS sim_permille
        |FROM pair ORDER BY d1, d2""".stripMargin,

    "d18_xmodal_verify" ->
      s"""WITH $shingleSql,
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2,
         |    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
         |      (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
         |       sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cos_raw
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
         |cand AS (SELECT id1, id2, round(cos_raw, 6) AS cos FROM pairs
         |         WHERE round(cos_raw, 6) >= 0.45),
         |mm AS (SELECT c.id1, c.id2, count(*) AS m FROM cand c
         |       JOIN sh a ON a.doc_id = c.id1
         |       JOIN sh b ON b.doc_id = c.id2 AND b.h = a.h
         |       GROUP BY 1, 2),
         |j AS (
         |  SELECT c.id1, c.id2, c.cos,
         |    coalesce(m, 0) AS m, coalesce(c1.n, 0) AS n1, coalesce(c2.n, 0) AS n2
         |  FROM cand c LEFT JOIN mm ON c.id1 = mm.id1 AND c.id2 = mm.id2
         |  LEFT JOIN cnt c1 ON c.id1 = c1.doc_id
         |  LEFT JOIN cnt c2 ON c.id2 = c2.doc_id)
         |SELECT id1, id2, cos,
         |  CASE WHEN n1 + n2 - m = 0 THEN 0.0
         |       ELSE round(m * 1.0 / (n1 + n2 - m), 6) END AS jaccard,
         |  CAST(CASE WHEN (CASE WHEN n1 + n2 - m = 0 THEN 0.0
         |                  ELSE round(m * 1.0 / (n1 + n2 - m), 6) END) >= 0.5
         |       THEN 1 ELSE 0 END AS BIGINT) AS lexical_dup
         |FROM j ORDER BY id1, id2""".stripMargin,

    "d9_contamination" ->
      s"""WITH $shingleSql,
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id < 20),
         |corpus AS (SELECT doc_id, h FROM sh WHERE doc_id >= 20),
         |total AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
         |hit AS (SELECT doc_id, count(*) AS n_hit
         |        FROM corpus WHERE h IN (SELECT h FROM bench) GROUP BY doc_id)
         |SELECT t.doc_id, t.n_shingles, h.n_hit,
         |  round(h.n_hit * 1.0 / t.n_shingles, 6) AS contamination
         |FROM total t JOIN hit h USING (doc_id)
         |WHERE h.n_hit * 1.0 / t.n_shingles >= 0.15
         |ORDER BY t.doc_id""".stripMargin,

    // exact semantics only — the bloom is a prefilter with no false
    // negatives followed by an exact confirm, so the oracle skips it
    "d10_bloom_decontam" ->
      s"""WITH $shingleSql,
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id < 20),
         |bad AS (SELECT DISTINCT doc_id FROM sh
         |        WHERE doc_id >= 20 AND h IN (SELECT h FROM bench)),
         |d AS (SELECT doc_id, source FROM documents WHERE doc_id >= 20)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN bad.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  CAST(sum(CASE WHEN bad.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM d LEFT JOIN bad ON d.doc_id = bad.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "d11_incremental" ->
      s"""WITH $shingleSql,
         |b AS (SELECT doc_id, md5(text) AS ch FROM documents WHERE doc_id % 7 = 3),
         |c AS (SELECT doc_id, md5(text) AS ch FROM documents WHERE doc_id % 7 != 3),
         |ex AS (SELECT DISTINCT b.doc_id FROM b WHERE b.ch IN (SELECT ch FROM c)),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS bd, d.doc_id AS cd, count(*) AS m
         |       FROM sh a JOIN sh d ON a.h = d.h
         |       WHERE a.doc_id % 7 = 3 AND d.doc_id % 7 != 3
         |       GROUP BY 1, 2),
         |nr AS (SELECT DISTINCT pr.bd AS doc_id
         |       FROM pr JOIN cnt c1 ON pr.bd = c1.doc_id JOIN cnt c2 ON pr.cd = c2.doc_id
         |       WHERE m * 1.0 / (c1.n + c2.n - m) >= 0.5)
         |SELECT b.doc_id,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup' ELSE 'new' END AS status
         |FROM b LEFT JOIN ex ON b.doc_id = ex.doc_id LEFT JOIN nr ON b.doc_id = nr.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    "d8_dup_clusters" ->
      s"""WITH RECURSIVE $shingleSql,
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS m
         |      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |edges AS (
         |  SELECT d1, d2 FROM m
         |  JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
         |  WHERE m * 1.0 / (c1.n + c2.n - m) >= 0.5),
         |bi AS (SELECT d1 AS a, d2 AS b FROM edges
         |       UNION ALL SELECT d2, d1 FROM edges),
         |reach(a, b) AS (
         |  SELECT a, b FROM bi
         |  UNION
         |  SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    "d12_cluster_keepers" ->
      s"""WITH RECURSIVE $shingleSql,
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS m
         |      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |edges AS (
         |  SELECT d1, d2 FROM m
         |  JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
         |  WHERE m * 1.0 / (c1.n + c2.n - m) >= 0.5),
         |bi AS (SELECT d1 AS a, d2 AS b FROM edges
         |       UNION ALL SELECT d2, d1 FROM edges),
         |reach(a, b) AS (
         |  SELECT a, b FROM bi
         |  UNION
         |  SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a),
         |lbl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
         |        FROM reach GROUP BY a),
         |mem AS (SELECT lbl.doc_id, lbl.cluster, d.n_chars,
         |          row_number() OVER (PARTITION BY cluster
         |            ORDER BY d.n_chars DESC, lbl.doc_id) AS rk
         |        FROM lbl JOIN documents d ON lbl.doc_id = d.doc_id)
         |SELECT cluster, count(*) AS n_members,
         |  min(CASE WHEN rk = 1 THEN doc_id END) AS keeper,
         |  CAST(sum(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped
         |FROM mem GROUP BY cluster ORDER BY cluster""".stripMargin,

    "d5_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE doc_id < 100),
        |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
        |bits AS (SELECT doc_id, j, sum((h >> j) % 2 * 2 - 1) AS sw
        |         FROM h, LATERAL (SELECT unnest(generate_series(0, 59)) AS j) u
        |         GROUP BY doc_id, j)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN sw > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
