package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression net: the properties that make these queries scale
  * (pushdown, pruning, broadcast choice, shuffle count) asserted on the
  * physical plans, so a future refactor that silently loses them fails CI.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution.executedPlan.toString

  private def countOccurrences(s: String, needle: String): Int =
    needle.r.findAllIn(s).length

  test("flagship entry runs and returns rows (driver smoke contract)") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 5) // one per region
    assert(rows.map(_.getAs[Long]("n_customers")).sum == 150)
  }

  test("filters and projections reach the parquet scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: [") && p.contains("EqualTo(l_returnflag,R)"),
      s"filter not pushed:\n$p")
    // column pruning: only the 4 referenced columns are read
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && !read.contains("l_extendedprice"),
      s"no pruning: $read")
  }

  test("point lookup pushes the key predicate") {
    val p = plan("q_point_lookup")
    assert(p.contains("EqualTo(o_orderkey,1024)"), s"no pushdown:\n$p")
  }

  test("dimension joins broadcast, fact side does not") {
    val p = plan("q_join3")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    val p4 = plan("q_join4")
    // nation broadcast; lineitem⋈orders stays a shuffle join under AQE
    assert(p4.contains("BroadcastHashJoin"))
  }

  test("sessionization is a single shuffle per window key") {
    val p = plan("q_sessionize")
    // one hash-partitioning exchange on user_id feeds both window passes
    // and the final aggregation (sort-based reuse); orderBy adds a range
    // exchange at the end
    val hashExchanges = countOccurrences(p, "hashpartitioning\\(user_id")
    assert(hashExchanges <= 2, s"$hashExchanges user_id exchanges:\n$p")
  }

  test("semi and anti joins plan as such") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("whole-stage codegen covers the scan→filter→project pipeline") {
    val p = plan("q_scalar_math")
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact plan
    assert(p.contains("*(1) Project"), s"no codegen:\n$p")
  }

  test("gram document frequency plans as combiner aggregate + semi-join, not a window") {
    // the round-2 skew fix: count().over(partitionBy(g)) has no map-side
    // combine (hot-gram straggler at 100 TB); df must stay a groupBy
    // (partial_count visible) feeding a LeftSemi join-back
    for (q <- Seq("q_dedup_ngram_jaccard", "q_minhash_vs_exact")) {
      val p = plan(q)
      assert(!p.contains("windowspecdefinition(g"),
        s"$q regressed to a window over g:\n${p.take(2000)}")
      assert(p.contains("LeftSemi"), s"$q lost the rare-gram semi-join")
      assert(p.contains("partial_count") || p.contains("partial count"),
        s"$q df aggregate lost map-side combine")
    }
  }

  test("robust-stats medians come from a value histogram, not a raw-row sort") {
    // the round-5 weak spot: row_number over partitionBy(event_type)
    // serialized every row of a type onto one reducer; the positional pick
    // must now run over the groupBy(event_type, x) histogram — no
    // row_number anywhere, and the histogram aggregate keeps its map-side
    // combine (partial_count)
    val p = plan("q_robust_stats")
    assert(!p.contains("row_number"), s"raw-row positional sort crept back:\n${p.take(2000)}")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"histogram aggregate lost map-side combine:\n${p.take(2000)}")
  }

  test("embedding dots stay whole-array (no element explosion in the pair stage)") {
    // the round-3 rewrite: candidate pairs carry raw arrays through the
    // join and one codegen'd qdot computes each dot — a regression back to
    // posexplode + join-on-i + re-aggregation would re-shuffle 64× the data
    for (q <- Seq("q_ann_bruteforce", "q_crossmodal_dedup", "q_ann_native_dot")) {
      val p = plan(q)
      assert(p.contains("qdot"), s"$q lost the native dot expression:\n${p.take(1500)}")
      assert(!p.contains("posexplode"), s"$q regressed to element explosion")
    }
    // the LSH bucket stage legitimately keeps element rows (hyperplane
    // projection is per-dimension); only the verify stage must not
    val pDedup = plan("q_dedup_embedding")
    assert(pDedup.contains("qdot"), "q_dedup_embedding verify stage lost qdot")
  }

  test("edit-distance DP runs over distinct strings, zero-pairs skip it") {
    // the 32×-rehearsal hotspot: levenshtein per DOC pair pinned one task
    // for 15+ min on clone-heavy data (33.2M doc pairs vs 25.5k distinct
    // string pairs). The DP must sit above a join of two DISTINCT string
    // sets (aggregates), and the identical-prefix branch must emit its 0
    // without any levenshtein call
    val p = plan("q_edit_distance")
    // one DP stage only — it surfaces twice (Filter + Project recompute the
    // same expression); the doc-pair regression would show levenshtein fed
    // directly by the raw np⋈np join with no Union/zero branch
    assert(countOccurrences(p, "levenshtein") <= 2,
      s"levenshtein beyond the single distinct-pair stage:\n${p.take(2000)}")
    assert(p.contains("Union") && p.contains("0 AS edit_dist"),
      s"identical-prefix zero branch missing:\n${p.take(2000)}")
    // both join inputs of the DP stage deduplicate first → the plan keeps
    // (at least) the two HashAggregate pairs of the strs.distinct() sides
    assert(countOccurrences(p, "HashAggregate") >= 4,
      s"distinct-string collapse lost its aggregates:\n${p.take(2000)}")
  }

  test("heavy-hitters window runs over pre-aggregated rows only") {
    val p = plan("q_frequent_ngrams")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"df aggregate lost map-side combine:\n${p.take(1500)}")
    assert(!p.contains("windowspecdefinition(g"),
      "rank window must partition by lang over aggregated rows, never by gram")
  }

  test("gram_hash5 equals the ascii/substring composite and stays codegen'd") {
    import graft.functions.GramHash
    import spark.implicits._
    val P = 2147483647L
    val cases = Seq("abcde", "hello", "ab", "", "héllo", "日本語のテキ", "a\u0000b\tc",
      "ZZZZZ", "     ") ++ (0 until 200).map(i => s"gram${(i * 7919) % 97}x")
    val df = cases.toDF("g")
    val composite = (ascii(substring(col("g"), 1, 1)) * lit(294499921L) +
      ascii(substring(col("g"), 2, 1)) * lit(2248091L) +
      ascii(substring(col("g"), 3, 1)) * lit(17161L) +
      ascii(substring(col("g"), 4, 1)) * lit(131L) +
      ascii(substring(col("g"), 5, 1))) % lit(P)
    val rows = df.select(col("g"), GramHash.gramHash5(col("g")).as("native"),
        composite.cast("long").as("composite"))
      .as[(String, Long, Long)].collect()
    rows.foreach { case (g, n, c) => assert(n == c, s"mismatch for '$g'") }

    // the expression must sit inside a WholeStageCodegen span, not fall
    // back (a local relation would constant-fold — use a parquet scan;
    // a RAW read, not Tables.documents: the r15 spread repartition adds
    // an exchange, AQE then wraps the plan and hides the codegen stars
    // from the pre-execution string — this pins the EXPRESSION)
    val p = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
      .select(GramHash.gramHash5(substring(col("text"), 1, 5)).as("h"))
      .filter(col("h") >= 0).queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), s"gram_hash5 broke codegen:\n$p")
  }

  test("bloom pre-join probes the sketch BEFORE the exact join") {
    val p = plan("q_bloom_semi_join")
    assert(p.contains("might_contain"), s"bloom probe missing:\n${p.take(1500)}")
    // the probe must be a plain Filter on the fact scan side, upstream of
    // the join — i.e. it appears deeper in the plan than the join node
    val probeIdx = p.indexOf("might_contain")
    val joinIdx = math.max(p.indexOf("HashJoin"), p.indexOf("SortMergeJoin"))
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      "might_contain must sit below the join in the plan tree")
  }

  test("decontamination also rides the bloom prefilter") {
    assert(plan("q_decontaminate").contains("might_contain"))
  }

  test("kmeans assignment is a broadcast NLJ over whole arrays") {
    val p = plan("q_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid pairing must broadcast, not shuffle:\n${p.take(1500)}")
    // posexplode belongs ONLY to the centroid-recompute stage; the final
    // plan holds one live recompute (earlier rounds are checkpoint-cut).
    // An exploded assign path would add a posexplode per distance stage.
    assert(countOccurrences(p, "posexplode") <= 2,
      "assignment must pair whole arrays, not exploded elements")
  }

  test("tfidf rank window runs over aggregated (doc, term) rows, keyed by doc") {
    val p = plan("q_tfidf_top_terms")
    assert(p.contains("partial_count") || p.contains("partial count"),
      "tf/df aggregates lost map-side combine")
    assert(p.contains("windowspecdefinition(doc_id"),
      "rank window must partition by doc_id")
  }

  test("count-min build is map-side combined (mergeable-sketch shape)") {
    val p = plan("q_countmin_heavy")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"sketch build lost the combiner:\n${p.take(1500)}")
  }

  test("hll registers aggregate BEFORE joining the bucket spine") {
    // the raw-row side must reduce to ≤ groups·64 register rows via a
    // partial max before any join — a join-then-aggregate shape would
    // shuffle every input row (the regression the round-4 review caught)
    for (q <- Seq("q_hll_distinct", "q_hll_by_group")) {
      val p = plan(q)
      assert(p.contains("partial_max") || p.contains("partial max"),
        s"$q lost the register combiner:\n${p.take(1500)}")
      val aggIdx = math.max(p.indexOf("partial_max"), p.indexOf("partial max"))
      val joinIdx = p.indexOf("Join")
      assert(joinIdx >= 0 && aggIdx > joinIdx,
        s"$q: register aggregation must sit below the spine join in the plan tree")
    }
  }

  test("skyline semi-joins back through a broadcast, never a dominance scan") {
    val p = plan("q_skyline")
    assert(p.contains("LeftSemi"), s"no semi join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"skyline sizes not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise dominance scan leaked into the plan:\n$p")
  }

  test("triangle census joins stay equi-hash — no cartesian anywhere") {
    val p = plan("q_triangle_count")
    assert(!p.contains("CartesianProduct"), s"cartesian in triangle plan:\n$p")
    // wedge closure is an equi-join on (u, w)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no hash join:\n$p")
  }

  test("incremental merge keeps map-side partial aggregation on both branches") {
    val p = plan("q_incremental_agg")
    assert(countOccurrences(p, "partial_count|partial count") >= 1 ||
      p.contains("partial_"), s"no partial aggregation:\n${p.take(1500)}")
  }

  test("gap fill and cumshare windows partition by their series key") {
    // neither query may fall into a global (unpartitioned) window
    for (q <- Seq("q_gapfill_interpolate", "q_cumshare_cut")) {
      val p = plan(q)
      val windows = p.linesIterator.filter(_.contains("Window")).mkString("\n")
      assert(!windows.contains("windowspecdefinition(,"),
        s"$q has an unpartitioned window:\n$windows")
    }
  }

  test("merge upsert plans as one keyed full-outer join, no cartesian") {
    val p = plan("q_merge_upsert")
    assert(p.contains("FullOuter"), s"merge lost the full-outer shape:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-keyed join in merge plan:\n$p")
  }

  test("sparse cosine scores pairs through rare-term postings, never all-pairs") {
    val p = plan("q_sparse_cosine_topk")
    // the only nested-loop joins allowed are copies of the 1-row df-cap
    // broadcast (a plain Cross with a single-row build side), one per
    // re-evaluation of the vec subtree; a DATA-pair nested loop — the
    // all-pairs leak this test exists to catch — would carry a join
    // condition and plan as an Inner/LeftOuter BNLJ instead
    assert(!p.contains("CartesianProduct"), s"cartesian in cosine plan:\n$p")
    val bnlj = countOccurrences(p, "BroadcastNestedLoopJoin")
    val capCross = countOccurrences(p, "BroadcastNestedLoopJoin BuildRight, Cross")
    assert(bnlj == capCross,
      s"non-cap nested-loop join leaked into the cosine plan:\n$p")
    // the df-capped vector table feeds an equi-join on the term column
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi join on terms:\n$p")
    // dot products aggregate with map-side combine
    assert(p.contains("partial_sum"), s"dot aggregation lost map-side combine:\n$p")
  }

  test("bitmap distinct builds mergeable partials, not a distinct expansion") {
    val p = plan("q_bitmap_distinct")
    assert(p.contains("bitmap_construct_agg"), s"no bitmap aggregate:\n$p")
    // stage-1 bitmaps aggregate with a map-side partial pass
    assert(p.contains("partial_bitmap_construct_agg") || p.contains("partial_"),
      s"bitmap build lost partial aggregation:\n$p")
    // no expand-based distinct: the whole point is the mergeable form
    assert(!p.contains("Expand"), s"fell back to expand distinct:\n$p")
  }

  test("winsorize quantiles come from the histogram, not a raw-row sort") {
    val p = plan("q_winsorize")
    // same invariant as q_robust_stats: positional pick over the
    // aggregated value histogram — no row_number over raw rows, and the
    // histogram aggregate keeps its map-side combine
    assert(!p.contains("row_number"), s"raw-row rank sneaked in:\n$p")
    assert(p.contains("partial_count"), s"histogram lost map-side combine:\n$p")
  }

  test("PMI marginals join by word; only the 1-row totals nest-loop") {
    val p = plan("q_pmi_bigrams")
    assert(!p.contains("CartesianProduct"), s"cartesian in PMI plan:\n$p")
    // the two unigram-marginal joins are equi joins on the word key
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi join on marginals:\n$p")
    // every nested-loop is the broadcast of a 1-row global total
    val bnlj = countOccurrences(p, "BroadcastNestedLoopJoin")
    assert(countOccurrences(p, "BroadcastNestedLoopJoin BuildRight") == bnlj,
      s"non-broadcast nested loop leaked:\n$p")
    // bigram and unigram histograms keep map-side combine
    assert(p.contains("partial_count"), s"counts lost map-side combine:\n$p")
  }

  test("vocabulary coverage takes top-k without a global window and broadcasts it") {
    val p = plan("q_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), s"vocab top-k not a distributed heap:\n$p")
    assert(!p.contains("row_number"), s"global rank window sneaked in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"fixed-size vocab not broadcast:\n$p")
  }

  test("bipartite projection self-joins on the user key, never cross") {
    val p = plan("q_bipartite_cooccur")
    assert(!p.contains("CartesianProduct"),
      s"projection exploded into a cross join:\n$p")
    // nested-loop joins are allowed ONLY for the 1-row vocabulary
    // broadcast the capItemsPerKey degree cap joins in (it re-inlines
    // once per reuse of the capped set); the pair self-join itself must
    // stay a keyed hash join
    assert(p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("greatest(64")),
      s"projection gained a non-scalar nested-loop join:\n$p")
    assert(p.contains("partial_count"), s"pair cells lost map-side combine:\n$p")
  }

  test("power-law graph variants keep combiner aggregates, no per-vertex window") {
    // the hot vertex receives ~half of all edges; survival depends on the
    // per-round reductions being map-side-combined aggregates (PageRank's
    // dst sum, label-prop's (v,lbl) count and max-struct winner) rather
    // than a window partitioned by vertex, which would serialize the hub
    // into one task
    for (q <- Seq("q_pagerank_skew", "q_label_prop_skew")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q lost map-side partial aggregation:\n$p")
      assert(!p.contains("windowspecdefinition"),
        s"$q gained a per-vertex window (hub straggler at scale):\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), s"cartesian in $q:\n$p")
    }
  }

  test("zone-map planner and z-order tiles are single combiner-backed aggregations") {
    for (q <- Seq("q_zonemap_prune", "q_zorder_tiles")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q lost map-side partial aggregation:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in $q:\n$p")
    }
  }

  test("feature windows partition by user — no global window in the hot path") {
    for (q <- Seq("q_lag_features", "q_attribution")) {
      val p = plan(q)
      assert(p.contains("PARTITION BY") || p.contains("hashpartitioning(user_id"),
        s"$q window lost its user partitioning:\n$p")
    }
  }

  test("gini and bigram-LM collapse to distinct texts before exploding") {
    for (q <- Seq("q_token_gini", "q_bigram_lm")) {
      val p = plan(q)
      // the rep-collapse groupBy(text) must run BELOW the token explode:
      // a plan that explodes raw docs first re-pays the tokenizer per clone
      assert(p.contains("partial_min(doc_id"),
        s"$q lost the distinct-text collapse:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in $q:\n$p")
    }
    // the LM model joins are keyed (bigram/word), never nested-loop
    val p = plan("q_bigram_lm")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"model join not an equi join:\n$p")
  }

  test("HITS half-rounds are equi joins; only 1-row maxes nest-loop") {
    val p = plan("q_hits")
    assert(!p.contains("CartesianProduct"), s"cartesian in HITS plan:\n$p")
    val bnlj = countOccurrences(p, "BroadcastNestedLoopJoin")
    assert(countOccurrences(p, "BroadcastNestedLoopJoin BuildRight") == bnlj,
      s"non-broadcast nested loop leaked:\n$p")
    // score sums keep map-side combine round over round
    assert(p.contains("partial_sum"), s"half-round sums lost combine:\n$p")
    // top-20 is a distributed heap, not a global sort
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
  }

  test("association rules self-join baskets on the session key, never cross") {
    val p = plan("q_assoc_rules")
    assert(!p.contains("CartesianProduct"), s"cartesian in assoc plan:\n$p")
    val bnlj = countOccurrences(p, "BroadcastNestedLoopJoin")
    assert(countOccurrences(p, "BroadcastNestedLoopJoin BuildRight") == bnlj,
      s"non-broadcast nested loop leaked:\n$p")
    // item marginals are broadcast (vocabulary-sized by construction)
    assert(p.contains("BroadcastHashJoin"), s"item marginals not broadcast:\n$p")
    // sessionization window stays partitioned by user
    assert(p.contains("hashpartitioning(user_id") || p.contains("PARTITION BY"),
      s"session window lost user partitioning:\n$p")
  }

  test("eventually-follows joins span aggregates, not raw event rows") {
    val p = plan("q_eventually_follows")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // BOTH self-join inputs are the (user, type) min/max reduction —
    // a raw-row join would fan out by event count, not type degree
    assert(p.contains("partial_min"),
      s"span reduction lost map-side combine:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"pair join not an equi join:\n$p")
  }

  test("decay sum and target encode stay combiner-backed; globals broadcast") {
    for (q <- Seq("q_decay_sum", "q_target_encode")) {
      val p = plan(q)
      assert(p.contains("partial_sum"), s"$q lost map-side combine:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in $q:\n$p")
      // the 1-row anchor/global joins as a broadcast NLJ, nothing else
      val bnlj = countOccurrences(p, "BroadcastNestedLoopJoin")
      assert(countOccurrences(p, "BroadcastNestedLoopJoin BuildRight") == bnlj,
        s"non-broadcast nested loop leaked in $q:\n$p")
    }
  }

  test("quantile normalize maps ranks through an equi-joined spine") {
    val p = plan("q_quantile_normalize")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the rank→value lookup is an EQUI join on idx — an inequality
    // nest-loop against the cumulative histogram would be O(n·|hist|)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"spine join not an equi join:\n$p")
    // per-source rank window keeps its source partitioning
    assert(p.contains("hashpartitioning(source"), s"rank window lost partitioning:\n$p")
    // histogram build keeps map-side combine
    assert(p.contains("partial_count"), s"histogram lost combine:\n$p")
  }

  test("label propagation rounds are keyed joins + v-partitioned windows") {
    val p = plan("q_label_propagation")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the mode pick runs per node, never a global window
    assert(p.contains("hashpartitioning(v"), s"row_number lost v partitioning:\n$p")
    // neighbor-label counts keep map-side combine
    assert(p.contains("partial_count"), s"label counts lost combine:\n$p")
  }

  test("shortest-path rounds are equi joins with partial-min merges") {
    val p = plan("q_shortest_path")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // each relaxation joins the distance vector on src — an equi join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"relaxation not an equi join:\n$p")
    // min-merge keeps map-side partial aggregation
    assert(p.contains("partial_min"), s"min merge lost combine:\n$p")
  }

  test("mode per group ranks over the aggregate, never raw rows") {
    val p = plan("q_mode_per_group")
    // the window input is the (user, type) COUNT aggregate: the plan must
    // partial-count before any window runs
    assert(p.contains("partial_count"), s"count lost combine:\n$p")
    assert(p.contains("hashpartitioning(user_id"), s"window lost user partitioning:\n$p")
    assert(!p.contains("SinglePartition"), s"global window crept in:\n$p")
  }

  test("bm25 search broadcasts df/length stats into a postings-sized scan") {
    val p = plan("q_bm25_search")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // df / corpus aggregates ride broadcast; scoring joins stay equi
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"stats not broadcast:\n$p")
    // tf build keeps map-side combine
    assert(p.contains("partial_count"), s"tf lost combine:\n$p")
  }

  test("user streaks window the distinct day grid with user partitioning") {
    val p = plan("q_user_streaks")
    assert(p.contains("hashpartitioning(user_id"), s"window lost user partitioning:\n$p")
    assert(!p.contains("SinglePartition"), s"global window crept in:\n$p")
    // streak aggregation keeps map-side combine
    assert(p.contains("partial_count"), s"islands lost combine:\n$p")
  }

  test("rolling HLL merges broadcast registers, raw rows scanned once") {
    val p = plan("q_hll_rolling")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the window merge joins the (days×64) register table broadcast — the
    // raw event stream must not re-shuffle into each window
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"register merge not broadcast:\n$p")
    // daily registers keep map-side max combine
    assert(p.contains("partial_max"), s"registers lost combine:\n$p")
  }

  test("linear attribution pairs touches via an equi user join") {
    val p = plan("q_attribution_linear")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"touch pairing not an equi join:\n$p")
    // channel totals keep map-side combine
    assert(p.contains("partial_count"), s"totals lost combine:\n$p")
  }

  test("boilerplate clean joins the narrow hash stream, never raw text twice") {
    val p = plan("q_boilerplate_clean")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // block df is a combiner-backed group on the hash
    assert(p.contains("partial_count"), s"df lost combine:\n$p")
    // boiler lookup is an equi join on h
    assert(p.contains("hashpartitioning(h") || p.contains("BroadcastHashJoin"),
      s"boiler join not keyed on h:\n$p")
  }

  test("k-anonymity audit is one combined aggregate over the QI space") {
    val p = plan("q_k_anonymity")
    assert(p.contains("partial_count"), s"class sizes lost combine:\n$p")
    assert(!p.contains("Exchange SinglePartition") || p.contains("CollectLimit"),
      s"unexpected single-partition exchange:\n$p")
  }

  test("interval concurrency sweeps per-user partitions, never globally") {
    val p = plan("q_interval_concurrency")
    // every Window must carry a user_id partition spec — a bare
    // `Window [... ORDER BY ...]` with no partitioning would move the
    // whole endpoint stream to one task
    val winLines = p.linesIterator.filter(_.contains("Window")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("user_id")),
      s"global window in sweep:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("stickiness reduces to the day-user grid before the 30x explode") {
    val p = plan("q_stickiness")
    // the distinct (day, user) reduction must combine map-side BEFORE
    // the 30-day contribution explode multiplies rows
    assert(p.contains("partial_"), s"grid reduction lost combine:\n$p")
    assert(p.contains("Generate explode"), s"contribution explode missing:\n$p")
  }

  test("heavy hitters recount is an equi join on the candidate tokens") {
    val p = plan("q_heavy_hitters")
    // MG candidates broadcast back against the token stream — the
    // recount must be a broadcast hash join, not a shuffle of all tokens
    assert(p.contains("BroadcastHashJoin"), s"candidate join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("ndcg ranking reuses the bruteforce broadcast-probe shape") {
    val p = plan("q_ndcg_eval")
    // probe side (8 vectors) broadcasts; corpus side streams — no
    // shuffle of the full pair set before the per-probe top-10 window
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe side not broadcast:\n$p")
    val winLines = p.linesIterator.filter(_.contains("Window")).toList
    assert(winLines.forall(_.contains("qid")), s"rank window not per-probe:\n$p")
  }

  test("cluster terms: centroid argmin broadcasts, token stats combine map-side") {
    val p = plan("q_cluster_terms")
    // k = 4 centroid side under the assignment NLJ must broadcast; the
    // (cid, t) / t token aggregates must keep their partial (combiner)
    // phase — losing either shuffles raw tokens or vectors
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroids not broadcast:\n$p")
    assert(p.contains("partial_count"), s"token stats lost combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("media features never shuffle payload blobs") {
    val p = plan("q_media_features")
    // decode + extract are partition-local: payload blobs exist only
    // between the synthesize map (MapElements, printed BELOW) and the
    // featurize MapPartitions (printed ABOVE) — no Exchange may sit
    // between them. Exchanges elsewhere move only ids/features (e.g. the
    // r15 Tables.spread repartition of the id spine, the final range
    // sort), so the old blanket no-hash-exchange assertion is too blunt.
    val pm = p.indexOf("MapPartitions")
    val me = p.indexOf("MapElements")
    assert(pm >= 0 && me > pm, s"expected MapPartitions above MapElements:\n$p")
    assert(!p.substring(pm, me).contains("Exchange"),
      s"payload bytes crossed a shuffle between synthesize and featurize:\n$p")
  }

  test("nearest as-of join is two keyed window shuffles, no join of raw streams") {
    val p = plan("q_asof_join_nearest")
    // each asOf pass unions two branches and each branch moves to its
    // key partition exactly once (union erases partitioning info, so the
    // window re-clusters both) — two passes = at most 4 user_id hash
    // exchanges, each touching a branch's rows once; a SortMergeJoin
    // would mean the union+running-last formulation regressed to a join
    val hashEx = countOccurrences(p, "hashpartitioning\\(user_id")
    assert(hashEx <= 4, s"$hashEx user_id exchanges (expected <= 4):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"raw-stream join appeared:\n$p")
  }

  test("bpe merge rounds: every window is doc-partitioned, argmax is TakeOrdered") {
    val p = plan("q_bpe_merges")
    // the per-round token windows must all carry doc_id partitioning (a
    // global window would single-task the token stream); the per-round
    // argmax must stay a TakeOrdered(1), never a global sort of counts
    val winLines = p.linesIterator.filter(_.contains("Window")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("doc_id")),
      s"global window in BPE round:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"argmax lost TakeOrdered:\n$p")
  }

  test("every global window runs over a bounded (post-aggregation/limit) input") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Window => LWindow}
    // the six deliberate Window.orderBy-without-partitionBy sites in source
    // (CatalogBuild.withGlobalFrameIds, Lexical PMI top-k, EventAnalytics
    // cumulative months, Analytics id-gap buckets / skyline sizes /
    // quantile-normalize histogram): each is safe ONLY because its input is
    // a tiny aggregate or an explicit limit — this gate turns that comment
    // convention into a regression test. A new global window over raw rows
    // fails here before it can single-task a 100 TB shuffle.
    val audited = Seq("q_id_gaps", "q_skyline", "q_quantile_normalize",
      "q_cumulative_users", "q_pmi_bigrams", "q_catalog_frames_meta",
      "q_quantile_sketch", "q_seasonal_decompose", "q_kaplan_meier",
      "q_conversion_latency", "q_largest_remainder",
      "q_repeat_curve", "q_grid_hotspots")
    audited.foreach { name =>
      val lp = SparkEntry.queries(name)(spark, sf("sf0.001"))
        .queryExecution.optimizedPlan
      val globals = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(globals.nonEmpty, s"$name: audit list stale — no global window found")
      globals.foreach { w =>
        val bounded = w.child.collectFirst {
          case a: Aggregate => a
          case l: GlobalLimit => l
        }.isDefined
        assert(bounded,
          s"$name: global window over an unbounded input:\n${w.child.treeString}")
      }
    }
  }

  test("wilson/chi2 marginals broadcast; contingency joins never cartesian") {
    val pw = plan("q_wilson_lb")
    assert(pw.contains("TakeOrderedAndProject"), s"top-k lost TakeOrdered:\n$pw")
    val pc = plan("q_chi2_independence")
    assert(!pc.contains("CartesianProduct"), s"cartesian in chi2:\n$pc")
    assert(pc.contains("BroadcastHashJoin") || pc.contains("BroadcastNestedLoopJoin"),
      s"marginals not broadcast:\n$pc")
  }

  test("item CF scores through keyed joins; history anti-join stays keyed") {
    val p = plan("q_item_cf_recs")
    assert(!p.contains("CartesianProduct"), s"cartesian in CF:\n$p")
    assert(p.contains("LeftAnti"), s"consumed-item anti join lost:\n$p")
    // the rank window partitions by user — never a global sort of scores
    val winLines = p.linesIterator.filter(_.contains("Window")).toList
    assert(winLines.forall(_.contains("user_id")), s"global window in CF:\n$p")
  }

  test("wordpiece matches by EQUI substring join, never a theta join") {
    val p = plan("q_wordpiece_apply")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi vocab match:\n$p")
  }

  test("churn and cohort windows partition by user; rollups combine map-side") {
    val p = plan("q_churn_flow")
    val winLines = p.linesIterator.filter(_.contains("Window")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("user_id")),
      s"global window in churn:\n$p")
    assert(p.contains("partial_"), s"rollup lost map-side combine:\n$p")
    val pl = plan("q_cohort_ltv")
    val winL = pl.linesIterator.filter(_.contains("Window")).toList
    assert(winL.nonEmpty && winL.forall(_.contains("cohort_mi")),
      s"cumulative window not cohort-partitioned:\n$pl")
  }

  test("spatial NN join keys on grid cells — no cartesian, no theta join") {
    val p = plan("q_spatial_nn_radius")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"NN join lost the grid equi-join:\n$p")
    val winLines = p.linesIterator.filter(_.contains("Window")).toList
    assert(winLines.forall(_.contains("c_custkey")), s"argmin window not keyed:\n$p")
  }

  test("rake word stats join on the vocabulary key, phrases rebuilt sorted") {
    val p = plan("q_rake_keywords")
    // word-stat join keyed by token (shuffle on vocabulary, fine) or
    // broadcast under AQE — but never cartesian; phrase rebuild must
    // use array_sort, not raw collect order
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the physical plan elides aggregate expression trees — assert the
    // canonical sort on the optimized logical plan instead
    val lp = SparkEntry.queries("q_rake_keywords")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan.toString
    assert(lp.contains("array_sort"), s"phrase order not canonicalized:\n$lp")
  }

  test("market share broadcasts every dim, never a cartesian") {
    val p = plan("q_market_share")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("fifo matching joins on (part, bucket) — no per-part cartesian") {
    val p = plan("q_fifo_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fifo lost the bucketed equi-join:\n$p")
    // the overlap predicate must ride the equi-join as a residual, and
    // the canonical-bucket dedup must appear as a join-side filter, not
    // a post-join distinct
    assert(!p.contains("Deduplicate"), s"bucketed join needed a distinct:\n$p")
  }

  test("audience overlap reduces users once; pair expansion is broadcast") {
    val p = plan("q_audience_overlap")
    // the only fact-scale exchange keys on user_id (mask fold); the
    // 25-pair × mask-histogram cross is a broadcast nested loop over
    // bounded sides, which is fine and expected
    val userEx = countOccurrences(p, "hashpartitioning\\(user_id")
    assert(userEx >= 1, s"mask fold lost its user key:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("spearman rank windows run over the value vocabulary, keyed by group") {
    val p = plan("q_spearman")
    val winLines = p.linesIterator.filter(_.contains("Window")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("g#")),
      s"rank window not group-partitioned:\n$p")
    assert(p.contains("partial_"), s"moment sums lost map-side combine:\n$p")
  }

  test("bradley-terry rounds stay keyed joins with combiner aggregation") {
    val p = plan("q_bradley_terry")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("partial_sum"), s"denominator sum lost its combiner:\n$p")
  }

  test("rank-test windows run over the value histogram, never raw rows") {
    // Mann-Whitney / Kruskal-Wallis / AUC share the histogram-rank shape:
    // the raw scan must reduce through a map-side-combined aggregate
    // BEFORE any Window appears, so the single-partition rank window only
    // ever sees the domain-bounded histogram
    for (q <- Seq("q_mann_whitney", "q_kruskal_wallis", "q_auc_roc")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q: histogram lost map-side combine:\n$p")
      val preWindow = p.substring(p.indexOf("Window"))
      assert(preWindow.contains("HashAggregate"),
        s"$q: window is not fed by an aggregate:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian:\n$p")
    }
  }

  test("connected-components rounds are keyed joins + combiner min, no windows") {
    val p = plan("q_connected_components")
    // the localCheckpoints hide per-round plans; the visible tail must
    // still be the combiner-count readout with no window/sort of labels
    assert(!p.contains("Window"), s"CC must not sort/window raw labels:\n$p")
    assert(p.contains("partial_count"), s"size count lost its combiner:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("pca moment pass is one combiner-reduced self-join; iterations broadcast") {
    val p = plan("q_pca_power_iter")
    // the O(n·d²) moment reduction must partial-aggregate map-side
    assert(p.contains("partial_sum"), s"moment sums lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("negative sampling anti-joins positives on the composite key") {
    val p = plan("q_negative_sampling")
    assert(p.contains("LeftAnti"), s"positive exclusion lost its anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("KS / lift windows read the bounded checkpointed histogram") {
    // both queries cumulative-sum over a score/value histogram that is
    // localCheckpoint'd (2 consumers) — the window input must be either
    // the checkpoint scan or an aggregate, never the raw fact table
    for (q <- Seq("q_ks_test", "q_lift_gain")) {
      val p = plan(q)
      assert(p.contains("Window"), s"$q: lost its cumulative window:\n$p")
      val preWindow = p.substring(p.indexOf("Window"))
      assert(preWindow.contains("HashAggregate") || preWindow.contains("ExistingRDD"),
        s"$q: window not fed by histogram aggregate/checkpoint:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian:\n$p")
    }
  }

  test("kappa and calibration are pure combiner aggregations, no windows") {
    for (q <- Seq("q_cohens_kappa", "q_calibration_bins")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q: unexpected window:\n$p")
      assert(p.contains("partial_"), s"$q: lost map-side combine:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian:\n$p")
    }
  }

  test("personalized pagerank rounds are keyed joins + combiner sums, no windows") {
    val p = plan("q_ppr")
    assert(!p.contains("Window"), s"PPR must never window per-vertex ranks:\n$p")
    assert(p.contains("partial_sum"), s"dst contribution sum lost its combiner:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("sequential folds (holt-winters, croston) stay keyed mapPartitions") {
    // per-series state must run inside a partition after one hash
    // exchange on the series key — no window, no driver collect
    for ((q, key) <- Seq("q_holt_winters" -> "event_type",
                         "q_croston" -> "l_partkey")) {
      val p = plan(q)
      assert(p.contains("MapPartitions"), s"$q: fold lost mapPartitions:\n$p")
      assert(p.contains(s"hashpartitioning($key"),
        s"$q: missing series-key exchange:\n$p")
      assert(!p.contains("Window"), s"$q: unexpected window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian:\n$p")
    }
  }

  test("ANN recall candidate generation is equi-keyed, never cartesian") {
    val p = plan("q_ann_recall_at_k")
    // the only nested-loop allowed is the 8-row probe broadcast; the
    // bucket restriction must be an equi-join on the (vector, table) key
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("hashpartitioning(qid"), s"per-probe top-k lost its key:\n$p")
  }

  test("ANF register merge is a keyed join + combiner max, no windows") {
    val p = plan("q_anf")
    assert(!p.contains("Window"), s"ANF must never window registers:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // one un-checkpointed merge round: vertex-keyed equi-join on dst and
    // a map-side-combined (v, b) max
    import spark.implicits._
    val regs = (0L until 50L).map(v => (v, v % 64, 1L)).toDF("v", "b", "rho")
    val e = (0L until 49L).map(i => (i, i + 1)).toDF("src", "dst")
    val round = regs
      .unionAll(e.join(regs.select(col("v").as("dst"), col("b"), col("rho")), Seq("dst"))
        .select(col("src").as("v"), col("b"), col("rho")))
      .groupBy(col("v"), col("b")).agg(max(col("rho")).as("rho"))
    val rp = round.queryExecution.executedPlan.toString
    assert(rp.contains("partial_max"), s"round lost its map-side max combiner:\n$rp")
    assert(!rp.contains("CartesianProduct") && !rp.contains("Window"),
      s"round must be keyed joins only:\n$rp")
  }

  test("substring dedup is gram-keyed aggregation + doc-keyed islands, never a pair join") {
    val p = plan("q_dedup_substring")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // duplicated positions re-qualify through a SEMI join on the gram —
    // a pair-enumerating inner self-join here would be O(copies^2) on a
    // hot gram at 100 TB
    assert(p.contains("LeftSemi"), s"dup-gram qualification lost its semi-join:\n$p")
    // both windows (lag + island id) are keyed by doc_id, never global
    assert(p.contains("windowPartition=[doc_id") ||
      p.contains("hashpartitioning(doc_id"), s"island window lost its doc key:\n$p")
    // the dup-gram count combines map-side (a million-copy gram is one row)
    assert(p.contains("partial_count"), s"dup-gram count lost its combiner:\n$p")
  }
}
