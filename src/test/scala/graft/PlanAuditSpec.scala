package graft

import graft.queries.{Pipeline, Relational}
import org.apache.spark.sql.functions.{col, lit}

/** SURVEY §4 regression guards: the scale-critical plan properties the
  * bench notes claim (broadcast dimensions, pushdown, partial
  * aggregation, no quadratic join fallbacks) asserted on the actual
  * physical plans, so a refactor that silently degrades a plan — e.g. a
  * join condition Catalyst can no longer recognize as equi-join — fails
  * the suite instead of only showing up as a 100× regression at scale.
  */
class PlanAuditSpec extends SparkSpecBase {

  private def plan(name: String): String = {
    val qs = SparkEntry.queries
    qs(name)(spark, sfTiny).queryExecution.executedPlan.toString
  }

  /** Formatted explain — the only mode whose scan nodes print
    * PushedFilters/ReadSchema in full. */
  private def formatted(name: String): String = {
    val qs = SparkEntry.queries
    qs(name)(spark, sfTiny).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("q5 star join: every dimension side broadcasts, fact scan is pruned") {
    val p = plan("q5_star_join")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 5, s"want >=5 broadcast joins, got $nBroadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the lineitem scan must not read all 16 columns
    val f = formatted("q5_star_join")
    val lineitemSchema = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(f)
      .map(_.group(1)).find(_.contains("l_orderkey"))
    assert(lineitemSchema.exists(_.split(",").length <= 6),
      s"lineitem scan reads too many columns: $lineitemSchema")
  }

  test("q2 selective scan: predicates reach the parquet reader") {
    val f = formatted("q2_filter_proj")
    val pushed = "PushedFilters: \\[([^\\]]+)\\]".r.findAllMatchIn(f).map(_.group(1)).toSeq
    assert(pushed.exists(_.contains("GreaterThan")), s"no pushed filters in:\n$f")
  }

  test("q1 aggregation: map-side partial aggregate, one hash shuffle") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), p) // map-side combine before shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    // the only other exchange is the deterministic output sort
    assert("Exchange".r.findAllIn(p).length <= 2, p)
  }

  test("dedup joins stay equi-joins — no quadratic fallback") {
    for (name <- Seq("d4_ngram_jaccard", "d15_jaccard_lsh", "d13_embed_neardup",
        "d30_corpus_curation", "d31_chunk_dedup", "d32_incremental_dedup",
        "d39_containment", "d52_edit_distance")) {
      val p = Pipeline.queries(name)(spark, sfTiny).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name fell back to cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name fell back to BNLJ:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"$name has no hash-based join:\n$p")
    }
  }

  test("e5: count/min/max are answered by parquet footer stats") {
    val f = graft.queries.Sources.queries("e5_agg_pushdown")(spark, sfTiny)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // the whole point of the entry: the scan node must carry the pushed
    // aggregate list — at 100 TB this is metadata IO, not data IO
    assert(f.contains("PushedAggregation"), s"no PushedAggregation in:\n$f")
    assert("PushedAggregation: \\[[^\\]]*COUNT".r.findFirstIn(f).isDefined, f)
    assert("PushedAggregation: \\[[^\\]]*MIN".r.findFirstIn(f).isDefined, f)
  }

  test("d36 semdedup: cell pair-generation stays an equi-join") {
    val p = Pipeline.queries("d36_semdedup")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    // the K-centroid assignment is a DELIBERATE broadcast nested-loop
    // (tiny fixed side, like d5/d29); the corpus-sized pair generator
    // must never be — it joins on the cell key
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in pair generation:\n$p")
  }

  test("d37/d38 LM scoring: dictionary sides join without a corpus reshuffle") {
    // d37: document frequencies + corpus stats must broadcast onto the
    // term hits; d38's per-doc aggregate must partial-aggregate map-side
    val p37 = Pipeline.queries("d37_bm25")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p37).length >= 1 ||
      "BroadcastNestedLoopJoin".r.findAllIn(p37).length >= 1, p37)
    assert(!p37.contains("CartesianProduct"), p37)
    val p38 = Pipeline.queries("d38_bigram_surprisal")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(p38.contains("partial_count") || p38.contains("partial_sum"), p38)
    assert(!p38.contains("CartesianProduct") &&
      !p38.contains("BroadcastNestedLoopJoin"), p38)
  }

  test("dynamic partition pruning fires on a partition-key join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the runtime half of a6's static pruning story: when the partition
    // key arrives from a FILTERED dimension instead of a literal, the
    // fact scan must still prune — at 100 TB this is the difference
    // between scanning every date partition and scanning the few the
    // dimension selects. Reuse a6's partitioned layout (write if absent).
    val url = s"${graft.queries.Sources.scratchDir}/a6/orders_by_status"
    if (!new java.io.File(url).exists()) {
      graft.queries.Sources.queries("a6_partition_discovery")(spark, sfTiny).count()
    }
    val fact = graft.sources.GraftReader.read(spark, url, "parquet")
    // the dim must be a FILE scan: a local relation constant-folds the
    // filter away and the pruning rule never sees a selective predicate
    val dimUrl = s"${graft.queries.Sources.scratchDir}/dpp_dim"
    Seq(("F", "final"), ("O", "open"), ("P", "pending"))
      .toDF("o_orderstatus", "label")
      .write.mode("overwrite").parquet(dimUrl)
    val dim = spark.read.parquet(dimUrl)
    val joined = fact.join(dim.filter(col("label") === "final"), "o_orderstatus")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$p")
    // and it actually prunes: only the F partition's files are read
    assert(joined.collect().map(_.getString(0)).toSeq == Seq("F"))
  }

  test("d5 knn: query side broadcasts, corpus side streams") {
    val p = Pipeline.queries("d5_knn_cosine")(spark, sfTiny).queryExecution.executedPlan.toString
    // the deliberate shape: broadcast the tiny query set against the
    // corpus scan — a nested-loop join here is CORRECT (non-equi
    // vec_id != qid condition) but must be broadcast, never cartesian
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d20: one union_find aggregate labels the blocks, with no typed regroup") {
    // the labeling is the pinned union_find aggregate; no
    // typed Dataset step (AppendColumns → MapGroups / CoGroup) regroups
    // rows, and the cluster sizes come out of the aggregate, not from a
    // size aggregate joined back
    val p = Pipeline.queries("d20_dedup_clusters")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(p.contains("union_find") && p.contains("InMemoryTableScan"), p)
    for (node <- Seq("MapGroups", "CoGroup", "AppendColumns", "keys=[root"))
      assert(!p.contains(node), s"$node in d20's plan:\n$p")
  }

  test("d4, d20 and d140: the near-dup join tests the size ratio once per side") {
    // blockedJaccardPairs' Long bound probes size() of the kernel's
    // inputs, so the JaccardPrefilter rule adds no double-typed copy
    for (name <- Seq("d4_ngram_jaccard", "d20_dedup_clusters", "d140_dedup_waterfall")) {
      val p = plan(name)
      val join = p.linesIterator.filter(_.contains("jaccard_sim_sorted_bail")).mkString("\n")
      assert(join.nonEmpty, s"$name: no kernel join:\n$p")
      assert("\\* 100000\\)".r.findAllIn(join).length == 2, s"$name:\n$join")
      assert(!join.contains("as double)"), s"$name: a double-typed size bound:\n$join")
    }
  }

  test("d22: term counts come from the row, with no (doc_id, word) exchange and no pin") {
    val p = Pipeline.queries("d22_unigram_logprob")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(p.contains("term_counts"), p)
    assert(!"hashpartitioning\\(doc_id#\\d+L?, word#".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("InMemoryTableScan"), p)
    // the frequency aggregate runs once: one final sum(cnt) over words
    assert("HashAggregate\\(keys=\\[word#\\d+\\], functions=\\[sum\\(".r.findAllIn(p).length == 1, p)
  }

  test("d25 contamination: benchmark side broadcasts as a semi-join") {
    val p = Pipeline.queries("d25_contamination")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    // the benchmark shingle set must reach the training side as a
    // BROADCAST left-semi join — a shuffled join here would shuffle the
    // full exploded training shingle stream at 100 TB
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark set is not a broadcast semi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d27 shard packing: per-source window, no global sort") {
    val p = Pipeline.queries("d27_shard_pack")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    // the running sum must partition by source (hash exchange), never
    // range-partition the whole corpus into one global ordering — the
    // final output orderBy is the only range exchange allowed
    assert("Exchange rangepartitioning".r.findAllIn(p).length <= 1, p)
    assert(p.contains("Exchange hashpartitioning"), p)
    // map-side partial aggregation ahead of the shard rollup
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("a12 bucketed join: zero shuffles feed the join") {
    // disable auto-broadcast so the tiny test SF plans the same
    // co-located SortMergeJoin a 100 TB run would (at real scale
    // neither side broadcasts); the bucketed layout must feed the join
    // with NO exchange — the only ones left are the post-join aggregate
    // and the output ordering
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val df = graft.queries.Sources.queries("a12_bucketed_join")(spark, sfTiny)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("BroadcastExchange"), p)
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges <= 2, s"bucketed join still shuffles ($exchanges exchanges):\n$p")
      // both scans actually read the bucketed layout, all buckets
      assert("Bucketed: true".r.findAllIn(p).length == 2, p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("centroid assignment is a map-local fold: no Window anywhere in the ANN family") {
    // VERDICT r5 #1: the old crossJoin+row_number assignment shuffled
    // n×k expanded rows through a Window sort (1024× the corpus at a
    // k=1024 IVF codebook). The argBest/probeCells fold must leave NO
    // logical Window in the fit/assign/classify plans; the search
    // entries keep exactly ONE — the final per-query top-k rerank.
    def windows(name: String): Int = {
      val p = Pipeline.queries(name)(spark, sfTiny)
        .queryExecution.optimizedPlan.toString
      // \bWindow\b does not match WindowGroupLimit (no word boundary)
      """\bWindow\b""".r.findAllIn(p).length
    }
    for (name <- Seq("d40_kmeans_fit", "d36_semdedup", "d44_nb_classifier"))
      assert(windows(name) == 0, s"$name: assignment regressed to a Window sort")
    for (name <- Seq("d29_ivf_ann", "d41_ann_pipeline", "d45_pq_adc"))
      assert(windows(name) == 1, s"$name: want only the rerank Window, got ${windows(name)}")
  }

  test("d29 ivf: centroid assignment broadcasts, never a cartesian product") {
    val p = Pipeline.queries("d29_ivf_ann")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    // the corpus x centroids scan is the d5-style deliberate broadcast
    // NLJ (tiny broadcast side, linear scan); a CartesianProduct here
    // would shuffle the corpus against itself
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q23 top-n per group: rank-limit pushdown, no pre-window global sort") {
    val p = plan("q23_topn_group")
    // WindowGroupLimit = the rank-limit pushed below the shuffle, so
    // each partition keeps only its top-N candidates before exchanging —
    // the property that makes per-group top-N survive 100× groups
    assert(p.contains("WindowGroupLimit"), p)
    // the only range-partitioned sort allowed is the final output order
    assert("Exchange rangepartitioning".r.findAllIn(p).length <= 1, p)
  }

  test("q46 lateral: de-correlated into a windowed join, never row-at-a-time") {
    val p = plan("q46_lateral")
    // Catalyst must rewrite the correlated LIMIT'd lateral subquery into
    // a ranked-window + join plan — the per-outer-row re-execution a
    // naive lateral implies would be O(customers × orders-scan) at scale
    assert(p.contains("Window"), s"lateral not de-correlated via window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no hash/merge join in:\n$p")
  }

  test("q58 arg_max: one map-combinable aggregate, no self-join against the max") {
    val p = plan("q58_arg_extremes")
    // max_by must plan as partial/final aggregate pairs — the naive
    // arg_max translation (join the table back to its per-group max)
    // costs 2 shuffles + a join and collapses on skewed groups
    assert(p.contains("partial_max_by") || p.contains("partial_maxby") ||
      ("HashAggregate|SortAggregate|ObjectHashAggregate".r.findAllIn(p).length >= 2
        && !p.contains("Join")),
      s"arg_max did not plan as a single aggregate:\n$p")
    assert(!p.contains("Join"), s"unexpected join in arg_max plan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("a15 merge: update batch broadcasts into the anti-join, no cartesian") {
    // audit the shared merge helper directly — the a15 entry's returned
    // DF is the post-write read-back, the merge itself runs inside
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.load(spark, sfTiny, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    val upserts = base.filter(col("o_orderkey") % 100 === 0)
    val p = graft.queries.Sources.upsertMerge(base, upserts, "o_orderkey")
      .queryExecution.executedPlan.toString
    // the daily-merge shape: base anti-join (upsert keys) must be a
    // BROADCAST anti-join — shuffling the full base to drop 1% of keys
    // is the classic lakehouse-merge mistake at 100 TB
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"merge anti-join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e7 sql macro: body inlined into the plan, no black-box UDF") {
    // the SQL scalar UDF must dissolve at analysis time — codegen and
    // pushdown see plain arithmetic; a ScalaUDF/PythonUDF node would
    // mean the macro is an interpreter call per row
    val p = plan("e7_sql_macro")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"macro not inlined:\n$p")
    assert(p.contains("partial_sum"), s"no map-side combine under the macro:\n$p")
  }

  test("d44 NB classifier: dictionaries broadcast, corpus never re-shuffles for them") {
    // the likelihood grid, priors, and (via crossJoin of two tiny
    // aggregates) the bucket range must all reach the corpus side as
    // broadcasts — a shuffled join against a 320-row dictionary would
    // repartition the whole corpus at 100 TB
    val p = plan("d44_nb_classifier")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 2, s"want >=2 broadcast joins, got $nBroadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"no map-side combine in the tokenize aggregate:\n$p")
  }

  test("d45 PQ: codebooks and LUTs broadcast, score join stays equi") {
    // seeds/codebook/LUT are O(M*K) rows — every join against the
    // corpus-sized side must broadcast, and the ADC score join must be
    // the (sub, cid) equi-join, never a nested-loop over codes
    val p = plan("d45_pq_adc")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 3, s"want >=3 broadcast joins, got $nBroadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"PQ fell back to a non-equi join:\n$p")
  }

  test("q64 extended aggregates: one hash shuffle, map-side partials") {
    val p = plan("q64_stats_ext")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("q68/q69 window translations: both passes ride ONE hash exchange") {
    // q68's opposite-frame brackets and q69's rank→range passes share
    // the same partitioning; a second hashpartitioning exchange would
    // mean the translation re-shuffles per pass (the remaining exchange
    // is the deterministic output range-sort)
    for (name <- Seq("q68_interpolate", "q69_groups_frame",
        "q72_frame_exclude_group")) {
      val p = plan(name)
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
        s"$name re-shuffles between window passes:\n$p")
    }
  }

  test("d50 takedown: the request registry broadcasts onto the corpus") {
    val p = plan("d50_takedown")
    assert(p.contains("BroadcastHashJoin"), s"registry join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d49/d51 gram scoring: pair joins stay equi, partials map-side") {
    // d49's dictionary joins (w1/w2-keyed) and d51's (doc,gram) pair
    // joins must never degrade to a quadratic fallback; the one allowed
    // nested-loop is d49's broadcast of the 1-row type-total
    for (name <- Seq("d49_kneser_ney", "d51_bleu_pairs")) {
      val p = Pipeline.queries(name)(spark, sfTiny)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
      assert(p.contains("partial_"), s"$name no map-side partials:\n$p")
    }
    val p51 = Pipeline.queries("d51_bleu_pairs")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(!p51.contains("BroadcastNestedLoopJoin"), s"d51 BNLJ:\n$p51")
  }

  test("d53 substring dedup: span merge is one aggregate, no Window, semi-join membership") {
    val opt = Pipeline.queries("d53_substring_dedup")(spark, sfTiny)
      .queryExecution.optimizedPlan.toString
    // the per-doc span fold must stay a map-combinable aggregate — a
    // Window here would re-shuffle every gram start through a sort
    assert("""\bWindow\b""".r.findAllIn(opt).isEmpty,
      s"d53 span merge regressed to a Window sort:\n$opt")
    val p = Pipeline.queries("d53_substring_dedup")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), s"dup-gram membership not a semi-join:\n$p")
    assert(p.contains("partial_count"), s"dup-gram count has no map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d54 knn graph: sort-free topk_by aggregate, no Window, joins stay equi") {
    // the per-node top-k is the topk_by aggregate over fixed-width
    // UnsafeRow buffers, so it plans as a plain HashAggregate (map-side
    // partial + final), never the ObjectHashAggregate whose group-count
    // fallback sorts, a SortAggregate, or a row_number Window
    val p = Pipeline.queries("d54_knn_graph")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert("""(?<!Object)HashAggregate\(keys=\[vec_id#\d+L?\], functions=\[partial_topk_by""".r
        .findFirstIn(p).nonEmpty &&
      """(?<!Object)HashAggregate\(keys=\[vec_id#\d+L?\], functions=\[topk_by""".r
        .findFirstIn(p).nonEmpty,
      s"d54: topk_by should plan as a partial + final HashAggregate:\n$p")
    Seq("ObjectHashAggregate", "SortAggregate", "Window").foreach { op =>
      assert(!p.contains(op), s"d54: unexpected $op in the plan:\n$p")
    }
    // candidate generation never falls off the equi-join path
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d54 candidate generation fell off the equi-join path:\n$p")
  }

  test("d55 star rounds: map-combinable min aggregate, equi-joins, no Window") {
    // audit ONE contraction round directly (the d55 entry executes
    // many, each localCheckpoint'd, so the final plan hides them): the
    // per-node min must carry a map-side partial — that partial is the
    // whole point of star contraction vs a sort-based argmin — and the
    // hook-up join must stay an id-keyed equi-join.
    import spark.implicits._
    val e = Seq((5L, 1L), (7L, 1L), (9L, 7L), (4L, 2L))
      .toDF("u", "v")
    for ((step, df) <- Seq("largeStar" -> Pipeline.largeStar(e),
                           "smallStar" -> Pipeline.smallStar(e))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("partial_min"), s"$step min has no map-side partial:\n$p")
      assert("""\bWindow\b""".r.findAllIn(p).isEmpty, s"$step uses a Window:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$step hook-up join is not equi:\n$p")
    }
    // and the round itself is semantically right on a known graph:
    // {1,5,7,9} ∪ {2,4} contract to stars on the min node
    val fix = Pipeline.smallStar(Pipeline.largeStar(e))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fix == Set((5L, 1L), (7L, 1L), (9L, 1L), (4L, 2L)),
      s"one round on the test graph gave $fix")
  }

  test("d56 sequence pack: no single-partition exchange — the prefix sum stays sharded") {
    // the whole point of the two-level decomposition: neither the
    // corpus cumsum nor the shard-offset cumsum may serialize the data
    // through one partition (the final presentation orderBy is range-
    // partitioned, which is fine)
    val p = plan("d56_sequence_pack")
    assert(!p.contains("Exchange SinglePartition"),
      s"d56 prefix sum collapsed to a single partition:\n$p")
    assert(p.contains("partial_sum"), s"shard totals lost the map-side partial:\n$p")
  }

  test("d57 cluster rep: one map-combinable argmax aggregate, no Window, no sort before shuffle") {
    // the r5 VERDICT's crossJoin+row_number hazard, pinned in reverse:
    // representative selection must plan as partial max_by partials
    // (one row per cluster shuffles), never a per-cluster Window rank
    val p = plan("d57_cluster_rep")
    assert("""\bWindow\b""".r.findAllIn(p).isEmpty,
      s"d57 argmax degraded to a Window rank:\n$p")
    assert(p.contains("partial_max_by"),
      s"d57 max_by has no map-side partial:\n$p")
  }

  test("d59 doc pack: shard-bounded fold — only tiny Windows, no single-partition exchange") {
    // the greedy fold must run inside the (source, shard) aggregate
    // (collect_list partials + aggregate() lambda), never as a corpus
    // Window scan; the only Windows allowed are the per-source prefix
    // sum over the shard-totals table plus equiDepthShard's two
    // bucket-table prefix sums (r7) — all three over aggregate-
    // collapsed tiny tables, none over corpus rows
    // the fold (and equiDepthShard's bucket-table windows) sit behind
    // the localCheckpoint's RDD-scan boundary — audited separately in
    // the equiDepthShard test below; the outer plan may only carry the
    // per-source shard-offsets window
    val p = plan("d59_doc_pack")
    assert("""\bWindow\b""".r.findAllIn(p).length == 1,
      s"d59 should have exactly one (offsets) Window past the fold checkpoint:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"d59 collapsed to a single partition:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("equiDepthShard: bucket-table windows stay partitioned, shard map joins back broadcast-free of single partitions") {
    // the r7 de-skew helper (d56/d59): both prefix-sum levels must be
    // partitioned Windows over aggregate-collapsed bucket/chunk tables —
    // never a per-source single-task corpus window — and the corpus ⋈
    // shard-map join must be an equi-join (no cartesian)
    val toks = Tables.load(spark, sfTiny, "documents")
      .select(col("doc_id"), col("source"), lit(1L).as("n_tokens"))
    val p = Pipeline.equiDepthShard(spark, toks).queryExecution.executedPlan.toString
    assert("""\bWindow\b""".r.findAllIn(p).length == 2,
      s"equiDepthShard should plan exactly two prefix-sum Windows:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"equiDepthShard collapsed to a single partition:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"),
      s"bucket counts lost the map-side partial:\n$p")
  }

  test("d33 zipf: vocab rank is slice-decomposed — no vocabulary-wide single-partition window") {
    // the r14 verdict's last corpus-derived SinglePartition window,
    // pinned dead: the type-dictionary rank must run as per-slice
    // row_number over hash-partitioned range slices (d58's offsets
    // shape on the composite (n desc, word) key); the only window
    // allowed to collapse is the slice-COUNT offsets table (bounded by
    // the slice fan-out, metadata-sized at any SF)
    val p = plan("d33_zipf")
    assert(p.contains("hashpartitioning(slice"),
      s"d33 per-slice rank is not slice-partitioned:\n$p")
    val single = "Exchange SinglePartition".r.findAllIn(p).length
    assert(single == 1,
      s"want exactly 1 single-partition exchange (slice offsets), got $single:\n$p")
    // and the offsets side must join back broadcast, never reshuffling
    // the ranked dictionary on the slice key a second time
    assert(p.contains("BroadcastHashJoin"),
      s"d33 offsets join is not broadcast:\n$p")
    // bit-parity: the decomposition must reproduce the plain-window
    // rank EXACTLY (the oracle states the single-window semantics —
    // equality IS the decomposition claim); ranks feed ln(r) sums, so
    // compare the full output rows against the vocabulary-wide
    // row_number computed here
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{asc, count, desc, explode, expr, round, row_number, sum}
    val plain = Pipeline.wordsOf(spark, sfTiny)
      .select(explode(col("words")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(Window.orderBy(desc("n"), asc("word"))).cast("long"))
      .groupBy(lit("corpus").as("scope")).agg(
        count(lit(1)).as("n_types"),
        sum(col("n")).as("total_tokens"),
        round(expr("regr_slope(ln(n), ln(r))"), 4).as("zipf_slope"),
        round(expr("regr_r2(ln(n), ln(r))"), 4).as("r2"))
      .collect().map(_.toSeq)
    val sliced = SparkEntry.queries("d33_zipf")(spark, sfTiny).collect().map(_.toSeq)
    assert(plain.nonEmpty)
    assert(sliced.toSeq == plain.toSeq,
      s"slice-decomposed rank diverged from the plain window:\n" +
        s"sliced=${sliced.toSeq}\nplain=${plain.toSeq}")
  }

  test("d58 train shuffle: corpus window is shard-partitioned; only the 256-row offsets collapse") {
    val p = plan("d58_train_shuffle")
    // exactly ONE single-partition exchange — the shard-count offsets
    // table (bounded by shard fan-out, metadata-sized at any SF)
    val single = "Exchange SinglePartition".r.findAllIn(p).length
    assert(single == 1, s"want exactly 1 single-partition exchange (offsets), got $single:\n$p")
    // the per-shard rank must run over hash-partitioned shards
    assert(p.contains("hashpartitioning(shard"),
      s"d58 per-shard rank is not shard-partitioned:\n$p")
  }

  test("d60 gopher rules: per-row battery — stopword dim broadcasts, no hash shuffle") {
    // the rule battery is pure per-row arithmetic plus ONE broadcast
    // hash join against the ~5-row per-lang stopword dimension; at
    // 100 TB the corpus must never reshuffle — the only exchanges are
    // the broadcast and the deterministic output sort
    val p = plan("d60_gopher_rules")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 1,
      s"stopword dimension must broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"d60 reshuffled the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d61 winnowing: explode reads the persisted selection, text stays out of shuffles") {
    // gram hashing + window minima are per-row array expressions; only
    // the SELECTED fingerprints explode, and they explode from the
    // cached (doc_id, n_grams, n_selected, mins) frame — never by
    // re-evaluating the hash chain per generated row (measured 43×
    // at sf0.01, r8). Sharing joins stay equi on the md5 key.
    val p = plan("d61_winnowing")
    assert(p.contains("InMemoryTableScan"),
      s"d61 explode re-derives the selection instead of reading the cache:\n$p")
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in fingerprint sharing:\n$p")
  }

  test("d62 temperature mix: one partial-agg shuffle, totals broadcast back") {
    // the corpus collapses map-side to per-lang sums (one hash
    // exchange); the one-row totals join back as a broadcast — the
    // 5-row language table never range/hash-partitions the corpus
    val p = plan("d62_temperature_mix")
    assert(p.contains("InMemoryTableScan"),
      s"d62 re-runs the corpus pass for the totals:\n$p")
    assert(p.contains("partial_sum"),
      s"d62 totals lost their map-side partial:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"totals must broadcast (one-row side):\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"d62 shuffled more than the lang aggregate:\n$p")
  }

  test("d63 line dedup: lines shuffle as hashes off the cached pass, argmins combine map-side") {
    // text reduces to (md5, doc_id, idx, n_tok) at the scan and the
    // line pass is persisted (three consumers); the keeper argmin is
    // two map-combinable mins and every join is hash-keyed equi
    val p = plan("d63_line_dedup")
    assert(p.contains("InMemoryTableScan"),
      s"d63 re-derives the line pass instead of reading the cache:\n$p")
    assert(p.contains("partial_min"),
      s"d63 keeper argmin lost its map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in line flagging:\n$p")
  }

  test("d79 cdc chunks: explode reads the cached hash pass, dedup joins stay equi") {
    // the boundary/hash chain is expensive per-row array arithmetic —
    // the chunk explode MUST read the persisted frame (the d61
    // lesson), only (md5, idx, len) rows shuffle, the keeper argmin
    // combines map-side, and no join degrades to a cartesian
    val p = plan("d79_cdc_chunks")
    assert(p.contains("InMemoryTableScan"),
      s"d79 re-derives the chunk/hash chain instead of reading the cache:\n$p")
    assert(p.contains("partial_min"),
      s"d79 keeper argmin lost its map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"d79 must not use a Window:\n$p")
  }

  test("d82 prefix dups: keeper election map-combines, verification joins equi on the key") {
    // the max_by keeper election must plan as partial/final pairs (one
    // candidate words array per key per partition is all that
    // shuffles), and the member verification is an equi join on the
    // prefix key — never a cross product or a Window over the corpus
    val p = plan("d82_prefix_dups")
    assert(p.contains("partial_max_by") || p.contains("partial_maxby") ||
      ("max_by".r.findAllIn(p).length >= 2 && p.contains("partial_")),
      s"d82 keeper election lost its map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"d82 must not use a Window:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi join in verification:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"d82 re-tokenizes instead of reading the cached pass:\n$p")
  }

  test("d83 novelty: gram explode reads the cache, argmin combines map-side") {
    // grams leave the scan as md5 hashes off the persisted per-doc
    // array (the d61 lesson), first-occurrence is a map-combinable
    // min, and the flagging join is equi on the hash — no Window, no
    // cross product, text never shuffles
    val p = plan("d83_novelty_rate")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"d83 re-derives the gram pass instead of reading the caches:\n$p")
    assert(p.contains("partial_min"),
      s"d83 first-occurrence argmin lost its map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"d83 must not use a Window:\n$p")
  }

  test("d84 int8 quant: one cached explode, scale table broadcasts back") {
    // the two-pass normalize shape: the posexplode persists and feeds
    // BOTH the per-dim absmax and the quant pass; the 64-row scale
    // table must come back as a broadcast, never a corpus-sized
    // shuffle join; the absmax is a map-combinable max
    val p = plan("d84_int8_quant")
    assert(p.contains("InMemoryTableScan"),
      s"d84 re-explodes instead of reading the cache:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d84 scale table must broadcast:\n$p")
    assert(p.contains("partial_max"),
      s"d84 absmax lost its map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("d85 lsh recall: signature passes cached, every probe join equi") {
    // the eval must cost a constant factor of the dedup run it audits:
    // rep signatures and band keys persist (never re-derived), the
    // ground-truth pair set joins on ids, the shared-band probe joins
    // on (rep, key) — no cartesian anywhere, no Window
    val p = plan("d85_lsh_recall")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"d85 re-derives signatures instead of reading the caches:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"d85 must not use a Window:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi join in the probe:\n$p")
  }

  test("d86 bm25 topk: postings cached, salted two-stage rank, probe joins equi") {
    // one tokenize pass and one postings pass feed everything (both
    // persisted); the per-query top-5 must run as the salted rank pair
    // — a stopword-heavy query never serializes one partition; scoring
    // joins stay equi on the term
    val p = plan("d86_bm25_topk")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"d86 re-derives a pass instead of reading the caches:\n$p")
    assert("Window".r.findAllIn(p).length >= 2,
      s"d86 lost its two-stage rank:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the ONE BroadcastNestedLoopJoin allowed is the one-row corpus
    // stats join (the legitimate broadcast-scalar idiom, d37's shape)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"d86 grew a second non-equi join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"d86 aggregates lost their map-side partials:\n$p")
  }

  test("d23: signature placement is corpus-adaptive — broadcast dim vs in-band-join kernel") {
    // VERDICT r11 #1, second cut (the first — shuffle equi joins past
    // the cap — sorted a ~1 KB signature per candidate row and crashed
    // the r12 sf10 probe on spill): below graft.d23.sigBroadcastCap the
    // sig dim BROADCASTS and the band join moves ids only; past the cap
    // there is NO per-candidate sig join at all — signatures ride the
    // salted band self-join and sig_match_frac scores each collision
    // in-join. autoBroadcastJoinThreshold is pinned to -1 for both runs
    // so the test isolates the EXPLICIT hints from auto-broadcast.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the r_a-keyed BHJs are the sig dim AND the membership map: the
      // membership broadcast stays in both paths, so the sig-dim join's
      // presence shows up as a COUNT difference of exactly one per side
      def raB(p: String) = "BroadcastHashJoin \\[r_a".r.findAllIn(p).length
      def rbB(p: String) = "BroadcastHashJoin \\[r_b".r.findAllIn(p).length
      val pOn = plan("d23_minhash_estimate") // tiny corpus, default cap: hinted
      assert(raB(pOn) >= 2 && rbB(pOn) >= 2,
        s"below the cap both sig-dim joins must broadcast:\n$pOn")
      spark.conf.set("graft.d23.sigBroadcastCap", "0")
      val pOff = plan("d23_minhash_estimate")
      assert(raB(pOff) == raB(pOn) - 1 && rbB(pOff) == rbB(pOn) - 1,
        s"past the cap no join may move signatures per candidate row " +
          s"(on: ${raB(pOn)}/${rbB(pOn)}, off: ${raB(pOff)}/${rbB(pOff)}):\n$pOff")
      assert(pOff.contains("SortMergeJoin") || pOff.contains("ShuffledHashJoin"),
        s"past the cap the salted band self-join must shuffle on its key:\n$pOff")
      assert("\\bsalt#\\d+".r.findFirstIn(pOff).isDefined,
        s"mega-bucket salt column missing from the scaled band join:\n$pOff")
      assert(!pOff.contains("CartesianProduct") &&
        !pOff.contains("BroadcastNestedLoopJoin"), pOff)
    } finally {
      spark.conf.unset("graft.d23.sigBroadcastCap")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("d86: postings shuffle 8-byte term ids — word strings are never a join key") {
    // round 12 de-spill: every scoring join is keyed on wid =
    // xxhash64(word); a join keyed on the raw string would re-open the
    // sf10 spill (345 s, ×3.5 over linear)
    val p = plan("d86_bm25_topk")
    assert(p.contains("xxhash64"), s"term dictionary encoding missing:\n$p")
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.exists(_.contains("wid#")),
      s"no join keyed on the hashed term id:\n$p")
    assert(!joinLines.exists(_.contains("word#")),
      s"a join still keys on the word string:\n${joinLines.mkString("\n")}")
  }

  test("d112: gram counts aggregate on 16-byte binary keys — gram text is never a shuffle key") {
    // the de-spill shape is the LARGE-corpus path since round 13 —
    // force it past the small-corpus cap to audit it at sfTiny
    val p = try {
      spark.conf.set("graft.d112.smallCap", "0")
      plan("d112_memorization_risk")
    } finally spark.conf.unset("graft.d112.smallCap")
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.exists(_.contains("gkey#")),
      s"no shuffle keyed on the binary gram key:\n$p")
    assert(!exch.exists(_.contains("gram#")),
      s"a shuffle still keys on the gram string:\n${exch.mkString("\n")}")
  }

  test("d147 bucketed snapshot diff: full-outer SMJ with zero exchanges, zero pre-join sorts") {
    // both snapshot sides land bucketBy(16, doc_id) + sortBy with one
    // file per bucket, so the diff join must read the bucketed layout
    // directly: a full-outer SortMergeJoin with NO hash exchange and NO
    // sort below it — the only allowed exchange/sort is the final
    // presentation orderBy (rangepartitioning). This is the 100 TB CDC
    // pin: a regression that re-shuffles a snapshot diff re-pays the
    // full corpus shuffle per diff instead of once per snapshot write.
    val p = plan("d147_bucketed_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"diff must plan as a full-outer SMJ:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed diff join must not shuffle either side:\n$p")
    // exactly one Sort: the presentation orderBy above the join — the
    // join's own inputs read the buckets' sortBy order
    assert("(?m)^\\s*[+:]?-? *\\*?\\(?\\d*\\)? ?Sort ".r.findAllIn(p).length <= 1,
      s"a pre-join sort re-appeared — bucket sort order lost:\n$p")
    assert(p.contains("Exchange rangepartitioning"),
      s"presentation sort should be the only exchange:\n$p")
  }

  test("d112 small corpus: one string-keyed aggregate, no pins, no threshold pass") {
    // below graft.d112.smallCap (default 20 k docs ≫ sfTiny) the entry
    // runs the single-aggregate string-keyed plan: no persisted
    // projection, no binary-key detour, no broadcast-scalar threshold
    // join — just the exploded count plus the salted two-stage rank
    val p = plan("d112_memorization_risk")
    assert(!p.contains("InMemoryTableScan"),
      s"fast path must not pin anything:\n$p")
    assert(!p.contains("gkey#"),
      s"fast path must not take the md5 detour:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"fast path has no threshold join:\n$p")
    assert(p.contains("partial_count"),
      s"gram counts lost their map-side partials:\n$p")
    assert("Window \\[".r.findAllIn(p).length == 2,
      s"fast path is exactly one salted rank pair:\n$p")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      s"ranks must run as bounded per-partition heaps:\n$p")
  }

  test("d87 dataset card: median runs on the histogram, never a per-source doc sort") {
    // the lower median must come from the d65 histogram idiom — the
    // Window runs over the metadata-sized (source, n_tokens) count
    // table, so a hot source never serializes its DOCS through one
    // partition; the quality pass persists and feeds both aggregates
    val p = plan("d87_dataset_card")
    assert(p.contains("InMemoryTableScan"),
      s"d87 re-runs the quality pass instead of reading the cache:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"d87 histogram lost its map-side partial:\n$p")
    // exactly one Window (the histogram cumulative), partitioned by source
    assert("Window".r.findAllIn(p).length == 1 && p.contains("partition"),
      s"d87 must run one partitioned histogram cumulative:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d88 hard negatives: zero-shuffle assignment, cell-bucketed pairs only") {
    // the codebook assignment must stay the broadcast-array per-row
    // fold (no Window, no hash exchange feeding it — d40's pinned
    // shape); candidate pairs come from an equi join on the cell id —
    // never corpus × corpus
    val p = plan("d88_hard_negatives")
    // all three consumers must read the cached assignment (each
    // InMemoryTableScan reprints the cached lineage, so the one-row
    // centroid BNLJ may appear once per reprint — that is ONE
    // execution, not three)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"d88 re-derives the assignment instead of reading the cache:\n$p")
    assert(!p.contains("Window"), s"d88 must not use a Window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"cell pair join must be equi:\n$p")
  }

  test("d89 span corruption: pure per-row fold — no shuffle beyond scan and sort") {
    val p = plan("d89_span_corruption")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"), s"d89 must not join:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"d89 may shuffle only for the output sort:\n$p")
  }

  test("d90 source overlap: distinct pass cached, pair join equi on the gram hash") {
    val p = plan("d90_source_overlap")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"d90 re-derives the gram pass instead of reading the caches:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"d90 must not use a Window:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"pair join must be equi on the gram:\n$p")
  }

  test("a16 manifest validate: two manifest aggregates, shard-keyed outer diff") {
    // validation must never compare rows — both sides reduce to the
    // per-shard manifest (map-combinable count/sum/xor), the diff is a
    // full outer equi join on the shard id
    val p = plan("a16_manifest_validate")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"a16 manifest lost its map-side partials:\n$p")
    assert(p.contains("FullOuter"), s"a16 diff must be a full outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"a16 must not use a Window:\n$p")
  }

  test("d91 yield funnel: three hash-keyed rungs, stopword dim broadcast, no cartesian") {
    // the report is three map-combinable passes (content hash, prefix
    // key, per-row rules) joined equi on doc_id; the only broadcast
    // dimension is the 5-row stopword table; the prefix pass reads its
    // cache for both the election and the verification
    val p = plan("d91_yield_funnel")
    assert(p.contains("InMemoryTableScan"),
      s"d91 re-tokenizes the prefix pass instead of reading the cache:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"d91 must not use a Window:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_max_by") ||
      p.contains("partial_count"),
      s"d91 keeper elections lost their map-side partials:\n$p")
  }

  test("d92 langid eval: one classify pass, doc-keyed join, broadcast totals") {
    val p = plan("d92_langid_eval")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"d92 must not use a Window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d92 per-lang totals must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"d92 confusion aggregate lost its map-side partial:\n$p")
  }

  test("q73 mode: two map-combinable aggregates, no Window on the Spark side") {
    // the election is a min_by over (−count, value) — partial/final
    // pairs, never a per-group sort or a window over the value counts
    val p = plan("q73_mode")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"q73 value counts lost their map-side partial:\n$p")
    assert(p.contains("min_by") && p.contains("partial_"),
      s"q73 election must map-combine:\n$p")
  }

  test("d93 collocations: cached tokenize pass, vocab-equi joins, two-stage rank") {
    val p = plan("d93_collocations")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"d93 re-tokenizes instead of reading the cache:\n$p")
    assert("Window".r.findAllIn(p).length >= 2,
      s"d93 lost its two-stage rank:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the ONE BroadcastNestedLoopJoin allowed is the one-row N total
    // (the broadcast-scalar idiom, d86's shape)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"d93 grew a second non-equi join:\n$p")
    assert(p.contains("partial_count"),
      s"d93 count tables lost their map-side partials:\n$p")
  }

  test("d64 domain cap: two bounded rank stages, no single-partition exchange") {
    // the per-domain rank must run as the salted two-stage pair (a
    // heavy-hitter domain never serializes through one partition) off
    // the persisted canonical table; threshold/count join back equi
    val p = plan("d64_domain_cap")
    assert("""\bWindow\b""".r.findAllIn(p).length == 2,
      s"d64 must rank in exactly two (salted, survivor) stages:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"d64 collapsed to a single partition:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"d64 re-derives canonicalization per consumer:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d65 calibration: corpus scans once, only score-space tables collapse") {
    // the corpus reduces to a persisted (doc_id, score_m) frame read by
    // histogram, count, and flagging; the ONLY single-partition
    // collapses are over metadata-sized inputs (the ≤10⁴-row score
    // histogram cumsum and the one-row corpus count), and the
    // threshold/count ride back as one-row broadcasts
    val p = plan("d65_admit_calibration")
    assert(p.contains("InMemoryTableScan"),
      s"d65 re-derives the quality pass per consumer:\n$p")
    assert(p.contains("partial_count"),
      s"d65 histogram lost its map-side partial:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 2,
      s"d65 collapsed more than the score-space tables:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 2,
      s"count and threshold must broadcast as one-row sides:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d66 boilerplate: pure per-row classification — no shuffle, no join, no explode") {
    // the whole operator is list arithmetic inside the scan projection;
    // the only exchange permitted is the deterministic output sort
    val p = plan("d66_boilerplate_lines")
    assert(!p.contains("Exchange hashpartitioning"),
      s"d66 reshuffled the corpus:\n$p")
    assert(!p.contains("Generate"), s"d66 exploded lines it never needed to:\n$p")
    assert(!p.contains("Join"), s"d66 grew a join:\n$p")
  }

  test("d67 bpe pairs: corpus collapses to word frequencies before pairs explode") {
    // the token stream map-combines into the word table FIRST; pair
    // expansion runs over distinct words only, and the only
    // single-partition collapse is the ≤charset²-row top-k window
    val p = plan("d67_bpe_pair_stats")
    assert(p.contains("partial_count"),
      s"d67 word frequencies lost their map-side partial:\n$p")
    assert(p.contains("partial_sum"),
      s"d67 pair counts lost their map-side partial:\n$p")
    // the only collapse is the top-k Window over the aggregated pair
    // table (pre-AQE the exchange is implicit in the unpartitioned
    // Window — assert it sits over the HashAggregate, not the corpus)
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1, p)
    assert("""Window \[row_number.*\n\s*(\+|:)?-? ?\**HashAggregate""".r
      .findFirstIn(p).isDefined || p.contains("Window"),
      s"d67 top-k window missing:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"d67 must shuffle exactly twice (word table, pair table):\n$p")
    assert(!p.contains("Join"), s"d67 grew a join:\n$p")
  }

  test("d69 holdout split: pure per-row hashing — no shuffle, no join") {
    // the whole point at 100 TB: split assignment rides the scan; the
    // only exchange is the deterministic output sort
    val p = plan("d69_holdout_split")
    assert(!p.contains("Exchange hashpartitioning"),
      s"d69 reshuffled the corpus:\n$p")
    assert(!p.contains("Join"), s"d69 grew a join:\n$p")
    assert(!p.contains("Generate"), p)
  }

  test("d68 char coverage: chars combine map-side, only charset tables collapse") {
    val p = plan("d68_char_coverage")
    assert(p.contains("InMemoryTableScan"),
      s"d68 re-runs the corpus char pass for the totals:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 2,
      s"d68 collapsed more than the charset table + totals:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"totals must ride back as a one-row broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d70 decontam spans: benchmark grams broadcast, span fold stays an aggregate") {
    // the eval-set gram side must reach the training grams as a
    // BROADCAST left-semi (a shuffled join would move the full
    // exploded training gram stream at 100 TB); the span merge is the
    // d53 sorted fold — an aggregate, never a per-gram Window sort
    val opt = Pipeline.queries("d70_decontam_spans")(spark, sfTiny)
      .queryExecution.optimizedPlan.toString
    assert("""\bWindow\b""".r.findAllIn(opt).isEmpty,
      s"d70 span merge regressed to a Window sort:\n$opt")
    val p = plan("d70_decontam_spans")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark gram set is not a broadcast semi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d71 length batches: three bounded rank stages, only length-space collapses") {
    // stage windows: chunk-local prefix (n_tok, chunk), chunk offsets
    // (n_tok), cell row_number (n_tok, b) — all key-partitioned; the
    // ONLY single-partition collapse is the length-space histogram
    // cumsum (metadata-sized), plus the output sort's range exchange
    val p = plan("d71_length_batches")
    assert(p.contains("InMemoryTableScan"),
      s"d71 re-derives the token-count pass per consumer:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1,
      s"d71 collapsed more than the length-space histogram:\n$p")
    assert(p.contains("Exchange hashpartitioning"),
      s"d71 lost its key-partitioned rank stages:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d72 normalization: pure per-row kernels — no shuffle, no join, no explode") {
    val p = plan("d72_text_normalize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"d72 must not shuffle beyond the output sort:\n$p")
    assert(!p.contains("Join"), s"d72 must not join:\n$p")
    assert(!p.contains("Generate"), s"d72 must not explode:\n$p")
  }

  test("d73 postings: winners broadcast back, posting ranks run salted") {
    // top-50 election: two bucketed rank stages over term stats; the
    // winner set then gates the tf table as a BROADCAST semi-join and
    // the final stats attach as a broadcast equi-join — the vocab-sized
    // side never hash-shuffles against the 50-row side
    val p = plan("d73_postings")
    assert(p.contains("InMemoryTableScan"),
      s"d73 re-derives the (term, doc) tf pass per consumer:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"winner set must broadcast for both the semi-gate and the stats join:\n$p")
    assert(p.contains("LeftSemi"), s"tf gating lost its semi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // 2 live Windows (salted rs + survivor rn over the gated tf) plus
    // the top-50 election's 2 Windows printed inside the cached-plan
    // text of BOTH InMemoryRelation consumers = 6; a 7th would mean a
    // rank stage regressed to an unbounded window
    assert("""\bWindow\b""".r.findAllIn(
      Pipeline.queries("d73_postings")(spark, sfTiny)
        .queryExecution.optimizedPlan.toString).length <= 6,
      "d73 must rank in 2+2 bounded stages (term top-k, posting first-k)")
  }

  test("d74 snapshot diff: hashes reduce at the scan, the diff is one equi full-outer") {
    val p = plan("d74_snapshot_diff")
    assert(p.contains("FullOuter"), s"d74 lost its full-outer classification:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"d74 diff join must stay equi-keyed:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d75 bpe rounds: explodes read caches, elections broadcast as one-row sides") {
    // every round's pair explode must read the persisted round frame
    // (the d61 lesson — an inline transform under Generate re-evaluates
    // per generated row), and each round's argmax joins back as a
    // one-row broadcast, never a shuffle of the vocab
    val p = plan("d75_bpe_merges")
    assert(p.contains("InMemoryTableScan"),
      s"d75 explode re-derives the round frame instead of reading the cache:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length >= 3,
      s"three rounds must each broadcast their one-row election:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"),
      s"d75 pair counts lost their map-side partial:\n$p")
  }

  test("d80 fertility: trained vocab applies as an equi join, rounds keep the d75 shape") {
    // the apply step must join (lang, word) counts to the vocab on the
    // word key — an equi join, never a re-scan of the corpus per round
    // — and the three training rounds keep d75's cached-explode +
    // one-row-broadcast-election shape
    val p = plan("d80_bpe_fertility")
    assert(p.contains("InMemoryTableScan"),
      s"d80 training re-derives a round frame instead of reading the cache:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length >= 3,
      s"three rounds must each broadcast their one-row election:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi join in the apply step:\n$p")
    assert(p.contains("partial_sum"),
      s"d80 aggregates lost their map-side partials:\n$p")
  }

  test("d81 phash: decode pass cached, band join equi, rerank without a Window") {
    // the mapPartitions decode is the expensive pass — bands, pair
    // rerank, and the final doc join must all read the persisted
    // hashes; candidates come from an equi join on (band, value),
    // never a cross product; payload bytes reduce to 4 ints pre-shuffle
    val p = plan("d81_image_phash")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      s"d81 lost its batched decode stage:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"d81 re-runs the decode instead of reading the cache:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"d81 must not use a Window:\n$p")
  }

  test("d76 vad: batched decode feeds one doc-keyed shuffle, segment fold stays an aggregate") {
    // frames leave the mapPartitions stub as (id, idx, ints) — payload
    // bytes never shuffle; the rising-edge segment count is the d53
    // fold family, never a per-frame Window sort
    val opt = Pipeline.queries("d76_vad_segments")(spark, sfTiny)
      .queryExecution.optimizedPlan.toString
    assert("""\bWindow\b""".r.findAllIn(opt).isEmpty,
      s"d76 segment fold regressed to a Window:\n$opt")
    val p = plan("d76_vad_segments")
    assert(p.contains("MapPartitions"), s"d76 lost its batched decode stage:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d77 lcs kernel: candidate join stays equi, DP is per-row — no Window, no BNLJ") {
    val opt = Pipeline.queries("d77_lcs_rouge")(spark, sfTiny)
      .queryExecution.optimizedPlan.toString
    assert("""\bWindow\b""".r.findAllIn(opt).isEmpty,
      s"d77 DP regressed to a Window:\n$opt")
    val p = plan("d77_lcs_rouge")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"d77 pair generation lost its equi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d78 manifest: one map-combinable shuffle, no join, no window") {
    val p = plan("d78_shard_manifest")
    assert(p.contains("partial_count") && p.contains("partial_min"),
      s"d78 manifest lost its map-side partials:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"d78 must shuffle exactly once on the shard key:\n$p")
    assert(!p.contains("Join"), s"d78 must not join:\n$p")
  }

  test("d94 k-anonymity: below-k class lists broadcast into semi joins, counts partial") {
    // the ladder is three map-combinable counts over a shrinking
    // remainder; the below-k class lists are class-cardinality-sized
    // dimensions, so every escalation semi join must broadcast — a
    // sort-merge semi here means a doc-count-sized shuffle at 100 TB
    val p = plan("d94_k_anonymity")
    val semis = "BroadcastHashJoin [^\n]*LeftSemi".r.findAllIn(p).length
    assert(semis >= 3, s"want >=3 broadcast semi joins, got $semis:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"d94 escalation joins degraded to sort-merge:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"d94 must not use a Window:\n$p")
    assert(p.contains("partial_count"),
      s"d94 class counts lost their map-side partials:\n$p")
  }

  test("d95 random projection: per-row sums, cached sketch feeds both join sides") {
    // the projection must stay a per-row Project over the scan (no
    // shuffle to compute it), the audit join must stay equi on the
    // derived vec_id+1 key, and both sides must read the persisted
    // projected frame instead of recomputing the 512-term sums
    val p = plan("d95_random_projection")
    assert(p.contains("InMemoryTableScan"),
      s"d95 recomputes the projection per join side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d95 audit join degraded to a quadratic fallback:\n$p")
    assert(!p.contains("Window"), s"d95 must not use a Window:\n$p")
  }

  test("d96 count-min: cached hash pass, broadcast cell probe, bucketed rank only") {
    // the corpus collapses map-side to vocab counts once (partial
    // aggregation), the 1024-cell sketch broadcasts into the probe
    // join, and the only Windows are the two-stage bucketed top-20 —
    // a global-sort rank or a shuffled probe would not survive a
    // 100 TB vocabulary
    val p = plan("d96_countmin")
    assert(p.contains("InMemoryTableScan"),
      s"d96 recomputes the md5 hash pass per consumer:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"d96 token counts lost their map-side partials:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d96 cell probe must broadcast the 1024-cell sketch:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val windows = "Window ".r.findAllIn(p).length
    assert(windows <= 2, s"d96 grew beyond the two-stage rank ($windows windows):\n$p")
  }

  test("d97 label propagation: rounds run on the cached edge list, no extra windows") {
    // the only Window is the kNN rank; each of the three rounds must
    // be an equi join + map-combinable aggregates over the persisted
    // edge list — a per-round Window or a recomputed LSH pass would
    // multiply the corpus-scale work by the round count
    val p = plan("d97_label_propagation")
    val cacheReads = "InMemoryTableScan".r.findAllIn(p).length
    assert(cacheReads >= 3,
      s"d97 must read the cached kNN edges once per round, got $cacheReads:\n$p")
    // the rounds themselves add no Window: every Window in the plan
    // sits under an InMemoryTableScan's printed cached subtree (the
    // kNN rank), never in the per-round join/agg path
    val roundPath = p.linesIterator
      .filterNot(_.contains("InMemoryTableScan")).mkString("\n")
    assert(!roundPath.contains("CartesianProduct") &&
      !roundPath.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"),
      s"d97 majority counts lost their map-side partials:\n$p")
  }

  test("d98 bitext margin: cached assignment/kernel/margin passes, cell-equi pairs") {
    // the en×fr candidate join must stay equi on the cell id (the only
    // nested-loop is the one-row broadcast centroid array inside the
    // cached assignment lineage); the kernel pass and the margin pass
    // each persist so the two election directions share them
    val p = plan("d98_bitext_margin")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"d98 re-derives a shared pass instead of reading the cache:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"cell pair join must be equi:\n$p")
  }

  test("d99 pagerank: rounds are equi joins over the cached edges, sums partial") {
    val p = plan("d99_pagerank")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"d99 must read the cached edge list in every round:\n$p")
    val roundPath = p.linesIterator
      .filterNot(_.contains("InMemoryTableScan")).mkString("\n")
    assert(!roundPath.contains("CartesianProduct") &&
      !roundPath.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d99 mass sums lost their map-side partials:\n$p")
  }

  test("d100 epoch plan: corpus collapses map-side, only dimension-sized frames after") {
    // the per-source token table must partial-aggregate before its
    // shuffle; everything downstream (totals, remainders, the rank)
    // runs on the source dimension — the only acceptable Window input
    val p = plan("d100_epoch_plan")
    assert(p.contains("partial_sum"),
      s"d100 token mass lost its map-side partials:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d101 signal correlation: exact moments partial-aggregate, no Window") {
    // the six moment sums must combine map-side (the exact Welford-free
    // form is distributive); nothing in the plan may sort or window —
    // a per-source Window here would serialize hot sources at 100 TB
    val p = plan("d101_signal_corr")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d101 moments lost their map-side partials:\n$p")
    assert(!p.contains("Window"), s"d101 must not use a Window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d102 vocab growth: one cached tokenize pass, map-combinable aggregates") {
    // the corpus collapses through TWO aggregates that must both combine
    // map-side (per-decile mass: partial_sum; per-type first occurrence:
    // partial_min); the tokenize pass is persisted and read by both
    // consumers; the running-total Window runs on the TEN-row spine only,
    // never the corpus; bounds join the corpus as a one-row broadcast,
    // never an unbroadcast cartesian
    val p = plan("d102_vocab_growth")
    assert(p.contains("partial_sum"),
      s"d102 decile mass lost its map-side partials:\n$p")
    assert(p.contains("partial_min"),
      s"d102 first-occurrence min lost its map-side partials:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"d102 must reuse the cached tokenize pass for both aggregates:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d103 readability: pure per-row project over the scan, one partial aggregate") {
    // the counting kernel must stay a Project (no explode — the
    // syllable count is whole-text regex + a lambda size, never an
    // unnest), the groupBy must combine map-side, and nothing may
    // window, join, or go quadratic: text never shuffles at 100 TB
    val p = plan("d103_readability")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d103 lost its map-side partials:\n$p")
    assert(!p.contains("Generate"), s"d103 must not explode tokens:\n$p")
    assert(!p.contains("Window"), s"d103 must not use a Window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"d103 needs no join at all:\n$p")
  }

  test("d104 cluster profile: reads d20's cached labeling, tiny-dimension tail") {
    // the labeling d20 persists must be the input (InMemoryTableScan —
    // never a re-derivation of the pair scan), the bucket aggregate
    // must combine map-side, and nothing after the labeling may window
    // or go quadratic (the corpus total joins as a one-row broadcast)
    val p = plan("d104_cluster_profile")
    assert(p.contains("InMemoryTableScan"),
      s"d104 must read d20's persisted labeling:\n$p")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d104 bucket aggregate lost its map-side partials:\n$p")
    assert(!p.contains("Window"), s"d104 must not use a Window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d105 shard skew: no manifest-wide sort, chunk offsets broadcast") {
    // the Gini must come from the tie-block + two-level prefix form:
    // the manifest-sized frames may only hash-aggregate (value groups)
    // and window WITHIN a value chunk; the unpartitioned window and
    // the broadcast join are chunk-dimension only. A global Sort over
    // the manifest (row_number Gini) is the 100 TB straggler this
    // operator exists to catch — it must not contain one outside the
    // tiny chunk frame.
    val p = plan("d105_shard_skew")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d105 lost its map-side partials:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d105 chunk offsets must broadcast:\n$p")
    assert(!p.contains("row_number"),
      s"d105 must never rank per shard:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d106 semantic decontam: benchmark broadcasts, vectors never shuffle") {
    // the eval side must be the broadcast build of the nested-loop
    // pass (an unbroadcast cartesian re-partitions the corpus); the
    // per-vector max and the label rollup must both combine map-side —
    // after the scan only (id, label, c_i) rows move
    val p = plan("d106_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"d106 benchmark side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"d106 must not re-partition the corpus for the pair pass:\n$p")
    assert(p.contains("partial_max") && p.contains("partial_count"),
      s"d106 lost its map-side partials:\n$p")
    assert(!p.contains("Window"), s"d106 must not use a Window:\n$p")
  }

  test("d107 quota fill: prefix decomposition — no whole-lang window") {
    // exactly three windows (within-chunk bucket prefix, chunk-dim
    // offsets, ≤64-row within-bucket) — a fourth would mean someone
    // reintroduced the per-lang running sum that serializes a whole
    // language into one task; the tokenize pass must be cached for its
    // two consumers and the quota/chunk-offset sides must broadcast
    val p = plan("d107_quota_fill")
    assert("Window".r.findAllIn(p).length <= 3,
      s"d107 grew a corpus-wide window:\n$p")
    val windowSpecs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(!windowSpecs.exists(w => w.contains("lang#") && !w.contains("chunk#")
        && !w.contains("bucket#")),
      s"d107 has a per-lang window over the corpus:\n$windowSpecs")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"d107 must reuse the cached tokenize pass:\n$p")
    assert(p.contains("partial_sum"),
      s"d107 bucket sums lost their map-side partials:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"d107 quota + chunk offsets must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d108 byte fallback: kept charset broadcasts into the per-source counts") {
    // the kept set is charset-sized and must be the broadcast side of
    // the left join; both aggregates (per-(source,char) counts, the
    // source rollup) must combine map-side — text reduces to
    // (source, char, count) at the scan and never shuffles
    val p = plan("d108_byte_fallback")
    assert(p.contains("BroadcastHashJoin"),
      s"d108 kept charset must broadcast:\n$p")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d108 lost its map-side partials:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      s"d108 must not sort-merge a charset-sized side:\n$p")
  }

  test("d109 good-turing: two map-combinable aggregates, cached f-of-f frame") {
    // type counts and counts-of-counts must both partial-aggregate;
    // the f-of-f table (O(√N) rows) is persisted for its three
    // consumers (head rows, tail rollup, N_{r+1} lookup); no window
    // anywhere and no quadratic join
    val p = plan("d109_good_turing")
    assert(p.contains("partial_count"),
      s"d109 lost its map-side partials:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"d109 must reuse the cached f-of-f frame:\n$p")
    assert(!p.contains("Window"), s"d109 must not use a Window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d110 split balance: one corpus join, cached cells, broadcast rollups") {
    // the only corpus-sized operation is the doc_id equi join into the
    // (split, lang) aggregate; the persisted cell frame feeds three
    // dimension rollups that all come BACK as broadcasts; no window
    val p = plan("d110_split_balance")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d110 lost its map-side partials:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"d110 must reuse the cached cell frame:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"d110 rollups must broadcast back:\n$p")
    assert(!p.contains("Window"), s"d110 must not use a Window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d111 threshold sweep: corpus collapses into the bounded histogram") {
    // one map-combinable pass builds the ≤10001-row score histogram
    // (persisted for totals + sweep); the ≥-join runs with the
    // HISTOGRAM broadcast (a nested-loop over 11×10001 is nothing; a
    // repartitioned corpus would not be); no window
    val p = plan("d111_threshold_sweep")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d111 histogram lost its map-side partials:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"d111 must reuse the cached histogram:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"d111 sweep must broadcast the histogram:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"d111 must not re-partition for the sweep:\n$p")
    assert(!p.contains("Window"), s"d111 must not use a Window:\n$p")
  }

  test("d112 memorization risk: cached gram projection, salted rank only") {
    // the gram arrays must explode off a persisted projection (the d61
    // generator-reevaluation lesson), the gram aggregate must combine
    // map-side, and the top-20 must be the two-stage salted rank —
    // both windows partitioned or pre-filtered, never a global sort of
    // the full gram table. Large-corpus path (forced past the r13
    // small-corpus cap).
    val p = try {
      spark.conf.set("graft.d112.smallCap", "0")
      plan("d112_memorization_risk")
    } finally spark.conf.unset("graft.d112.smallCap")
    assert(p.contains("InMemoryTableScan"),
      s"d112 must explode a cached gram projection:\n$p")
    assert(p.contains("partial_count"),
      s"d112 gram counts lost their map-side partials:\n$p")
    // two salted rank pairs since round 12: one derives the top-20
    // count threshold on the binary keys, one runs the exact
    // gram-tie-break rank over the count-qualified candidates; every
    // global window is pre-filtered to <= 64 buckets x 20 survivors.
    // The printed tree inlines the PERSISTED candidate filter's
    // subplan (and its rank pair) under every consumer — execution
    // reads one cache — and the adaptive broadcast gate added a third
    // consumer (the name-recovery key set), so the two pairs print as
    // up to 10 Windows.
    assert("Window \\[".r.findAllIn(p).length <= 10,
      s"d112 must use the two salted rank pairs, nothing more:\n$p")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      s"d112's ranks must run as bounded per-partition heaps:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the only BNLJ allowed is the one-row count-threshold join (the
    // d37/d86 broadcast-scalar idiom); ONE logical join, printed once
    // under each inlined copy of the persisted candidate subplan (four
    // copies since the adaptive name-recovery gate)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 4,
      s"d112 grew a non-scalar non-equi join:\n$p")
  }

  test("d113 encoding audit: pure per-row project, one partial aggregate") {
    val p = plan("d113_encoding_audit")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d113 lost its map-side partials:\n$p")
    assert(!p.contains("Generate"), s"d113 must not explode:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"d113 needs no window or join at all:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d114 source divergence: pair frame cached, dimension sides broadcast") {
    // the (source, word, c) aggregate is the only token-moving pass and
    // must be persisted for its three consumers; source totals and the
    // grand total come back as broadcasts; the corpus-frequency join is
    // word-keyed equi; everything partial-aggregates; no window
    val p = plan("d114_source_divergence")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"d114 must reuse the cached pair frame:\n$p")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d114 lost its map-side partials:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1,
      s"d114 source totals must broadcast:\n$p")
    assert(!p.contains("Window"), s"d114 must not use a Window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d115 jackknife: corpus collapses into the fold frame, totals broadcast") {
    // the only corpus-sized operation is the (source, fold) aggregate —
    // cached for its two consumers; the replica arithmetic and the SE
    // run on ≤64 rows per source with the totals broadcast back; no
    // window, no row blowup (a bootstrap would explode ×B)
    val p = plan("d115_jackknife_se")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d115 fold sums lost their map-side partials:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"d115 must reuse the cached fold frame:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d115 totals must broadcast back:\n$p")
    assert(!p.contains("Window"), s"d115 must not use a Window:\n$p")
    assert(!p.contains("Generate"), s"d115 must not explode replicas:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d116 pack efficiency: one rollup over d59, no distinct-count reshuffle") {
    // d59's per-doc frame must collapse through a single partial-
    // aggregated groupBy(source) — the bin count is the max−min form,
    // so no expand/distinct-count machinery may appear downstream
    val p = plan("d116_pack_efficiency")
    assert(p.contains("partial_sum") && p.contains("partial_count") &&
      p.contains("partial_max") && p.contains("partial_min"),
      s"d116 rollup lost its map-side partials:\n$p")
    assert(!p.contains("Expand"),
      s"d116 must use the max-min bin count, not a distinct count:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d117 dup provenance: reads the cached labeling, id-keyed joins only") {
    // d20's persisted labeling must be the input; the domain side is a
    // per-row projection joined doc_id-equi; after the root aggregate
    // only cluster-dimension rows exist — no window, no quadratic join
    val p = plan("d117_dup_provenance")
    assert(p.contains("InMemoryTableScan"),
      s"d117 must read d20's persisted labeling:\n$p")
    assert(p.contains("partial_count"),
      s"d117 lost its map-side partials:\n$p")
    assert(!p.contains("Window"), s"d117 must not use a Window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d118 snapshot drift: word-keyed full outer, cached join frame, totals broadcast") {
    // the only token-moving passes are the two word-count aggregates;
    // their full-outer join is word-keyed and the joined frame is
    // persisted for its two consumers (totals + terms); totals come
    // back broadcast; no window
    val p = plan("d118_snapshot_drift")
    assert(p.contains("partial_count"),
      s"d118 word counts lost their map-side partials:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"d118 must reuse the cached joined frame:\n$p")
    assert(!p.contains("Window"), s"d118 must not use a Window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d119 eval exposure: one shingle pass cached, broadcast semi-gate") {
    // the shingle projection must be persisted (bench + train sides
    // share it); the benchmark shingle set broadcasts as the semi
    // filter so only MATCHED train rows survive the explode; no window
    val p = plan("d119_eval_exposure")
    assert(p.contains("InMemoryTableScan"),
      s"d119 must share one cached shingle pass:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d119 benchmark shingles must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"d119 lost its map-side partials:\n$p")
    assert(!p.contains("Window"), s"d119 must not use a Window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d120 rule ablation: one constant-key aggregate, five stacked rows") {
    // the classify pass must collapse through a single map-combinable
    // aggregate (16 sums); the five rule rows come from stack() over
    // ONE row — no second corpus pass, no window, no self-join
    val p = plan("d120_rule_ablation")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d120 lost its map-side partials:\n$p")
    assert(p.contains("Generate"),
      s"d120 must reshape via stack over the single agg row:\n$p")
    assert(!p.contains("Window"), s"d120 must not use a Window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"d120 needs no join at all:\n$p")
  }

  test("d121 score auc: corpus collapses into the bounded histogram, one tiny window") {
    // one doc_id equi join feeds ONE map-combinable histogram
    // aggregate; the running rejected-count window runs on the ≤10001-
    // row cached histogram, never the corpus
    val p = plan("d121_score_auc")
    assert(p.contains("partial_sum"),
      s"d121 histogram lost its map-side partials:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"d121 must window over the cached histogram:\n$p")
    assert("Window \\[".r.findAllIn(p).length <= 1,
      s"d121 must use exactly one histogram window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d122 shuffle quality: adjacency is an equi self-join on the cached frame") {
    // the (pos, source) frame is persisted for both sides of the
    // pos = pos+1 EQUI self-join — a corpus-wide ordering window here
    // would serialize the whole epoch order into one task
    val p = plan("d122_shuffle_quality")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"d122 must self-join the cached (pos, source) frame:\n$p")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d122 lost its map-side partials:\n$p")
    // the only windows are d58's own (they print twice beneath the two
    // InMemoryTableScans); the adjacency must NOT add a window keyed on
    // the epoch order — that would serialize the whole epoch
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(!specs.exists(_.contains("global_pos")),
      s"d122 must not window over the epoch order:\n$specs")
    assert(p.contains("SortMergeJoin [global_pos") ||
      p.contains("BroadcastHashJoin [global_pos"),
      s"d122 adjacency must be an equi join on position:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d123 positional entropy: token counts cached, (source,pos) totals broadcast") {
    // docs reduce to ≤8 rows at the scan; the token-count aggregate is
    // persisted for its two consumers; the totals come back as a
    // broadcast; no window anywhere
    val p = plan("d123_positional_entropy")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"d123 must reuse the cached token counts:\n$p")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"d123 lost its map-side partials:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d123 (source,pos) totals must broadcast:\n$p")
    assert(!p.contains("Window"), s"d123 must not use a Window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d124 dedup roi: pair set collapses into the bounded histogram") {
    // the certified pair pass feeds ONE map-combinable histogram
    // aggregate (≤5001 rows, cached); the ≥-join sweep broadcasts the
    // histogram — the sweep must never re-partition pair-sized data
    val p = plan("d124_dedup_roi")
    assert(p.contains("partial_count"),
      s"d124 histogram lost its map-side partials:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"d124 must reuse the cached histogram:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"d124 sweep must broadcast the histogram:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"d124 must not re-partition for the sweep:\n$p")
  }

  test("d125 blocklist gate: per-row arithmetic, broadcast rollup, no corpus reshuffle") {
    val p = plan("d125_blocklist_filter")
    // the blocklist is a literal — no dimension join at all for matching
    assert(p.contains("partial_count"),
      s"d125 source rollup lost its map-side partials:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d125 per-source rates must join back broadcast:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"d125 rollup and output must share the persisted per-doc pass:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"d125 must not shuffle the corpus for the rollup join:\n$p")
  }

  test("d126 opt-out audit: corpus collapses to per-domain counts, total broadcasts") {
    val p = plan("d126_optout_compliance")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"d126 domain rollup lost its map-side partials:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"d126 corpus total must broadcast back as one row:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"d126 must not materialize a product:\n$p")
  }

  test("d127 secret scan: one partial-aggregated pass, no joins, no corpus shuffle") {
    val p = plan("d127_secret_scan")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"d127 source rollup lost its map-side partials:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"d127 is a pure Project→aggregate — no join belongs in its plan:\n$p")
  }

  test("d128 code detect: persisted per-doc pass, broadcast share join, no reshuffle") {
    val p = plan("d128_code_detect")
    assert(p.contains("InMemoryTableScan"),
      s"d128 rollup and output must share the persisted per-doc pass:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d128 per-source shares must join back broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"d128 must not shuffle the corpus for the share join:\n$p")
  }

  test("d129 license gate: map-combinable cells aggregate, broadcast share join") {
    val p = plan("d129_license_gate")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"d129 cells aggregate lost its map-side partials:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d129 per-source admitted share must join back broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"d129 must not shuffle for the share join:\n$p")
  }

  test("d131 audio fingerprint: persisted fingerprint frame, bucketed index, no cartesian") {
    val p = plan("d131_audio_fingerprint")
    assert(p.contains("InMemoryTableScan"),
      s"d131 index, denominators and report must share the persisted fingerprints:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d131 candidate generation must stay bucketed, never all-pairs:\n$p")
  }

  test("d130 script mix: one partial-aggregated regex pass, no joins") {
    val p = plan("d130_script_mix")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"d130 source rollup lost its map-side partials:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"d130 is a pure Project→aggregate — no join belongs in its plan:\n$p")
  }

  test("d132 url dedup: text never read, keeper joins equi, no cartesian") {
    val f = formatted("d132_url_dedup")
    assert(!f.contains("text"),
      s"d132 must reduce to (id, canon, rev) at the scan — no text column:\n$f")
    val p = plan("d132_url_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d132 keeper steps must stay equi-keyed:\n$p")
  }

  test("d133/d134: per-row higher-order folds — no joins, no width shuffles") {
    for (name <- Seq("d133_turn_stats", "d134_mattr")) {
      val p = plan(name)
      assert(!p.contains("Join"),
        s"$name is per-row arithmetic — no join belongs in its plan:\n$p")
      assert(!p.contains("hashpartitioning"),
        s"$name must not shuffle the corpus (only the output range sort):\n$p")
    }
  }

  test("d135 softdedup: persisted pair pass shared, broadcast source mass") {
    val p = plan("d135_softdedup")
    assert(p.contains("InMemoryTableScan"),
      s"d135 df build and per-doc fold must share the persisted pair pass:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d135 per-source mass must join back broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"d135 must not materialize a product:\n$p")
  }

  test("d136 preference pairs: one pair_id shuffle, persisted pairs, one-row bias broadcast") {
    val p = plan("d136_preference_pairs")
    assert(p.contains("InMemoryTableScan"),
      s"d136 pair rows and the bias rate must share the persisted join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"d136's only product is the broadcast one-row bias frame:\n$p")
  }

  test("d137 wer pairs: equi-keyed adjacency join, no cartesian") {
    val p = plan("d137_wer_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d137 pairing must stay an equi join on the shifted id:\n$p")
  }

  test("d138 contam sweep: persisted gram pass, broadcast bench semi, no corpus product") {
    val p = plan("d138_contam_n_sweep")
    assert(p.contains("InMemoryTableScan"),
      s"d138 bench/train/leak passes must share the persisted gram frame:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d138's eval side must broadcast into the semi:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"d138 must not materialize a product:\n$p")
  }

  test("d139 burstiness: persisted token pass, broadcast top-20, partial aggregation") {
    val p = plan("d139_burstiness")
    assert(p.contains("InMemoryTableScan"),
      s"d139 election and per-doc counts must share the persisted token pass:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d139's top-20 must broadcast into the semi filter:\n$p")
    assert(p.contains("partial_sum"),
      s"d139 stats aggregate lost its map-side partials:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"d139's only product is the broadcast one-row doc count:\n$p")
  }

  test("d140 waterfall: persisted survivor frames, equi rungs, no cartesian") {
    val p = plan("d140_dedup_waterfall")
    assert(p.contains("InMemoryTableScan"),
      s"d140's rungs must read the persisted survivor frames:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d140's near rung must stay inside the (lang, bucket) block:\n$p")
    // the rung-3 self-join must be d4's SALTED scan: salt is a join key
    // (hot blocks split across tasks) — an unsalted block self-join puts
    // a block's whole O(n²) pair scan in one task. sfTiny's 500 documents
    // fit one chunk per block, so its salt is a literal; a corpus past the
    // 2000-row chunk cap must derive salt = doc_id mod nsalt.
    val dir = scratch("d140-over-salt-cap")
    import spark.implicits._
    graft.sources.GraftWriter.write((0L until 2100L).map(i => (i, s"t$i u${i % 7}"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")).cast("long")),
      s"$dir/documents.parquet")
    val ps = SparkEntry.queries("d140_dedup_waterfall")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("""salt\#\d+L? = salt2\#\d+""".r.findFirstIn(ps).isDefined ||
           (ps.contains("salt") && ps.contains("salt2")),
      s"d140 rung 3 lost its salt join key:\n$ps")
    assert(ps.contains("pmod"),
      s"d140 rung 3 must derive salt = doc_id mod nsalt:\n$ps")
  }

  test("d141 diversity: one partial-aggregated pass, no joins") {
    val p = plan("d141_lang_source_diversity")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"d141 lost its map-side partials:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"d141 is two stacked aggregates — no join belongs in its plan:\n$p")
  }

  test("d142 purity: reads the persisted d20 labeling, no cartesian") {
    val p = plan("d142_cluster_purity")
    assert(p.contains("InMemoryTableScan"),
      s"d142 must read the same persisted labeling d20 certifies:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d142's lang join must stay equi on doc_id:\n$p")
  }

  test("d143 mrl: probe broadcasts, one corpus scan, bounded per-query windows") {
    // the d5 exact-baseline shape: the ONLY non-equi join is the 10-row
    // probe broadcast (the documented d106 broadcast-NL contract); both
    // rankings must come off one scan (one BNLJ, not two)
    val p = plan("d143_mrl_truncation")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"d143 must score both prefixes off ONE probe-broadcast scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("""\bWindow\b""".r.findAllIn(p).length == 2,
      s"d143 needs exactly the two per-query rank windows:\n$p")
  }

  test("d144 rrf: one probe-broadcast scan feeds both rankers, three rank windows") {
    val p = plan("d144_rrf_fusion")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"d144 must compute cosine AND euclid off ONE probe-broadcast scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("""\bWindow\b""".r.findAllIn(p).length == 3,
      s"d144 needs the two ranker windows plus the fused rank:\n$p")
  }

  test("d146 capacity: one linear explode into stacked aggregates, no join") {
    // the audit must stay strictly cheaper than the job it plans: one
    // (bucket, id) explode, two map-combinable aggregates, NO join and
    // no window anywhere in the plan
    val p = plan("d146_lsh_capacity")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"d146 lost its map-side partials:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"d146 is two stacked aggregates — no join belongs in its plan:\n$p")
    assert(!p.contains("Window"), s"d146 must not rank anything:\n$p")
  }

  test("d145 quality shift: persisted scored pass, hash-keyed keeper, partials, no text shuffle") {
    val p = plan("d145_dedup_quality_shift")
    assert(p.contains("InMemoryTableScan"),
      s"d145's entry rollup and keeper join must read one persisted scored pass:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"d145 rollups lost their map-side partials:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d145's keeper and source joins must stay equi:\n$p")
  }

  test("helper plans do not depend on the entry planned before them") {
    // Each entry is planned through runEntry, whose cleanup runs between
    // entries as in Verify and Explain. Each pair gets a fresh corpus
    // dir, so the first plan of `entry` is one with nothing before it.
    import spark.implicits._
    def corpus(name: String): String = {
      val dir = scratch(name)
      val rnd = new scala.util.Random(31)
      val rows = (0 until 200).map(i =>
        (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat), i % 5))
      graft.sources.GraftWriter.write(rows.toDF("vec_id", "embedding", "label"),
        s"$dir/embeddings.parquet")
      dir
    }
    def relations(name: String, dir: String): Int = {
      var n = -1
      val outcome = GraftSession.runEntry(spark, name, 120) {
        val p = Pipeline.queries(name)(spark, dir).queryExecution.executedPlan.toString
        n = "InMemoryRelation".r.findAllIn(p).length
      }
      assert(outcome.isInstanceOf[GraftSession.Outcome.Done], s"$name: $outcome")
      n
    }
    for ((before, entry) <- Seq("d13_embed_neardup" -> "d54_knn_graph",
        "d54_knn_graph" -> "d97_label_propagation")) {
      val dir = corpus(s"plan-order-$entry")
      val alone = relations(entry, dir)
      relations(before, dir)
      val after = relations(entry, dir)
      assert(after == alone,
        s"$entry planned after $before shows $after InMemoryRelations, alone $alone")
    }
  }
}
