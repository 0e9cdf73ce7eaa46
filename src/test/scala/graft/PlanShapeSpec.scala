package graft

import org.apache.spark.sql.DataFrame

/** Scale-property assertions on the PHYSICAL plans of headline queries —
  * the "is this the plan you'd want at 100 TB" checks: rank-limit pushdown,
  * top-k without a global sort, broadcast choices, map-side partial
  * aggregation, parquet predicate pushdown. A regression here doesn't flip
  * results, it flips the scaling curve — which is why it's asserted, not
  * just eyeballed in ExplainAudit.
  */
class PlanShapeSpec extends SparkTestBase {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q_window_topk: rank filter becomes a WindowGroupLimit (no full sort-then-filter)") {
    // Spark 3.5+ InferWindowGroupLimit: rn<=3 over row_number pushes a
    // per-group limit below the window — partitions keep only k+ rows.
    assert(plan("q_window_topk").contains("WindowGroupLimit"))
  }

  test("q_sort_multikey: global sort+limit plans as TakeOrderedAndProject") {
    // per-partition top-100 then a 100-row merge — not a range-partitioned
    // full sort of the table
    assert(plan("q_sort_multikey").contains("TakeOrderedAndProject"))
  }

  test("q_zorder: top-100 by Morton key is TakeOrderedAndProject, key stays codegen'd") {
    val p = plan("q_zorder")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF"))
  }

  test("d_token_freq: vocabulary top-k avoids a global-window rank over the full vocab") {
    assert(plan("d_token_freq").contains("TakeOrderedAndProject"))
  }

  test("q_star_join: dimension sides broadcast, no shuffle for nation/region") {
    val p = plan("q_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("q_agg_pricing: aggregation is two-phase (map-side partial + final)") {
    val p = plan("q_agg_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("e_ann_ivf_incremental: probe side broadcasts; the index never " +
      "re-shuffles for the probe join") {
    // the probe joins centroid_id cell-to-cell: the (query × nprobe)-sized
    // probe list must be the broadcast side, the corpus-sized index the
    // streamed side — a shuffled (sort-merge) probe join would re-shuffle
    // the 100TB side per query batch
    val p = plan("e_ann_ivf_incremental")
    assert(p.contains("BroadcastHashJoin"),
      "probe join is not broadcast:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "index side got sort-merge-joined:\n" + p.take(2000))
  }

  test("q_first_last: supplier predicate is pushed into the parquet scan") {
    val p = plan("q_first_last")
    assert(p.contains("PushedFilters") && p.contains("LessThan(l_suppkey,20)"))
  }

  test("e_ann_brute: query-side vec_id filter reaches the scan") {
    assert(plan("e_ann_brute").contains("LessThan(vec_id,5)"))
  }

  test("q_prefix_filter: LIKE 'PROMO%' pushes to the scan as StringStartsWith") {
    assert(plan("q_prefix_filter").contains("StringStartsWith(p_type,PROMO)"))
  }

  test("d_decontaminate: the eval-set fingerprint joins as a broadcast (corpus never shuffles for it)") {
    assert(plan("d_decontaminate").contains("BroadcastHashJoin"))
  }

  test("q_bloom_join: runtime bloom pruning is in the plan") {
    val p = plan("q_bloom_join")
    assert(p.contains("might_contain") || p.contains("bloom_filter"))
  }

  test("q_exists_subquery: EXISTS/NOT EXISTS decorrelate to semi + anti joins") {
    // no per-row subquery execution — one pass over orders per predicate,
    // planned as joins Catalyst can broadcast/shuffle like any other
    val p = plan("q_exists_subquery")
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
  }

  test("q_scalar_subquery: correlated scalars decorrelate to aggregate-then-join") {
    // both scalar subqueries fold into pre-aggregated join sides; a
    // correlated re-execution per customer row would show as a subquery
    // node instead of plain joins
    val p = plan("q_scalar_subquery")
    assert(!p.contains("Subquery"), s"undecorrelated subquery in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q_gap_fill: per-key spine explode, no cartesian calendar join") {
    val p = plan("q_gap_fill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"calendar cross join in:\n$p")
    assert(p.contains("Generate"), s"no explode in:\n$p")
  }

  test("q_funnel: ONE data shuffle (the per-user fold), not k staged join passes") {
    // the sort+fold funnel's whole point: exactly one exchange over the
    // events (plus the single-partition exchange for the final ORDER BY of
    // 5 stage rows). k self-joins would show k+ exchanges.
    val p = plan("q_funnel")
    val exchanges = "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
      .findAllIn(p).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 2,
      s"expected exactly 2 hash exchanges (user fold + stage agg), got:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"funnel must not plan joins:\n$p")
  }

  test("q_interval_merge + d_scd2: both windows and the final agg reuse ONE user shuffle") {
    for (q <- Seq("q_interval_merge", "d_scd2")) {
      val p = plan(q)
      val hashEx = "Exchange hashpartitioning\\(([^,]+)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(hashEx.size == 1,
        s"$q: expected one hash exchange (user_id), got $hashEx in:\n$p")
    }
  }

  test("d_dedup_ngram_cross: dup-set probe is a broadcast semi join, not a second corpus shuffle") {
    val p = plan("d_dedup_ngram_cross")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"no broadcast semi probe in:\n$p")
  }

  test("d_winsorize: per-lang bounds re-attach by broadcast (doc table never re-shuffles)") {
    assert(plan("d_winsorize").contains("BroadcastHashJoin"))
  }

  test("d_dedup_fuzzy: blocking passes plan as equi joins — never a " +
      "cartesian/nested-loop product over the corpus") {
    val p = plan("d_dedup_fuzzy")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy blocking degenerated to a product join:\n$p")
    assert(p.contains("Join"), s"blocking joins missing entirely:\n$p")
  }

  test("d_split_train_eval: split assignment is map-only; the leak check " +
      "shuffles digests once (plus the broadcast-able leak-set re-attach)") {
    val p = plan("d_split_train_eval")
    val hashEx = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    // shuffles keyed only by the md5 digest or the final split agg —
    // never by doc text
    assert(hashEx.nonEmpty && hashEx.forall(c => c == "h" || c == "split"),
      s"unexpected shuffle keys $hashEx in:\n$p")
  }

  test("d_sample_bottomk: the custom aggregate partial-aggregates below " +
      "the exchange (buffers shuffle, not rows)") {
    val p = plan("d_sample_bottomk")
    assert(p.contains("bottomk_by_hash"), s"custom agg missing:\n$p")
    assert(p.toLowerCase.contains("partial_bottomk_by_hash"),
      s"no partial phase — rows would shuffle raw:\n$p")
  }

  test("q_asof_sliced: the skew path still plans the native merge exec — " +
      "no cartesian, no nested-loop, no window fallback") {
    val p = plan("q_asof_sliced")
    assert(p.contains("AsOfJoin ["), s"native exec missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"product join leaked:\n$p")
    // the boundary-handoff window runs over ONE ROW PER KEY-SLICE (the
    // lastPerSlice aggregate), never the fact rows: a Window is fine, a
    // Window directly over the unaggregated right scan is not — pin that
    // the carry window's input went through the per-slice aggregate
    assert(p.contains("max_by"), s"per-slice last aggregate missing:\n$p")
  }

  test("d_quantile_sketch: approx and exact anchors compute in ONE " +
      "aggregation pass (no second scan of lineitem)") {
    val p = plan("d_quantile_sketch")
    val scans = "Scan parquet".r.findAllMatchIn(p).length
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$p")
  }

  test("d_bm25: df and corpus stats BROADCAST (corpus-sized work is the " +
      "tokenize pass; only query-term hits ride the tf shuffle)") {
    val p = plan("d_bm25")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1 &&
      p.contains("BroadcastNestedLoopJoin"), // the 1-row stats cross join
      s"broadcast sides missing:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must not global-sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
  }

  test("d_sample_stratified_rates: map-only sampling predicate, one exchange " +
      "for the per-stratum aggregate") {
    val p = plan("d_sample_stratified_rates")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"per-stratum aggregate must partial-aggregate:\n$p")
    // the tree prints top-down, so everything BELOW the partial aggregate
    // (filter, scan) follows it in the string — no Exchange may appear
    // there: the sampling predicate runs map-side on the scan
    val below = p.split("partial_count", 2).last
    assert(!below.contains("Exchange"),
      s"sampling shuffled rows before the partial aggregate:\n$p")
  }

  test("e_ann_quant: both rank cuts prune per-partition (WindowGroupLimit) " +
      "and the finalist float fetch is a broadcast equi-join") {
    val p = plan("e_ann_quant")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
    // coarse crank<=20 and final rank<=5 both push a group limit below
    // the window — partitions keep k+ rows, not the full corpus scoring
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"rank cuts must prune per-partition:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"finalist fetch must broadcast the candidate side:\n$p")
  }

  test("e_mmr_diversify: candidate top-8 prunes per-partition; the greedy " +
      "stage adds at most one more hash exchange") {
    val p = plan("e_mmr_diversify")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"candidate cut must prune per-partition:\n$p")
    // map-only quantize → broadcast probe join → ONE hash exchange for
    // the window, ONE for groupByKey, ONE range exchange for the final
    // orderBy — anything more means the candidate stage shuffles twice
    // (BroadcastExchange is not a shuffle; count only the partitioned ones)
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    // >= 1 keeps the pin from passing vacuously if a Spark upgrade ever
    // renames the exchange node text (the final orderBy guarantees one)
    assert(exchanges >= 1 && exchanges <= 3,
      s"$exchanges shuffles (expected 1..3):\n$p")
  }

  test("d_dedup_incremental: equi-joins only (the banded join contract), " +
      "and the probe never recomputes index signatures") {
    val p = plan("d_dedup_incremental")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"product join leaked:\n$p")
    // the only minhash kernel evaluations are the batch side's (staged
    // behind localCheckpoint before this plan) — the probe plan itself
    // must contain none
    assert(!p.toLowerCase.contains("minhash_sig"),
      s"index signatures recomputed in the probe:\n$p")
  }

  test("d_substr_dedup: corpus-sized shuffles are int-keyed (window hash " +
      "/ doc_id); gram TEXT is shuffle-keyed only in the candidate-" +
      "restricted verification stages") {
    val p = plan("d_substr_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"product join leaked:\n$p")
    // the L× window blowup must ride int-only exchanges: at least one
    // exchange keyed by the xxhash64 column alone
    assert("hashpartitioning\\(h#\\d+L, \\d+\\)".r.findAllIn(p).nonEmpty,
      s"no int-only hash-stage exchange:\n$p")
    // gram-text-keyed exchanges exist (verification is real) but stay
    // bounded — they carry candidates, not the corpus windows
    val gramKeyed = "hashpartitioning\\([^)]*gram#".r.findAllIn(p).size
    assert(gramKeyed >= 1 && gramKeyed <= 4,
      s"$gramKeyed gram-keyed exchanges (expected 1..4):\n$p")
  }

  test("d_merge_cdc: the merge is ONE full-outer equi join — no product " +
      "join, payloads travel as structs") {
    val p = plan("d_merge_cdc")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"product join leaked:\n$p")
    assert(p.contains("FullOuter"), s"full-outer join missing:\n$p")
    // two input shuffles + the final range exchange for orderBy
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(exchanges >= 1 && exchanges <= 3,
      s"$exchanges shuffles (expected 1..3):\n$p")
  }

  test("d_snapshot_diff: one full-outer equi join, churn-only output " +
      "(no product join, struct-packed payload compare)") {
    val p = plan("d_snapshot_diff")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"product join leaked:\n$p")
    assert(p.contains("FullOuter"), s"full-outer join missing:\n$p")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(exchanges >= 1 && exchanges <= 3,
      s"$exchanges shuffles (expected 1..3):\n$p")
  }

  test("d_retrieval_ndcg: rank cut prunes per-partition; label/discount " +
      "attaches BROADCAST (corpus-sized work is the scoring pass only)") {
    val p = plan("d_retrieval_ndcg")
    assert(p.contains("WindowGroupLimit"),
      s"top-10 cut must prune per-partition:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"label/discount/cum joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
  }

  test("d_sample_weighted: map-only priorities; rn<=20 prunes per-" +
      "partition (WindowGroupLimit); at most stratum-window + final-sort " +
      "exchanges") {
    val p = plan("d_sample_weighted")
    assert(p.contains("WindowGroupLimit"),
      s"per-partition top-k pruning missing:\n$p")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(exchanges >= 1 && exchanges <= 2,
      s"$exchanges shuffles (expected 1..2):\n$p")
  }

  test("d_substr_dedup: windowed distinct-doc counting leaves NO staging " +
      "barrier (no ExistingRDD) and stays within the designed exchange " +
      "budget") {
    val p = plan("d_substr_dedup")
    // the agg+semi-join-back form needed eager localCheckpoints, which
    // plan as ExistingRDD scans and sever pushdown/pruning across the
    // barrier — the window form must not reintroduce them
    assert(!p.contains("ExistingRDD"), s"staging barrier reappeared:\n$p")
    // 2 pre-explode spreads + h window + (h,gram) window + doc_id islands
    // + final range sort
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(exchanges <= 6, s"$exchanges shuffles (expected <= 6):\n$p")
  }

  test("d_bpe_tokens: scan prunes to text only; word count and token " +
      "histogram both partial-aggregate; the k-merge fold stays one " +
      "codegen'd expression (no UDF)") {
    val p = plan("d_bpe_tokens")
    assert(p.contains("ReadSchema: struct<text:string>"),
      s"scan must prune to the text column:\n$p")
    assert("HashAggregate".r.findAllIn(p).size == 4,
      s"expected 2 two-phase aggregations:\n$p")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(exchanges == 3, s"$exchanges shuffles (expected 3):\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF"),
      s"merge fold fell out of codegen:\n$p")
  }

  test("e_dedup_semantic: centroids broadcast everywhere; the pair scan " +
      "is an equi join on centroid_id, never an all-pairs product") {
    val p = plan("e_dedup_semantic")
    // corpus × centroids assignment: broadcast nested-loop against the
    // k-row centroid table (twice: stride slice feeds assign), NEVER a
    // CartesianProduct — that's corpus × corpus territory
    assert(!p.contains("CartesianProduct"), s"all-pairs product:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"centroids not broadcast:\n$p")
    // the within-cell pair join must key on centroid_id (hash-shuffled
    // equi join) — Σ|cell|² work, not |corpus|²
    assert(p.contains("centroid_id"), p)
    // argmin assignment partial-aggregates map-side: one row per corpus
    // vector on the shuffle, not |corpus|×|centroids| scored rows
    assert("HashAggregate".r.findAllIn(p).size >= 2 ||
      "ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"assignment argmin is not two-phase:\n$p")
  }

  test("e_dedup_semantic_incremental: the admission probe BROADCASTS the " +
      "batch — the index side never shuffles for it") {
    val p = plan("e_dedup_semantic_incremental")
    assert(!p.contains("CartesianProduct"), s"all-pairs product:\n$p")
    // pair probe = BroadcastHashJoin on centroid_id (batch is the build
    // side); the ONLY sort-merge join is the batch-sized final decisions
    // attach — nothing index-sized ever hash-shuffles for a join
    assert(p.contains("BroadcastHashJoin"), s"probe not broadcast:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).size <= 1,
      s"index-sized shuffled join appeared:\n$p")
  }

  test("e_decontaminate_semantic: the corpus pass is MAP-ONLY — zero " +
      "joins, zero hash shuffles (eval set inlined as a literal)") {
    val p = plan("e_decontaminate_semantic")
    assert(!p.contains("Join"), s"a join appeared in the map-only pass:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a hash shuffle appeared:\n$p")
    // the only exchange is the output-order range sort
    assert("Exchange".r.findAllIn(p).size <= 1, s"extra exchanges:\n$p")
  }

  test("d_export_balanced: the ranking window is SLICED (parallel), " +
      "never a single-partition global sort") {
    val p = plan("d_export_balanced")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-task global window:\n$p")
    assert(p.contains("Window"), p)
  }

  test("e_hard_negatives: anchors broadcast (corpus streams), rank cut " +
      "prunes per-partition") {
    val p = plan("e_hard_negatives")
    // the label-inequality join can't be an equi join — it must still be
    // broadcast-nested-loop against the SMALL anchor side, never a
    // corpus×corpus product
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"), p)
    assert(!p.contains("CartesianProduct"), s"corpus-sized product:\n$p")
    // WHICH side broadcasts is the whole point: the anchor filter
    // (vec_id < 20) must sit UNDER the BroadcastExchange (root-first
    // print → higher index). A regression that broadcasts the corpus
    // instead still plans a BNLJ at test SF and would pass a
    // presence-only check.
    assert(p.indexOf("LessThan(vec_id,20)") > p.indexOf("BroadcastExchange"),
      s"anchor filter not on the broadcast side:\n$p")
    // Partial mode = the PRE-shuffle per-partition prune; a Final-only
    // WindowGroupLimit would ship every scored row per query
    assert(p.contains("row_number(), 3, Partial"),
      s"rank<=k did not push a per-partition (Partial) limit:\n$p")
  }

  test("d_classifier_score: serving is a pure projection — training " +
      "happened at plan-build, the served plan has no join/aggregate") {
    val p = plan("d_classifier_score")
    assert(!p.contains("Join"), s"serve plan joined:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"serve plan aggregated:\n$p")
    // positive anchors so the pin can't pass vacuously on a broken or
    // renamed query: the serve plan must still scan the corpus and
    // project the margin
    assert(p.contains("FileScan parquet") && p.contains("margin_e6"),
      s"serve plan lost its scan/margin projection:\n$p")
  }

  test("d_decontaminate_bloom: the bloom prefilter sits BELOW the verify " +
      "join (corpus grams drop map-side before any join)") {
    val p = plan("d_decontaminate_bloom")
    assert(p.contains("might_contain"), s"no bloom prefilter:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"verify join not broadcast:\n$p")
    // executedPlan prints root-first: the prefilter Filter must appear
    // UNDER (after) the join it feeds
    assert(p.indexOf("might_contain") > p.indexOf("BroadcastHashJoin"),
      s"prefilter not below the verify join:\n$p")
  }

  test("d_dsir_select: top-m is TakeOrderedAndProject; the totals attach " +
      "as a broadcast, never a product") {
    val p = plan("d_dsir_select")
    assert(p.contains("TakeOrderedAndProject"), s"global sort for top-m:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus-sized product:\n$p")
  }

  test("d_mix_epochs: ONE corpus hash shuffle (the source aggregation); " +
      "plan math runs on the sources-sized table") {
    val p = plan("d_mix_epochs")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"extra corpus shuffles:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d_ppl_buckets: the rank window partitions by language — never a " +
      "global (unpartitioned) window") {
    val p = plan("d_ppl_buckets")
    assert(p.contains("windowspecdefinition(lang"),
      s"window not partitioned by lang:\n$p")
    assert(!p.contains("windowspecdefinition(avg_logp"),
      s"global window:\n$p")
  }

  test("d_boilerplate_strip: the chunk table stages ONCE (one checkpoint, " +
      "consumed twice); mark join + frequency count stay broadcast/" +
      "two-phase — corpus text never rides a digest shuffle") {
    val p = plan("d_boilerplate_strip")
    assert(!p.contains("CartesianProduct"), p)
    // the boilerplate digest set joins back as a broadcast — the chunk
    // table must not hash-shuffle on chunk_md5 for the mark
    assert(p.contains("BroadcastHashJoin"), s"mark join not broadcast:\n$p")
    // distinct-doc frequency partial-aggregates below its exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"frequency count is not two-phase:\n$p")
  }

  test("e_ann_filtered: probe set broadcasts (index side never shuffles " +
      "for the probe join); rank cut prunes per-partition") {
    val p = plan("e_ann_filtered")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"probe not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k not pruned:\n$p")
  }

  test("e_knn_graph: the cell walk is MAP-ONLY (literal centroids — no " +
      "corpus-wide window, no extra join); probes meet candidates in " +
      "ONE equi-shuffle join; top-k prunes per-partition") {
    // both join sides are corpus-sized by design; at sf0.001 the index
    // (a projection of a small scan) is estimated honestly and would be
    // broadcast, so the corpus-scale plan is read with size-based
    // broadcasting off
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val p = try plan("e_knn_graph")
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(!p.contains("CartesianProduct"), p)
    // exactly one shuffled join: probe rows × candidate cells on
    // centroid_id
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size == 1,
      s"expected exactly one shuffled join:\n$p")
    // the walk explodes an in-row array — a Generate, not a Window over
    // corpus×centroids rows
    assert(p.contains("Generate"), s"walk is not the in-row explode:\n$p")
    // the only Window is the final per-query rank, and it group-limits
    assert(p.contains("WindowGroupLimit"), s"top-k not pruned:\n$p")
    assert("windowspecdefinition\\(query_id".r.findAllIn(p).nonEmpty,
      s"rank window must partition by query_id:\n$p")
  }

  test("d_curriculum: rank window partitions by band — never a " +
      "single-partition global window; no global row_number") {
    val p = plan("d_curriculum")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-task global window:\n$p")
    assert(p.contains("windowspecdefinition(band"),
      s"window not partitioned by band:\n$p")
  }

  test("d_lm_backoff: gram extraction is map-only (Generate, no " +
      "self-join); every count table partial-aggregates; no product") {
    val p = plan("d_lm_backoff")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), s"grams not in-row:\n$p")
    // tri/bi/uni/total + per-doc aggregation — all two-phase
    assert("HashAggregate".r.findAllIn(p).size >= 6,
      s"count tables are not two-phase:\n$p")
  }

  test("d_mix_execute: plan side joins as a broadcast (sources-sized); " +
      "the cumsum window partitions by source") {
    val p = plan("d_mix_execute")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"plan join not broadcast:\n$p")
    // the corpus-sized cumsum must partition by source — a global
    // (unpartitioned) window spec would be the single-task smell. The
    // share denominator's 1-row SinglePartition AGGREGATE is fine: its
    // input is the sources-sized totals table, not the corpus.
    assert(p.contains("windowspecdefinition(source"),
      s"cumsum window not per-source:\n$p")
    assert(!"windowspecdefinition\\(draw".r.findAllIn(p).nonEmpty,
      s"global (band-free) window appeared:\n$p")
  }

  test("d_retrieval_topk: the query-term set broadcasts into postings " +
      "(corpus side never shuffles for the probe); rank cut prunes") {
    val p = plan("d_retrieval_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"query-term probe not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k not pruned:\n$p")
  }

  test("e_ann_ivf_forget: deletion list broadcasts on BOTH the receipt " +
      "and the count paths — the index never shuffles for a join") {
    val p = plan("e_ann_ivf_forget")
    assert(!p.contains("CartesianProduct"), p)
    // the deletion semi-join against the index is the broadcast one
    // (simple-mode toString renders the type after the keys)
    assert("BroadcastHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftSemi".r
      .findAllIn(p).nonEmpty, s"deletions not broadcast:\n$p")
    // the only shuffled join is sizes ⋈ removed — BOTH centroid-sized
    // aggregates (AQE folds it to broadcast at runtime); nothing
    // index-sized may shuffle for a join
    assert("SortMergeJoin".r.findAllIn(p).size <= 1,
      s"index-sized shuffled join appeared:\n$p")
  }

  test("d_sft_mask: span cumsum and render share ONE doc-id exchange " +
      "(no groupBy-plus-join round trip)") {
    val p = plan("d_sft_mask")
    // one hash exchange for the doc-id windows + the final ORDER BY range
    // exchange; a join-based render would add a second hash exchange and
    // a join node
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly 1 hash exchange:\n$p")
    assert(!p.contains("Join"), s"flatten must not join:\n$p")
  }

  test("d_winnow: selection is map-side array expressions — the ONLY " +
      "exchange is the 1×-text input spread, below the explode") {
    val p = plan("d_winnow")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected only the input-spread exchange:\n$p")
    // the Generate (winnowed-set explode) must sit ABOVE the spread —
    // gram hashing and selection happen after redistribution, and
    // nothing gram-sized ever shuffles
    assert(p.contains("Generate"), s"no explode in:\n$p")
    assert(p.indexOf("Generate") < p.indexOf("Exchange hashpartitioning"),
      s"selection ran below the spread exchange:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF"), p)
  }

  test("d_winnow_overlap: pairs join on the fingerprint hash only — " +
      "no cartesian, and the shuffled relation is the deduped " +
      "(id, hash) projection, never gram rows") {
    val p = plan("d_winnow_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert("Join \\[fp_hash".r.findAllIn(p).nonEmpty,
      s"pair join not keyed on fp_hash:\n$p")
    // the deduped (id, hash) set is STAGED before the self-join — both
    // sides read the checkpoint, so the winnow hash pass (a parquet
    // scan + explode) must not appear in this plan at all; an unstaged
    // plan re-ran it once per consumer (4× in the containment audit)
    assert(!p.contains("Scan parquet"),
      s"winnow subtree re-executed under the pair join:\n$p")
  }

  test("e_mrl_topk: both funnel stages broadcast the bounded side and " +
      "the rank filters push as WindowGroupLimit") {
    val p = plan("e_mrl_topk")
    assert(!p.contains("SortMergeJoin"),
      s"corpus re-shuffled for the funnel:\n${p.take(2000)}")
    assert(p.contains("WindowGroupLimit"), s"full sort-then-filter:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("e_maxsim: query tokens broadcast; token-max and score aggs are " +
      "two-phase (map-side partial before each exchange)") {
    val p = plan("e_maxsim")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query batch not broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    // two aggregations, each partial+final
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"aggs not two-phase:\n$p")
  }

  test("e_rand_proj: the projection is map-only — no exchange anywhere " +
      "in the operator plan (sign matrix rides as literals)") {
    val spark0 = spark
    val emb = Tables.load(spark0, sfDir, "embeddings")
    val p = graft.similarity.RandomProjection
      .projectSigned(emb, 64, 8).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"projection shuffled:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF"), p)
  }

  test("e_proj_topk: corpus projects in place and meets the broadcast " +
      "query batch — no corpus shuffle before the rank window") {
    val p = plan("e_proj_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), s"full sort-then-filter:\n$p")
  }

  test("d_outlier_mad: per-group stats join back as broadcasts; the two " +
      "rank windows share the one group-key partitioning") {
    val p = plan("d_outlier_mad")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"stats joins not broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("m_phash_pairs: banded LSH candidates — signatures shuffle, " +
      "payloads never do, and no cartesian appears") {
    val p = plan("m_phash_pairs")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("e_ann_ivfpq_planted: probes, ADC table and rerank shortlist all " +
      "broadcast — the codes index and the float corpus never shuffle " +
      "to be probed") {
    val p = plan("e_ann_ivfpq_planted")
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-sized side re-shuffled:\n${p.take(2000)}")
    // the ADC/probe stage executes at shortlist-LOCALIZATION time
    // (Similarity.shortlistEmbeddings — the rerank fetch is id-pruned,
    // never a full corpus read), so the FINAL plan carries the
    // local-shortlist fetch join + the query-side join; the coarse
    // stage's own joins ran at the bounded collect
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("WindowGroupLimit"),
      s"ADC/rerank cutoffs full-sort-then-filter:\n${p.take(2000)}")
  }

  test("e_ann_bq: the coarse Hamming scan keeps the corpus side " +
      "shuffle-free (broadcast queries), the rerank shortlist " +
      "broadcasts, and the kernels stay codegen'd") {
    val p = plan("e_ann_bq")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CodegenFallback"),
      s"bit kernels fell out of codegen:\n${p.take(2000)}")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("e_maxsim_funnel: the shortlist BROADCASTS into the token scan " +
      "(corpus tokens never shuffle for the rerank), rank filters push " +
      "as WindowGroupLimit, aggs are two-phase") {
    val p = plan("e_maxsim_funnel")
    assert(!p.contains("SortMergeJoin"),
      s"token corpus re-shuffled for the rerank:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), s"full sort-then-filter:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(2000))
  }

  test("graph ANN hop: the frontier inlines as an isin that PUSHES INTO " +
      "the persisted edge scan (row-group pruned hop reads); every join " +
      "broadcasts the small side — the big sides never sort-merge or " +
      "re-shuffle") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 40)
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val nodes = emb.select(col("vec_id").as("node"),
      col("embedding").as("n_emb"))
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_gplan").toString + "/graph"
    graft.similarity.TrainedState.saveGraphIndex(
      graft.similarity.Similarity.bruteTopK(emb, emb, 4), idxPath)
    val adj = graft.similarity.TrainedState.loadGraphIndex(spark, idxPath)
      .select(col("query_id").as("_src"), col("neighbor_id").as("_dst"))
    val score = graft.similarity.GraphAnn.scorer(q, nodes) _
    val visited = score(
      q.select(col("query_id")).withColumn("node", lit(0L))
        .unionByName(q.select(col("query_id")).withColumn("node", lit(5L))),
      Seq(0L, 5L))
    // expansion leg: the frontier isin reaches the persisted edge scan
    val pe = graft.similarity.GraphAnn
      .expandFrontier(visited, adj, beam = 3)
      .queryExecution.executedPlan.toString
    assert(!pe.contains("SortMergeJoin"),
      s"a big side got sort-merge-joined in the expansion:\n${pe.take(2000)}")
    assert(pe.contains("In(query_id, [0,5])"),
      s"frontier isin did not reach the edge parquet scan:\n${pe.take(3000)}")
    // scoring leg: the fresh-candidate isin reaches the corpus scan
    val p = graft.similarity.GraphAnn.hopOnce(visited, adj, score, beam = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      s"a big side got sort-merge-joined in the hop:\n${p.take(2000)}")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("In(vec_id"),
      s"fresh-candidate isin did not reach the corpus scan:\n${p.take(3000)}")
  }

  test("HNSW layered index: a layer filter PARTITION-PRUNES the " +
      "persisted layer directories (a descent reads only the layers on " +
      "its path), and the hop's frontier isin still pushes into the " +
      "pruned layer scan") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 40)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_hplan").toString + "/hnsw"
    graft.similarity.TrainedState.saveHnswIndex(
      graft.similarity.Hnsw.buildIndex(emb, degree = 4, m = 4,
        maxLevel = 2), idxPath)
    val loaded = graft.similarity.TrainedState.loadHnswIndex(spark, idxPath)
    val e1 = loaded.filter(col("layer") === 1)
      .select(col("query_id"), col("neighbor_id"))
    val pScan = e1.queryExecution.executedPlan.toString
    // the layer predicate must be a PARTITION filter (directory prune),
    // not a post-scan row filter — layer 0 holds the whole corpus and a
    // descent step must never read it
    assert(raw"PartitionFilters: \[[^\]]*\(layer#\d+ = 1\)".r
        .findFirstIn(pScan).isDefined,
      s"layer filter did not partition-prune the layered scan:\n" +
        pScan.take(3000))
    // the descent hop over the pruned layer keeps the flat hop's
    // frontier pushdown: isin on query_id reaches the SAME pruned scan
    val adj = e1.select(col("query_id").as("_src"),
      col("neighbor_id").as("_dst"))
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val nodes = emb.select(col("vec_id").as("node"),
      col("embedding").as("n_emb"))
    val visited = graft.similarity.GraphAnn.scorer(q, nodes)(
      q.select(col("query_id")).withColumn("node", lit(0L))
        .unionByName(q.select(col("query_id")).withColumn("node", lit(5L))),
      Seq(0L, 5L))
    val pe = graft.similarity.GraphAnn
      .expandFrontier(visited, adj, beam = 3)
      .queryExecution.executedPlan.toString
    assert(pe.contains("In(query_id, [0,5])"),
      s"frontier isin did not reach the layered edge scan:\n${pe.take(3000)}")
    assert(raw"PartitionFilters: \[[^\]]*\(layer#\d+ = 1\)".r
        .findFirstIn(pe).isDefined,
      s"hop scan lost the layer partition prune:\n${pe.take(3000)}")
    assert(!pe.contains("SortMergeJoin"),
      s"a big side got sort-merge-joined in the layered hop:\n" +
        pe.take(2000))
  }

  test("HNSW descent hot path: the mirror walk's adjacency fetch " +
      "partition-prunes the layer directory AND pushes the frontier " +
      "isin to the row groups; its scoring fetch pushes In(vec_id) " +
      "into the corpus scan with broadcast-only joins — the flat-" +
      "scaling pushdowns, pinned on the layered descent path") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val emb = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 40)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_hdesc").toString + "/hnsw"
    graft.similarity.TrainedState.saveHnswIndex(
      graft.similarity.Hnsw.buildIndex(emb, degree = 4, m = 4,
        maxLevel = 2), idxPath)
    val loaded = graft.similarity.TrainedState.loadHnswIndex(spark, idxPath)
    // the adjacency-fetch plan walkLoop runs per descent hop, over the
    // layer the descent is standing on
    val adj = loaded.filter(col("layer") === 1)
      .select(col("query_id").as("_src"), col("neighbor_id").as("_dst"))
    val pf = graft.similarity.GraphAnn.adjFetchPlan(adj, Seq(0L, 5L))
      .queryExecution.executedPlan.toString
    assert(pf.contains("In(query_id, [0,5])"),
      s"descent frontier isin did not reach the layered edge scan:\n" +
        pf.take(3000))
    assert(raw"PartitionFilters: \[[^\]]*\(layer#\d+ = 1\)".r
        .findFirstIn(pf).isDefined,
      s"descent fetch lost the layer partition prune:\n${pf.take(3000)}")
    assert(!pf.contains("Exchange"),
      s"descent adjacency fetch must be a pure pruned scan:\n" +
        pf.take(2000))
    // the scoring-fetch plan walkLoop runs per hop: local-relation
    // probe batch + local candidate pairs, In(vec_id) on the corpus
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val qLocal = spark.createDataFrame(q.collect().toSeq.asJava, q.schema)
    val nodes = emb.select(col("vec_id").as("node"),
      col("embedding").as("n_emb"))
    val cand = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(0L, 7L),
        org.apache.spark.sql.Row(1L, 9L)).asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "query_id BIGINT, node BIGINT"))
    val ps = graft.similarity.GraphAnn.scorer(qLocal, nodes)(
      cand, Seq(7L, 9L)).queryExecution.executedPlan.toString
    assert(ps.contains("In(vec_id"),
      s"scoring isin did not reach the corpus scan:\n${ps.take(3000)}")
    assert(!ps.contains("SortMergeJoin") &&
      "BroadcastHashJoin".r.findAllIn(ps).size >= 2,
      s"scoring fetch must be broadcast-only:\n${ps.take(2000)}")
  }

  test("HNSW PQ descent (searchPq): the ADC scoring fetch pushes the " +
      "candidate In(vec_id) into the PERSISTED codes scan and never " +
      "sort-merges — codes stay hot and pruned, floats untouched") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val emb = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 40).localCheckpoint(true)
    val books = graft.similarity.ProductQuantizer.codebooks(
      emb, dim = 64, numSub = 8, stride = 10)
    val codesPath = java.nio.file.Files
      .createTempDirectory("graft_pqdesc").toString + "/codes"
    graft.similarity.TrainedState.savePqCodes(
      graft.similarity.ProductQuantizer.encode(emb, books, dim = 64,
        numSub = 8), codesPath)
    val codes = graft.similarity.TrainedState.loadPqCodes(spark, codesPath)
    val probes = emb.filter(col("vec_id") < 3)
    val ctx = graft.similarity.GraphAnn.pqSearcher(probes, codes, books,
      dim = 64, numSub = 8)
    val cand = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(0L, 7L),
        org.apache.spark.sql.Row(1L, 9L)).asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "query_id BIGINT, node BIGINT"))
    val p = ctx.scoreAdc(cand, Seq(7L, 9L))
      .queryExecution.executedPlan.toString
    assert(p.contains("In(vec_id, [7,9])"),
      s"candidate isin did not reach the codes parquet scan:\n" +
        p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-sized side re-shuffled in the ADC fetch:\n" +
        p.take(2000))
  }

  test("OPQ rotation application is map-only: plan-constant matrix, no " +
      "exchange, kernels stay codegen'd") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val p = graft.similarity.Opq
      .applyRotation(emb, graft.similarity.Opq.identity(64))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"rotation projection introduced a shuffle:\n${p.take(2000)}")
    assert(!p.contains("CodegenFallback") && !p.contains("UDF"),
      s"rotation fell out of codegen:\n${p.take(2000)}")
  }

  /** `df` plans with no exchange, join, aggregate, codegen fallback or
    * UDF, evaluates the pq_encode kernel once per row inside a codegen
    * stage, and runs with the generated code compiling (no silent
    * fallback to interpreted evaluation). */
  private def assertMapOnlyKernel(name: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val plan = df.queryExecution.executedPlan
    val p = plan.toString
    Seq("Exchange", "Join", "HashAggregate", "CodegenFallback", "UDF")
      .foreach(bad => assert(!p.contains(bad), s"$name plans $bad:\n$p"))
    val fallbacks = plan.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case e: CodegenFallback => e })
    assert(fallbacks.isEmpty, s"$name fell out of codegen: $fallbacks")
    val kernelLines = p.linesIterator.filter(_.contains("pq_encode")).toSeq
    assert(kernelLines.nonEmpty && kernelLines.forall(_.contains("*(")),
      s"$name: the kernel is not inside a codegen stage:\n$p")
    // the kernel runs once per row, whatever the fields it feeds
    assert("pq_encode".r.findAllIn(
      df.queryExecution.optimizedPlan.toString).size == 1,
      s"$name evaluates the kernel more than once:\n" +
        df.queryExecution.optimizedPlan)
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try df.queryExecution.executedPlan.executeCollect()
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("IVF-PQ encode, ivfAssign and PQ encode are map-only: one codegen " +
      "kernel per row, no exchange, join, aggregate, fallback or UDF") {
    import org.apache.spark.sql.functions._
    import graft.similarity.{IvfPq, ProductQuantizer, Similarity}
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    val books = ProductQuantizer.codebooks(emb, dim = 64, numSub = 8,
      stride = 25)
    Seq(
      "IvfPq.encode" -> IvfPq.encode(emb, cents, books, 64, 8),
      "Similarity.ivfAssign" -> Similarity.ivfAssign(emb, cents),
      "ProductQuantizer.encode" -> ProductQuantizer.encode(emb, books, 64, 8)
    ).foreach { case (name, df) => assertMapOnlyKernel(name, df) }
  }

  test("KMeans.assign, KMeans.assignGrouped and ivfAssignTwoLevel are " +
      "map-only: the kernel's argmin in a codegen stage, no exchange, " +
      "join, aggregate, fallback or UDF") {
    import org.apache.spark.sql.functions._
    import graft.similarity.{KMeans, Similarity}
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    val supers = Similarity.superCentroids(cents, stride = 200)
    Seq(
      "KMeans.assign" -> KMeans.assign(emb, cents),
      "KMeans.assignGrouped" -> KMeans.assignGrouped(
        emb.withColumn("grp", col("vec_id") % 3),
        cents.withColumn("grp", col("centroid_id") % 3)),
      "Similarity.ivfAssignTwoLevel" ->
        Similarity.ivfAssignTwoLevel(emb, cents, supers, fanout = 2)
    ).foreach { case (name, df) => assertMapOnlyKernel(name, df) }
  }

  test("delta-loaded index: the newest-wins reconcile LOCALIZES the " +
      "batch-bounded delta slice — both reconcile sides are local " +
      "relations, the corpus-sized base anti-joins a broadcast without " +
      "an Exchange, and the base scan's layer pruning survives") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 80).localCheckpoint(true)
    val layered = graft.similarity.Hnsw.buildIndex(emb, degree = 4,
      m = 4, maxLevel = 2).localCheckpoint(true)
    val path = java.nio.file.Files
      .createTempDirectory("graft_dplan").toString + "/hnsw"
    graft.similarity.TrainedState.saveHnswIndex(layered, path)
    val batch = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val (_, delta) = graft.similarity.Hnsw.insertWithDelta(layered,
      batch, emb, m = 4, maxLevel = 2, beam = 3, hops = 2, degree = 4)
    graft.similarity.TrainedState.appendHnswDelta(delta, path)
    val loaded = graft.similarity.TrainedState.loadHnswIndex(spark, path)
    val p = loaded.filter(col("layer") === 0)
      .queryExecution.executedPlan.toString
    assert(!p.contains("ShuffleExchange") && !p.contains("SortMergeJoin"),
      s"the base side shuffled in the delta reconcile:\n${p.take(2500)}")
    assert(p.contains("LocalTableScan"),
      s"the delta slice was not localized at load:\n${p.take(2500)}")
    // no FileScan of the _delta subtree survives in the consumer plan —
    // the per-hop adjacency fetches re-read only the BASE files
    assert(!p.contains("_delta"),
      s"a consumer action still re-reads the delta files:\n${p.take(2500)}")
    assert(p.contains("PartitionFilters: [isnotnull(layer"),
      s"layer partition-pruning lost on the delta-loaded base:\n${p.take(2500)}")
  }
}
