package graft

/** Standing plan-shape guarantees over EVERY registered query — the 100 TB
  * properties that must not regress silently when a query is edited:
  *
  *  - no `CartesianProduct` anywhere;
  *  - `BroadcastNestedLoopJoin` only in the two by-design exact baselines
  *    (q_link_ro replays the reference's O(n²) similarity join —
  *    EditDistanceJoin / MinHash / SimHash are the scale paths;
  *    q_ann_cosine is the exact-ANN broadcast cross join that
  *    q_ann_lsh / q_ann_ivf replace at scale).
  *
  * Plans are built at sf0.001 (construction only — nothing is executed
  * beyond the side-effecting roundtrip queries' own writes).
  */
class PlanGuaranteesSpec extends SparkSpec {

  /** q_link_ro / q_ann_cosine: by-design exact baselines (see class doc).
    * q_knn_eval builds on q_ann_cosine's exact scorer (same broadcast
    * cross join; swap in lshTopK/ivfSearch candidates for the scale path —
    * Ann.knnLabelEval Scaladoc). q_tfidf_top:
    * crossJoin(broadcast(<one-row aggregate>)) — attaching a single scalar
    * (corpus size) to every row plans as a BNLJ whose build side is ONE
    * row; that is constant-attach, not a candidate blowup (same shape in
    * q_lm_score / q_lm_contrast — the vocab-size scalar — and q_bm25 —
    * the (n_docs, sum_dl) pair, and q_dsir_weights — the feature
    * totals). q_pq_recall's exact-L2 side is query-bounded by contract
    * (the pqRecallEval Scaladoc), like q_ann_recall:
    * the recall audit's exact-truth side is all-pairs BY CONTRACT, bounded
    * to a sample tier by the operator's required samplePred argument
    * (Ann.embeddingRecallEval Scaladoc). q_link_snm_multi_recall:
    * crossJoin(broadcast(<pass-label table>)) — the constant-attach shape
    * again (build side = one row per named pass + 'union'), plus its
    * truth side is the same sample-tier exact pair set as
    * q_link_snm_recall. q_pq_search / q_pq_probe / q_pq_recall: only
    * the ADC LUT build crossJoins the (j, c, w) codeword meta table
    * (m·ks rows, broadcast) onto the bounded query batch's
    * (probed-cell residual) vectors — the build side is the
    * CONSTANT-SIZED codebook, the per-query fan-out the fixed m·ks, the
    * IVFPQ lookup-table shape, not a candidate blowup. The corpus side
    * never cross-joins: its codes come from the per-vector pq_codes
    * kernel (Ann.pqCodesLong), so q_pq_encode plans no BNLJ.
    */
  private val allowedBnlj =
    // q_link_ro_auto: the BNLJ here is the cost-based CHOICE, not a
    // default — similarityPairsAuto measured (RoBlockProbe round 12)
    // that below the t=90 crossover and under the name budget the BNLJ
    // wins single-node; past either bound the same operator plans the
    // blocked equi-join (branch selection plan-asserted in LinkerSpec).
    Set("q_link_ro_auto",
      "q_link_ro", "q_link_ro_sql", "q_ann_cosine", "q_knn_eval",
      "q_rag_topk", "q_tfidf_top", "q_ann_recall",
      "q_lm_score", "q_lm_contrast", "q_bm25", "q_bm25_batch",
      "q_dsir_weights", "q_pq_recall", "q_link_snm_multi_recall",
      "q_pq_search", "q_pq_probe", "q_pq_search_indexed",
      // same LUT shape over the APPENDED code table — identical plan
      // family to q_pq_search_indexed, only the scan's file list differs
      "q_pq_search_appended",
      // cell-partitioned layout: the probed-cell LUT crossJoins the SAME
      // constant-sized codeword meta (Ann.scala:1137); pruning changes
      // which code FILES are read, not the join family
      "q_pq_probe_pruned",
      // the cell tier's lifecycle row serves through the exact same
      // probed path as q_pq_probe_pruned after its append+compact
      "q_pq_cell_day2",
      // the auto dispatcher ROUTES to one of the whitelisted PQ serves
      // (indexed/fused x exhaustive/probed) — every branch is the same
      // LUT shape; branch choice itself is pinned in AnnSpec
      "q_pq_search_auto",
      // the tc row combines TWO one-row aggregates (component pair count
      // x truth catch count) — constant-attach, build side is one row
      "q_link_snm_tc_recall",
      // SQ8 stage 1 is the cosineTopK scan-search shape over int8 codes:
      // the broadcast side is the BOUNDED query batch's code rows (the
      // declared |Q|xN compressed scan — TopKPerKey bounds what leaves
      // it); q_sq8_recall additionally rides the q_ann_cosine exact side
      "q_sq8_search", "q_sq8_search_indexed", "q_sq8_recall",
      // same family over packed sign bits (1-bit tier)
      "q_hamming_search", "q_hamming_search_indexed", "q_hamming_recall",
      // the flat-tier lifecycle rows serve through the exact same
      // two-stage paths as their *_indexed twins after append+compact
      "q_sq8_day2", "q_hamming_day2",
      // the cross-tier dispatcher ROUTES to one of the whitelisted
      // serves (here: the standing SQ8 two-stage); tier choice itself
      // is pinned in AnnSpec via annServeBranch
      "q_ann_auto",
      // the drift-exclusion arm lands on the same standing SQ8
      // two-stage (the drifted IVF-SQ8 tier is excluded by dispatch);
      // the pruned-tier arm (q_ann_auto_ivfsq8) and the IVF-SQ8 day-2
      // row plan the broadcast equi-join on cell and need no entry
      "q_ann_auto_drift",
      // the IVF-SQ8 SERVE itself plans a broadcast equi-join on cell
      // (no BNLJ — the pruned shape is the tier's point); only the
      // recall row rides the q_ann_cosine exact-truth side
      "q_ivfsq8_recall")

  test("no query plans a cartesian; BNLJ only in the documented baselines") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        val cart = if (plan.contains("CartesianProduct")) Seq(s"$name:CART") else Nil
        val bnlj =
          if (plan.contains("BroadcastNestedLoopJoin") && !allowedBnlj(name))
            Seq(s"$name:BNLJ")
          else Nil
        cart ++ bnlj
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("star join broadcasts both dimensions — the fact side never shuffles for the join") {
    val p = plan("q_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("filter pushdown reaches the parquet scan with a pruned schema") {
    val p = plan("q_filter_pushdown")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(o_totalprice"), p)
    // 4 columns: the 3 projected + the filter column — and nothing else
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint," +
      "o_orderstatus:string,o_totalprice:double>"), p)
  }

  test("posting-list joins keep their shuffle-hash pin (no mis-broadcast of exploded sides)") {
    for (q <- Seq("q_jaccard_pairs", "q_minhash_pairs", "q_winnow_pairs")) {
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"), s"$q: $p")
    }
  }

  test("asymmetric shuffle-hash joins build from the bounded side") {
    // The hinted side of a shuffle_hash join is the HASH-BUILD side. For
    // the asymmetric joins (train x eval contamination, fact x dim salted
    // join) the build must be the bounded relation — a build over the
    // corpus/fact side is a per-task OOM at scale (caught live by
    // graft.tools.PrefixDemo for the prefix verify join).
    for (q <- Seq("q_contamination", "q_contamination_bloom", "q_salted_join")) {
      val shjLines = plan(q).linesIterator
        .filter(_.contains("ShuffledHashJoin")).toSeq
      assert(shjLines.nonEmpty, s"$q: no ShuffledHashJoin in plan")
      shjLines.foreach(l =>
        assert(l.contains("BuildRight"), s"$q builds the wrong side: $l"))
    }
  }

  test("oov vocab join is a broadcast (construction-bounded build side)") {
    // The vocab is LIMIT vocabSize rows by construction — the one join
    // shape where a forced broadcast is correct at any corpus size.
    val p = plan("q_oov_stats")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("boilerplate flagged-set join carries no forced broadcast hint") {
    // Flagged segments are usually few but are NOT bounded by
    // construction (a pathological corpus can flag arbitrarily many) —
    // same reasoning as the per-doc count joins below: let AQE decide.
    for (q <- Seq("q_boilerplate_remove", "q_intradoc_dedup")) {
      val analyzed =
        SparkEntry.queries(q)(spark, sf0001).queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint (strategy=broadcast)"),
        s"$q analyzed plan carries a forced broadcast hint:\n$analyzed")
    }
  }

  test("upsert/CDC change-key anti-joins carry no forced broadcast hint") {
    // A CDC batch is usually small but NOT bounded by construction — a
    // backfill touching a huge key range would make a forced broadcast a
    // driver-side OOM. AQE broadcasts the genuinely-small case at runtime
    // from measured size; the hint must stay out of the plan.
    for (q <- Seq("q_upsert", "q_cdc_apply")) {
      val analyzed =
        SparkEntry.queries(q)(spark, sf0001).queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint (strategy=broadcast)"),
        s"$q analyzed plan carries a forced broadcast hint:\n$analyzed")
    }
  }

  test("funnel's stage filter reaches the parquet scan") {
    // Each stage reads only its event type's row groups — at 100 TB the
    // difference between scanning the purchase slice and the whole log.
    // Only the FINAL stage's scan is visible (earlier stages sit behind
    // the per-stage localCheckpoint), which is enough to pin the shape.
    val p = SparkEntry.queries("q_funnel")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(event_type,purchase)"),
      s"purchase-stage filter not pushed:\n$p")
  }

  test("token-budget cumsum never plans an empty-PARTITION-BY window") {
    // The grouped prefix scan must window by (__pid, stratum) — a global
    // or stratum-only window is the parallelism cliff runningTotalBy
    // exists to avoid.
    val p = plan("q_token_budget")
    assert(p.contains("__pid"), p)
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\], \\[.*"), p)
  }

  test("per-doc count joins carry no forced broadcast hint (unbounded build at scale)") {
    // The counts side of the Jaccard family has one row PER DOCUMENT — a
    // forced broadcast() there is a driver OOM at corpus scale. Assert on
    // the ANALYZED plan (the hint), not the physical one: at tiny SF AQE
    // may legitimately CHOOSE broadcast, which is exactly the behavior we
    // want to preserve while banning the unconditional hint.
    for (q <- Seq("q_jaccard_pairs", "q_jaccard_prefix", "q_containment_pairs")) {
      val analyzed =
        SparkEntry.queries(q)(spark, sf0001).queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint (strategy=broadcast)"),
        s"$q analyzed plan carries a forced broadcast hint:\n$analyzed")
    }
  }

  test("CDC chunk rebuild reuses the window's doc_id partitioning — one data shuffle") {
    // The running-boundary-count window shuffles on doc_id once; the
    // (doc_id, chunk_idx) rebuild aggregate must SATISFY that clustering
    // (partition keys ⊆ grouping keys), not re-shuffle. A second exchange
    // here doubles the operator's data movement at 100 TB.
    val p = plan("q_cdc_chunks")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }
}
