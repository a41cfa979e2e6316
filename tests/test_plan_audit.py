"""Plan-diff CI (VERDICT r3 next-round #2): pinned operator signatures for the
perf-critical queries. A change that adds a shuffle, drops a broadcast, or degrades a
join to nested-loop/cartesian fails HERE, with a readable counter diff, instead of
surfacing as an unexplained bench regression.

To re-pin after a DELIBERATE plan change: run
``python -m pytest tests/test_plan_audit.py -x`` — the failure message prints the new
signature; review it (is the delta intended?) and update PLAN_SIGNATURES.
"""

from __future__ import annotations

import pytest

from hadoop_migration_assessment_tools_spark.plans.audit import (
    assert_scale_safe,
    plan_signature,
)
from hadoop_migration_assessment_tools_spark.queries.registry import QUERIES

SF = "/root/testdata/sf0.001"

# Pinned at round 4 on sf0.001 (plan shape is SF-independent: the same Catalyst
# strategies fire at every scale; only AQE's runtime coalescing differs, and these
# signatures are taken from the pre-execution plan).
#
# r13 optimization note: queries that gained a scale-adaptive scan spread
# (plans/spread.py) count EXTRA shuffle_exchange nodes in the STATIC plan — one
# per reference to the spread frame, because the pre-execution plan does not
# collapse identical exchanges. At runtime AQE's stage cache executes the spread
# exchange ONCE and serves every other reference from ReusedExchange (verified in
# the r13 event-log profiles: a single shuffle-write stage for the spread).
# Join strategies, windows and BNLJ counts are unchanged by the spreads.
#
# key: (shuffle_exchange, broadcast_exchange, bnlj, cartesian, smj, bhj, shj, window)
PLAN_SIGNATURES: dict[str, dict[str, int]] = {
    # BNLJ here is the deliberate broadcast crossJoin of the tiny query set.
    "emb_cosine_topk": dict(
        shuffle_exchange=3, broadcast_exchange=1, bnlj=1, cartesian=0, smj=0, bhj=0, shj=0, window=3
    ),
    # round 6 (VERDICT r5 #5): deterministic-centroid IVF — scan-local argmin
    # assignment (NO join, no corpus shuffle), probe explode on the tiny query
    # side, one broadcast equi-join on centroid_id, one rank window. The
    # certification twin of the learned path with a STRICTLY narrower plan.
    # (window=3: the rank Window plus its two WindowGroupLimit pushdown stages)
    "emb_ivf_fixed_topk": dict(
        shuffle_exchange=3, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=3
    ),
    # r10 (VERDICT r9 #1): IVFADC + exact refine, fully Arrow-vectorized —
    # corpus assign+encode fused in one mapInPandas, query ADC tables + probe
    # lists in another, exact re-rank squared-L2 in a third. Candidates carry
    # ONLY (query_id, neighbor_id, adc_d) through the ADC window shuffle; the
    # float vectors re-enter post-shortlist via broadcast joins (probes on
    # query_id, shortlist onto one extra corpus scan on neighbor_id) — so all
    # 3 joins are BHJ equi-joins and the window shuffles move 3 narrow
    # columns. window=6: two rank windows x (Window + 2 WindowGroupLimit).
    "emb_ivfpq_rerank_topk": dict(
        shuffle_exchange=3, broadcast_exchange=3, bnlj=0, cartesian=0, smj=0, bhj=3, shj=0, window=6
    ),
    # r13: the two-level routed residual stack lands on the SAME production
    # IVFADC+refine envelope — the hierarchical routing lives inside the two
    # Arrow kernels (assignment scan + probe pass) and costs ZERO extra plan
    # structure: same 3 shuffles / 3 broadcasts / 3 BHJ / 0 BNLJ / window 6.
    "emb_hier_residual_rerank_topk": dict(
        shuffle_exchange=3, broadcast_exchange=3, bnlj=0, cartesian=0, smj=0, bhj=3, shj=0, window=6
    ),
    # r13: filtered ANN, both live branches in one plan — the prefilter
    # branch's query-set crossJoin (bnlj 1, the emb_cosine_topk pattern) over
    # ONLY the filtered slice + its rank window, and the postfilter branch's
    # broadcast probe join into the shared assigned index (bhj; the corpus
    # never shuffles in either branch). window 6 = two rank windows x
    # (Window + 2 WindowGroupLimit).
    "emb_filtered_topk": dict(
        shuffle_exchange=7, broadcast_exchange=4, bnlj=1, cartesian=0, smj=0, bhj=3, shj=0, window=6
    ),
    # round 6: fixed-centroid cluster profile — scan-local assignment + one
    # centroid/label agg + the profile windows (+ output-order sort). Zero joins.
    "emb_cluster_profile": dict(
        shuffle_exchange=3, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=3
    ),
    # round 6: Bloom semi-join reduction — the probe (lineitem) side never
    # shuffles: k=3 broadcast word-lookups + the broadcast exact-join control;
    # the 4 shuffles are the words bitmap agg (x3 in the STATIC plan; AQE's
    # runtime stage cache builds it once and ReusedExchange covers the other
    # two probes — asserted in test_plans.py) and the final 1-row aggregate.
    "lineitem_bloom_prefilter": dict(
        shuffle_exchange=4, broadcast_exchange=4, bnlj=0, cartesian=0, smj=0, bhj=4, shj=0, window=0
    ),
    "emb_topk_scaled_bruteforce": dict(
        shuffle_exchange=3, broadcast_exchange=1, bnlj=1, cartesian=0, smj=0, bhj=0, shj=0, window=3
    ),
    # r12 retrieval stack: the corpus token stream is left-semi filtered
    # against the BROADCAST query-term set before any aggregation (bhj 4 =
    # semi + dfreq + qterms + nothing shuffled corpus-side beyond the matched
    # postings' groupBys); the single bnlj is the accepted 1-row corpus-stats
    # crossJoin (the tfidf/median pattern). window 3 = rank + its two
    # WindowGroupLimit pushdown stages.
    "docs_bm25_topk": dict(
        shuffle_exchange=10, broadcast_exchange=5, bnlj=1, cartesian=0, smj=0, bhj=4, shj=0, window=3
    ),
    # r12 hybrid fusion: BM25 leg as above + the exact-cosine leg (corpus
    # never shuffles; queries broadcast) + ONE SortMergeJoin for the
    # full-outer rank fusion — both fusion inputs are top-k relations
    # (queries x k rows), so the SMJ is small by construction.
    "docs_hybrid_rrf": dict(
        shuffle_exchange=14, broadcast_exchange=11, bnlj=2, cartesian=0, smj=1, bhj=9, shj=0, window=9
    ),
    # r9: learned path re-planned around fixed-point Lloyd (oracled) — the
    # centroid crossJoin became a literal-array transform and the probe window
    # an array_sort, so the plan NARROWED: bnlj 1 -> 0, broadcast 2 -> 1,
    # window 5 -> 3 (rank window + its two WindowGroupLimit pushdown stages)
    "emb_topk_scaled_ivf": dict(
        shuffle_exchange=3, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=3
    ),
    # r13 (VERDICT r12 #3): two-level routing, SAME plan envelope as the flat
    # learned path — corpus side is scan + Arrow assignment (never shuffles),
    # the two routing stages live inside the probe kernel on the tiny query
    # side, probes broadcast into one fine-cell BHJ, one rank-window shuffle.
    "emb_hier_ivf_topk": dict(
        shuffle_exchange=3, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=3
    ),
    # r13 (VERDICT r12 #5): unigram Viterbi — 3 map-side-combined shuffles
    # (piece counts, vocab distinct, per-doc reassembly) + ONE broadcast join
    # of the finished word segmentations onto the token stream. The DP itself
    # lives in a vocabulary-sized Arrow kernel: zero corpus-sized joins.
    "docs_viterbi_tokenize": dict(
        shuffle_exchange=3, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=0
    ),
    # r14: the per-doc (signature, shingle-set) table is localCheckpointed —
    # column pruning had split the banding and verify branches into different
    # aggregation subtrees (no ReuseExchange), running the tokenize+shingle
    # map side twice; the pinned plan is the post-checkpoint remainder.
    "docs_minhash_near_dup": dict(
        shuffle_exchange=4, broadcast_exchange=3, bnlj=0, cartesian=0, smj=0, bhj=3, shj=0, window=2
    ),
    # r8: post-checkpoint remainder (the tokenize+distinct+window index is
    # localCheckpointed so the self-join's two consumers share ONE pipeline
    # run); the remainder is the shingle-equality BHJ + the pair groupBy.
    "docs_shingle_jaccard": dict(
        shuffle_exchange=1, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=0
    ),
    # r14: the (id, simhash) fingerprint table is localCheckpointed — the
    # banded self-join's broadcast side recomputed the whole tokenize+vote
    # pipeline (no exchange to reuse); post-checkpoint remainder pinned.
    "docs_simhash_near_dup": dict(
        shuffle_exchange=2, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=0
    ),
    "emb_near_dup_lsh": dict(
        shuffle_exchange=2, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=0
    ),
    # The r3->r4 fix: the SCORED near-dup entry must stay the bucketed plan.
    "emb_near_dup_pairs": dict(
        shuffle_exchange=2, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=0
    ),
    # hot_rank is one global sort numbered by AttachDistributedSequence
    # (plans/ranking.py): no rank window, no offsets broadcast join, no local
    # checkpoint hiding the exchanges below it. The three shuffles are the
    # per-order collect, the per-table count and the sort's range exchange.
    "qe_table_read_frequency": dict(
        shuffle_exchange=3, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    "q1_pricing_summary": dict(
        shuffle_exchange=2, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    "q3_shipping_priority": dict(
        shuffle_exchange=1, broadcast_exchange=2, bnlj=0, cartesian=0, smj=0, bhj=2, shj=0, window=0
    ),
    "q5_local_supplier_volume": dict(
        shuffle_exchange=2, broadcast_exchange=5, bnlj=0, cartesian=0, smj=0, bhj=5, shj=0, window=0
    ),
    "lineitem_price_band_join": dict(
        shuffle_exchange=2, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=0
    ),
    # SMJ over the two bucketed tables; the exchanges belong to the top-5 output agg,
    # not the join (test_plans.py::test_bucketed_join_has_no_shuffle pins the
    # join-only property).
    "orders_customer_bucketed_join": dict(
        shuffle_exchange=2, broadcast_exchange=0, bnlj=0, cartesian=0, smj=1, bhj=0, shj=0, window=0
    ),
    "docs_decontaminate": dict(
        shuffle_exchange=4, broadcast_exchange=2, bnlj=0, cartesian=0, smj=0, bhj=2, shj=0, window=0
    ),
    "docs_contamination_ratio": dict(
        shuffle_exchange=6, broadcast_exchange=3, bnlj=0, cartesian=0, smj=1, bhj=3, shj=0, window=0
    ),
    # JN1 as one aggregate (operators/correlate.py): deduplicate_events hash-
    # partitions on QueryId once and correlate_submit_complete pairs each id's
    # submission and completion in a SortAggregate on the window's output — no
    # filter/filter/self-join, so the dedup runs once instead of once per side
    # (re-pinned from shuffle 2 / broadcast 1 / bhj 1 / window 6).
    "qe_submit_complete_join": dict(
        shuffle_exchange=1, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=2
    ),
    # The assessment rollup over the same pairing: the one dedup exchange, the
    # rollup's groupBy exchange and the output-order range exchange. A returning
    # self-join shows up here as an extra exchange plus a join.
    "qe_user_rollup": dict(
        shuffle_exchange=3, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=2
    ),
    "docs_exact_dedup": dict(
        shuffle_exchange=2, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    "docs_dup_clusters": dict(
        shuffle_exchange=3, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    "events_sessionize": dict(
        shuffle_exchange=2, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=2
    ),
    "signup_purchase_asof": dict(
        shuffle_exchange=1, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=1
    ),
    # round-4 additions. two_band (re-pinned twice in r14: first for the r13
    # zip_with rewrite — posexplode + per-doc lead() window, a shuffle+sort of
    # every training token, became narrow zip_with shingling (shuffle 10->7,
    # window 3->0) — then for the r14 FUSED one-pass form, ext/dedup.py: both
    # bands tagged + exploded once, one broadcast probe + one map-side-
    # combinable groupBy replaces the per-band passes and the long band's
    # semi-join + distinct + join-back (shuffle 7->5, bhj 5->3, smj 2->1);
    # re-oracled tri-SF after each re-shape).
    # ann_recall: BNLJ = the deliberate broadcast
    # query-set crossJoin inside the exact baseline. pack_invariants: BNLJ = the
    # 1-row x 1-row aggregate crossJoin (the single-job funnel discipline).
    "docs_two_band_decon": dict(
        shuffle_exchange=5, broadcast_exchange=3, bnlj=0, cartesian=0, smj=1, bhj=3, shj=0, window=0
    ),
    "events_column_profile": dict(
        shuffle_exchange=2, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    "emb_ann_recall": dict(
        shuffle_exchange=7, broadcast_exchange=2, bnlj=1, cartesian=0, smj=2, bhj=1, shj=0, window=6
    ),
    "docs_pack_invariants": dict(
        shuffle_exchange=6, broadcast_exchange=1, bnlj=1, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    "events_null_safe_join": dict(
        shuffle_exchange=5, broadcast_exchange=0, bnlj=0, cartesian=0, smj=1, bhj=0, shj=0, window=0
    ),
    # The global rank is one range-partitioned sort numbered by
    # AttachDistributedSequence (plans/ranking.py): no rank window, no offsets
    # broadcast join. The two shuffles are the rank's range exchange and the
    # output's own.
    "events_global_rank_sample": dict(
        shuffle_exchange=2, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    # Capstone: stage materialization (localCheckpoint between stages, the way a
    # real pipeline persists) keeps the five funnel branches from re-carrying the
    # upstream lineage — 49 static shuffles without the cuts, 5 with. bnlj=4 is
    # the 1-row funnel cross joins.
    "docs_training_prep_pipeline": dict(
        shuffle_exchange=6, broadcast_exchange=4, bnlj=4, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    # Round-4 TPC-H shape completion. At sf0.001 size-based stats let Catalyst
    # broadcast more sides than it would at scale (e.g. Q21's semi/anti self-joins
    # show as BHJ here, SMJ at 100 TB) — what the pin protects is bnlj=0/cartesian=0
    # and the broadcast of genuine dimension sides.
    "q7_volume_shipping": dict(
        shuffle_exchange=4, broadcast_exchange=4, bnlj=0, cartesian=0, smj=1, bhj=4, shj=0, window=0
    ),
    "q8_market_share": dict(
        shuffle_exchange=4, broadcast_exchange=6, bnlj=0, cartesian=0, smj=1, bhj=6, shj=0, window=0
    ),
    "q9_product_type_profit": dict(
        shuffle_exchange=2, broadcast_exchange=4, bnlj=0, cartesian=0, smj=0, bhj=4, shj=0, window=0
    ),
    "q15_top_supplier": dict(
        shuffle_exchange=4, broadcast_exchange=2, bnlj=0, cartesian=0, smj=0, bhj=2, shj=0, window=0
    ),
    "q17_small_quantity_revenue": dict(
        shuffle_exchange=2, broadcast_exchange=3, bnlj=0, cartesian=0, smj=0, bhj=3, shj=0, window=0
    ),
    "q21_waiting_suppliers": dict(
        shuffle_exchange=1, broadcast_exchange=5, bnlj=0, cartesian=0, smj=0, bhj=5, shj=0, window=0
    ),
    # bnlj=1 = the 1-row scalar AVG broadcast cross join (canonical Q22 scalar subquery).
    "q22_global_sales_opportunity": dict(
        shuffle_exchange=3, broadcast_exchange=2, bnlj=1, cartesian=0, smj=0, bhj=1, shj=0, window=0
    ),
    # LM scoring: vocab build (token shuffle) + broadcast vocab join + doc_id agg;
    # zero corpus self-shuffle beyond the id re-agg.
    "docs_unigram_surprisal": dict(
        shuffle_exchange=3, broadcast_exchange=2, bnlj=0, cartesian=0, smj=0, bhj=2, shj=0, window=0
    ),
    # bnlj=1 = the 1-row total-weight broadcast cross join inside domain_rates.
    "docs_temperature_mixture": dict(
        shuffle_exchange=5, broadcast_exchange=2, bnlj=1, cartesian=0, smj=0, bhj=1, shj=0, window=0
    ),
    # Pure narrow map + label roll-up: any join/window appearing here means the
    # projection stopped being a scan-local expression.
    "emb_random_projection": dict(
        shuffle_exchange=3, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    # Integer shift/mask z-key is scan-local; the only exchanges are the group agg.
    "orders_zorder_locality": dict(
        shuffle_exchange=2, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    # Three-stage admission with localCheckpoint lineage cuts at stage boundaries —
    # without them this plan measured 46 shuffles / 177 broadcast exchanges.
    # r7 re-pin (shingle_index window -> explode form): the 8 per-id Windows are
    # gone; each consumer now exchanges its own (smaller, partially-aggregated)
    # output instead of reusing the window's full-token-stream partitioning —
    # more exchanges, strictly less shuffled volume.
    # r14: stage-1 semi+anti twin joins fused into one marker join over a
    # DISTINCT corpus hash relation, stage-3 shingle relations checkpointed so
    # their two consumers (sizes + intersection) stop re-deriving them:
    # shuffle 21->13, bhj 8->7.
    "docs_incremental_ingest": dict(
        shuffle_exchange=13, broadcast_exchange=7, bnlj=0, cartesian=0, smj=1, bhj=7, shj=0, window=0
    ),
    # r7: Count-Min certification — vocab relation is localCheckpointed (its
    # build shuffle is behind the lineage cut); visible plan = one counter
    # groupBy shuffle + one broadcast lookup join, no windows.
    "docs_shingle_cms": dict(
        shuffle_exchange=1, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=0
    ),
    # Partitioned rows-frame window per event type — exactly one Window, no joins.
    "events_anomaly_days": dict(
        shuffle_exchange=3, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=1
    ),
    # mapInPandas chain is scan-local; exchanges are the kind roll-up only.
    "multimodal_resize": dict(
        shuffle_exchange=2, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    # Per-domain partitioned window + broadcast of the checkpointed domain table.
    "docs_epoch_schedule": dict(
        shuffle_exchange=2, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=1
    ),
    # bnlj=1 = the deliberate 1-row query-vector broadcast crossJoin; the window
    # ranks only the LEX_TOPK candidate rows.
    "docs_hybrid_search": dict(
        shuffle_exchange=3, broadcast_exchange=5, bnlj=1, cartesian=0, smj=0, bhj=4, shj=0, window=1
    ),
    # bnlj=1 = the tiny types x days spine crossJoin (both broadcast-sized);
    # the fill window is partitioned per type.
    "events_gap_fill": dict(
        shuffle_exchange=4, broadcast_exchange=2, bnlj=1, cartesian=0, smj=0, bhj=1, shj=0, window=1
    ),
    # Two-phase median: the r14 fusion hands bounds back via the driver-built
    # broadcast spec, so the final plan is ONE aggregate-free selection pass:
    # broadcast spec join + candidate ranking window + output sort.
    "lineitem_exact_median": dict(
        shuffle_exchange=2, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=1
    ),
    # Regex normalization is scan-local; exchanges are the fingerprint roll-up.
    "qe_query_fingerprints": dict(
        shuffle_exchange=4, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    # localCheckpoint of the (queue, duration) relation before the quantile
    # selector's references — without it: 13 shuffles / 19 windows. r14 spec
    # fusion drops the selector's two bounds re-aggregations and the n_rows
    # SortMergeJoin (shuffle 7->4, smj 1->0).
    "qe_runtime_percentiles": dict(
        shuffle_exchange=4, broadcast_exchange=2, bnlj=0, cartesian=0, smj=0, bhj=2, shj=0, window=1
    ),
    # Monthly mix + share-of-month window (tiny per-month partitions).
    "qe_mode_migration_trend": dict(
        shuffle_exchange=3, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=1
    ),
    # round 5: MG candidates -> broadcast-semi exact count (one gram shuffle,
    # one map-side-combined count; the corpus never shuffles by term).
    # round 6 (ADVICE): + exactness guard — 3 global windows and a second
    # broadcast join, ALL over the bounded candidate summary (<= capacity
    # rows), computing the k-th count vs the n/capacity floor for the in-plan
    # assert_true. The corpus-side shape is unchanged.
    "docs_heavy_terms": dict(
        shuffle_exchange=5, broadcast_exchange=2, bnlj=0, cartesian=0, smj=0, bhj=2, shj=0, window=3
    ),
    # round 5: k-gram span detection — gram-keyed dup count + semi join back +
    # per-doc interval-union window + coverage join.
    "docs_repeated_spans": dict(
        shuffle_exchange=4, broadcast_exchange=2, bnlj=0, cartesian=0, smj=0, bhj=2, shj=0, window=2
    ),
    # round 5: contamination audit = the pinned fused-MinHash shape + one rollup
    # shuffle; split assignment is scan-local. r7 re-pin: windows 6 -> 2 (the
    # shingle windows left with the explode-form shingle_index; the remaining 2
    # are the candidate-rank windows).
    # r14: fused-MinHash per-doc checkpoint (see docs_minhash_near_dup).
    "docs_split_leakage": dict(
        shuffle_exchange=5, broadcast_exchange=3, bnlj=0, cartesian=0, smj=0, bhj=3, shj=0, window=2
    ),
    # round 5: composed assessment report — four section aggregates over the
    # checkpointed correlated log (pre-checkpoint dedup+correlate not re-shown);
    # the single window is the 2-row engine-mix share.
    "qe_assessment_summary": dict(
        shuffle_exchange=6, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=1
    ),
    # round 5: hard-negative mining = sign-bucket BroadcastHashJoin with the
    # label-inequality predicate fused into the candidate join (no BNLJ).
    "emb_hard_negatives": dict(
        shuffle_exchange=2, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=3
    ),
    # round 7 (SCORED): PPS systematic sample — the STATIC plan shows the range
    # shuffle, the pid-totals agg, the tiny offsets window and the broadcast
    # offset/total joins (pre-AQE, reused subtrees counted per appearance);
    # the BNLJ is the 1-row total-weight crossJoin. A second data shuffle or a
    # lost broadcast here means the prefix-sum decomposition regressed.
    "docs_pps_sample": dict(
        shuffle_exchange=8, broadcast_exchange=2, bnlj=1, cartesian=0, smj=0, bhj=1, shj=0, window=1
    ),
    # round 7: FastSS deletion-variant self-join — one equi BHJ on the variant
    # (never a nested loop), distinct/groupBy shuffles around it.
    "docs_fuzzy_typo_pairs": dict(
        shuffle_exchange=4, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=0
    ),
    # round 7: CDC report — post-checkpoint remainder (the per-position md5
    # pass is materialized once and not re-shown); BNLJs are the 1-row
    # totals x pair-stat crossJoins, the SMJ is the orig-vs-twin semi join.
    "docs_cdc_chunking": dict(
        shuffle_exchange=6, broadcast_exchange=2, bnlj=2, cartesian=0, smj=1, bhj=0, shj=0, window=0
    ),
    # r13 re-pin (VERDICT r12 #2): outdeg now rides the degree-annotated edge
    # list, so rank rows leave the last checkpointed round already carrying
    # their outdeg — the final rank-degree join (and with it the whole
    # post-checkpoint remainder: 2 shuffles + 1 SMJ) collapsed to a
    # filter + TakeOrderedAndProject. Per round the join count dropped from
    # 2 (ranks->deg, then ->edges) to 1 (ranks->annotated edges).
    "docs_dup_pagerank": dict(
        shuffle_exchange=0, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    # round 7: sliding HLL — post-checkpoint of the daily registers: the spine
    # window merge, the per-day estimate agg, and the exact control's
    # broadcast range join (the 2 BNLJs: day-spine range join + 1-row joins).
    "events_sliding_hll_users": dict(
        shuffle_exchange=9, broadcast_exchange=4, bnlj=2, cartesian=0, smj=0, bhj=2, shj=0, window=1
    ),
    # round 7: dHash — ONE narrow mapInPandas + the output sort. Anything more
    # means the byte-roundtrip pipeline grew a join or extra shuffle.
    "media_image_dhash": dict(
        shuffle_exchange=2, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    # round 7: HLL split overlap — post-checkpoint: three register estimates +
    # exact control crossJoined (the 3 BNLJs are all 1-row sides).
    "docs_split_hll_overlap": dict(
        shuffle_exchange=7, broadcast_exchange=3, bnlj=3, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    # round 7: decode-rate certificate — synthesize + decode UDFs are narrow;
    # the shuffles are the repartition(64) spread, the byte-budget agg and the
    # final per-(kind, format) rollup.
    "multimodal_decode_rates": dict(
        shuffle_exchange=3, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    # round 7: SemDeDup cluster-scoped dedup — post-checkpoint remainder: the
    # within-cluster pair join (BHJ at test size; equi on centroid_id, so the
    # at-scale SMJ flip is covered by the size-dependent tolerance test), the
    # removed-distinct + two cluster aggs + output sort shuffles, and the
    # sizes-vs-removed left SMJ. No window, never a nested loop.
    "emb_semantic_dedup": dict(
        shuffle_exchange=4, broadcast_exchange=1, bnlj=0, cartesian=0, smj=1, bhj=1, shj=0, window=0
    ),
    # round 7: KMV sketch — post-checkpoint remainder (base/global/merged
    # bottom-k sets are materialized): the exact-control distinct + the three
    # 1-row-agg crossJoins (BNLJ) + the k-row sketch-overlap equi join (BHJ).
    # window=0 because the per-split ROW_NUMBER runs before the `merged`
    # checkpoint and so is not part of this remainder.
    "docs_shingle_kmv": dict(
        shuffle_exchange=5, broadcast_exchange=4, bnlj=3, cartesian=0, smj=0, bhj=1, shj=0, window=0
    ),
    # round 7: KMV Jaccard — post-checkpoint remainder: the two k-row
    # membership equi joins (BHJ), the exact-control groupBys, and the two
    # 1-row report crossJoins (BNLJ).
    "docs_split_kmv_jaccard": dict(
        shuffle_exchange=4, broadcast_exchange=4, bnlj=2, cartesian=0, smj=0, bhj=2, shj=0, window=0
    ),
    # round 8: quantile sketch — the exact-control machinery dominates the
    # final plan (the sketch itself resolved to a LocalTableScan of the 3
    # collected thresholds): bounds/candidate joins of the two-phase exact
    # quantile (the two 1-row-broadcast BNLJ, see BNLJ_ALLOWED), one candidate
    # ranking window, the single-scan conditional count, and the 3-row report
    # equi joins (BHJ).
    # r14 spec fusion: the exact control's bounds ride the broadcast spec
    # (shuffle 8->5, one of the two 1-row-broadcast BNLJ gone).
    "events_sampled_quantiles": dict(
        shuffle_exchange=5, broadcast_exchange=4, bnlj=1, cartesian=0, smj=0, bhj=3, shj=0, window=1
    ),
    # round 8: MP4 container certification — synthesize + box-walk + decode are
    # all narrow mapInPandas stages; the only exchanges are the deliberate
    # pre-UDF repartition, the grouped rollup, and the output sort.
    "media_mp4_container_stats": dict(
        shuffle_exchange=3, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0, bhj=0, shj=0, window=0
    ),
    # round 8: bucketed interval join — sessionize window + session rollup,
    # then the point-in-interval join plans as a size-dependent equi BHJ on
    # the bucket key with the range refine as residual condition (flips to
    # SMJ at scale; never a nested loop). One count-distinct window on top.
    "events_session_concurrency": dict(
        shuffle_exchange=2, broadcast_exchange=1, bnlj=0, cartesian=0, smj=0, bhj=1, shj=0, window=2
    ),
}

# Queries whose BNLJ is the deliberate tiny-broadcast crossJoin pattern
# (broadcast query/centroid sets, or 1-row scalar-aggregate cross joins).
BNLJ_ALLOWED = {
    "emb_cosine_topk",
    "emb_topk_scaled_bruteforce",
    # emb_topk_scaled_ivf left this set in r9: the quantized-Lloyd re-plan
    # removed its centroid crossJoin entirely
    "emb_ann_recall",
    "docs_pack_invariants",
    "docs_training_prep_pipeline",
    "q22_global_sales_opportunity",
    "docs_temperature_mixture",
    "docs_hybrid_search",
    # r12: BM25's corpus stats (N, avgdl) re-enter as a 1-row broadcast
    # crossJoin (the tfidf/median pattern) — in both the standalone row and
    # the RRF fusion's lexical leg
    "docs_bm25_topk",
    "docs_hybrid_rrf",
    "docs_bm25_stream_index_parity",
    "docs_retrieval_metrics",
    # r13: the per-leg judged hybrid — its 4 BNLJ are the same 1-row corpus
    # stats crossJoins, once per BM25 evaluation inside the lex/rrf legs
    "docs_hybrid_metrics",
    # r13: the window advisor row crossJoins its 1-row advice relation
    # (total_rows, top_share, strategy) onto the top-k output
    "events_window_advice_applied",
    # r13: filtered ANN — the prefilter branch's BNLJ is the deliberate
    # broadcast crossJoin of the tiny query set against the FILTERED corpus
    # slice (the emb_cosine_topk pattern); the postfilter branch is pure BHJ
    "emb_filtered_topk",
    "events_gap_fill",
    # round-5 sweep additions — every BNLJ below is a crossJoin of 1-row scalar
    # aggregates (funnel/parity counters, a share-of-total denominator, the IDF
    # corpus count), i.e. broadcast sides of exactly one row:
    "events_funnel",
    "docs_pack_stream_parity",
    "qe_stream_batch_parity",
    "important_part_stock",
    "docs_tfidf_top_terms",
    # (r7: docs_shingle_hll left this list — hll_certified computes sketch and
    # exact control in one linear pipeline, no scalar crossJoin remains)
    # r7: the merged '*ALL*' row is a crossJoin of two 1-row aggregates over the
    # checkpointed distinct level (merged registers x global exact control)
    "docs_shingle_hll_by_lang",
    # r7: PPS sampling joins the 1-row total-weight aggregate (and the tiny
    # per-partition offset table) back onto the corpus — both broadcast
    "docs_pps_sample",
    # r7: fixed-point PageRank crossJoins the 1-row node-count aggregate onto
    # the node set before the first iteration
    "docs_dup_pagerank",
    # r7: KMV — the one-row report crossJoins four 1-row aggregates (global
    # kth hash x merged kth hash x overlap count x exact control)
    "docs_shingle_kmv",
    # r7: KMV Jaccard — the one-row report crossJoins the membership count,
    # the union kth hash and the exact-control aggregate
    "docs_split_kmv_jaccard",
    # r7: the one-row report joins three 1-row aggregates (corpus totals x
    # orig-chunk count x shared-chunk count)
    "docs_cdc_chunking",
    # r8: the one-row report crossJoins the 1-row CMS estimate with the 1-row
    # exact-control aggregate (both broadcast scalars)
    "events_cms_join_size",
    # r9: each advice row crossJoins three 1-row aggregates (left stats x
    # right stats x CMS estimate — all broadcast scalars)
    "events_join_advice",
    # r9: sliding CMS — the day-spine crossJoins broadcast sketch-sized sides
    # (<= d*w nonzero cells, <= |types|*d probes, |types| rows); every
    # full-data operation is the one daily-counter shuffle
    "events_sliding_cms_types",
    # r8: PQ ADC scan crossJoins the TOPK_QUERIES-row broadcast query set onto
    # the coded corpus (same deliberate pattern as emb_cosine_topk)
    "emb_pq_topk",
    # r8: the grouped quantile sketch crossJoins the 2-row (qname, q) constant
    # table onto the <= G*k-row sample (broadcast side literally two rows)
    "events_grouped_sampled_quantiles",
    # r8: the exact-control joins tag rows with the 1-row global bounds
    # aggregate (constant group key folds the equi condition away, so the
    # 1-row broadcast plans as BNLJ); the 3-row threshold table joins are BHJ
    "events_sampled_quantiles",
    # r7: the exact control joins the <= #days broadcast spine to the per-day
    # distinct level on a trailing-range predicate (certification-only path;
    # the production register path has no such join)
    "events_sliding_hll_users",
    # r7: the one-row report crossJoins four 1-row aggregates (est_a x est_b x
    # est_union x exact overlap), all over the checkpointed distinct level
    "docs_split_hll_overlap",
    # r11: the top-k rows crossJoin the 1-row split-certification aggregate
    # (hot_rows x max_bucket x split_ok — one broadcast scalar row)
    "events_salted_group_topk",
    # r11: the DLT threshold tau is a 1-row aggregate crossJoined onto the
    # k-row sample (and re-entering the final report) — broadcast scalars
    "docs_priority_sample",
    # r11: each curve crossJoins the 1-row total-count aggregate for the
    # equal-count file assignment — broadcast scalar
    "orders_hilbert_locality",
}


# Queries whose pinned broadcasts are SIZE-DEPENDENT (Catalyst-chosen from
# toy-SF statistics, not F.broadcast()-hinted): at 100x the candidate side can
# exceed autoBroadcastJoinThreshold and AQE will flip those joins to
# SMJ/SHJ — a CORRECT runtime re-plan that the exact pins above would flag
# (VERDICT r5 #6, seen first on docs_repeated_spans' candidate-gram semi
# join). The flip test below disables broadcast-by-size entirely and asserts
# the properties that must SURVIVE the flip: equi-join count (strategy-
# agnostic — a join may change strategy, never disappear into a BNLJ or
# cartesian), window count, and scale-safety.
SIZE_DEPENDENT_BROADCAST = [
    "docs_repeated_spans",
    "docs_minhash_near_dup",
    "docs_split_leakage",
    "docs_decontaminate",
    "docs_heavy_terms",
    "lineitem_price_band_join",
    "q7_volume_shipping",
    "q21_waiting_suppliers",
    "qe_table_read_frequency",
    "emb_semantic_dedup",
    "events_session_concurrency",
]


@pytest.mark.parametrize("name", SIZE_DEPENDENT_BROADCAST)
def test_size_dependent_pins_tolerate_broadcast_smj_flip(spark, name):
    pinned = PLAN_SIGNATURES[name]
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sig = plan_signature(QUERIES[name](spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
    assert_scale_safe(sig, allow_bnlj=name in BNLJ_ALLOWED)
    got_joins = sig["smj"] + sig["bhj"] + sig["shj"] + sig["bnlj"]
    want_joins = pinned["smj"] + pinned["bhj"] + pinned["shj"] + pinned["bnlj"]
    assert got_joins == want_joins, (
        f"{name}: equi-join count changed under no-broadcast planning "
        f"(pinned {want_joins}, got {got_joins}): {sig}"
    )
    assert sig["window"] == pinned["window"], (name, sig)


@pytest.mark.parametrize("name", sorted(PLAN_SIGNATURES))
def test_plan_signature_pinned(spark, name):
    sig = plan_signature(QUERIES[name](spark, SF))
    assert sig == PLAN_SIGNATURES[name], (
        f"{name}: plan shape changed.\n  pinned : {PLAN_SIGNATURES[name]}\n"
        f"  current: {sig}\nIf deliberate, review the delta and re-pin."
    )
    assert_scale_safe(sig, allow_bnlj=name in BNLJ_ALLOWED)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_registry_sweep_scale_safe(spark, name):
    """SCALE.md as an executable claim (VERDICT r4 #9): EVERY registry query —
    not just the pinned subset — must be free of CartesianProduct and of any
    BroadcastNestedLoopJoin outside the documented tiny-broadcast allowlist
    (BNLJ_ALLOWED above: broadcast query/centroid sets, 1-row scalar-aggregate
    cross joins, bounded spine crossJoins). Signatures come from the
    pre-execution physical plan, so the sweep costs plan compilation only."""
    sig = plan_signature(QUERIES[name](spark, SF))
    assert_scale_safe(sig, allow_bnlj=name in BNLJ_ALLOWED)


def test_bpe_round_job_plan_pinned(spark):
    """docs_bpe_train's registry plan is a trivial LocalTableScan (training is a
    driver-sequenced loop), so pin the HOT plan instead: the per-round pair-count
    job over the word-type table. Exactly two shuffles — the corpus word groupBy
    and the pair-count groupBy, both map-side-combined — and nothing else; a third
    Exchange or any join appearing here means a regression in the inner loop that
    runs once per merge round."""
    from hadoop_migration_assessment_tools_spark.ext.bpe import (
        _pair_counts,
        word_frequency_table,
    )
    from hadoop_migration_assessment_tools_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    sig = plan_signature(_pair_counts(word_frequency_table(docs)))
    assert sig == dict(
        shuffle_exchange=2, broadcast_exchange=0, bnlj=0, cartesian=0, smj=0,
        bhj=0, shj=0, window=0,
    ), sig
    assert_scale_safe(sig)


def test_audit_catches_degraded_join(spark):
    """Sensitivity proof: a broadcast hint falling off a non-equi join must trip the
    checker (the 'deliberate regression fails the suite' criterion)."""
    from pyspark.sql import functions as F

    a = spark.range(100).select(F.col("id").alias("x"))
    b = spark.range(100).select(F.col("id").alias("lo"), (F.col("id") + 5).alias("hi"))
    naive = a.join(b, (F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi")))
    sig = plan_signature(naive)
    assert sig["bnlj"] + sig["cartesian"] >= 1  # the naive plan really is degenerate
    with pytest.raises(AssertionError):
        assert_scale_safe(sig, allow_bnlj=False)


def test_audit_counts_nodes_once():
    """Node parsing uses the per-node detail headers, not substring counts — a plan
    text mentioning Exchange in both tree and details must count each node once."""
    fake = (
        "AdaptiveSparkPlan\n"
        "+- Exchange (4)\n"
        "   +- BroadcastExchange (3)\n\n"
        "(3) BroadcastExchange\nArguments: x\n\n"
        "(4) Exchange\nArguments: hashpartitioning\n"
    )
    sig = plan_signature(fake)
    assert sig["shuffle_exchange"] == 1
    assert sig["broadcast_exchange"] == 1
