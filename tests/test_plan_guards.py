"""Plan-shape regression guards: no registered query may silently plan a
CartesianProduct, and BroadcastNestedLoopJoin is allowed only where the
operator broadcasts a structurally-small side BY DESIGN (documented in
the allowlist below). Catches the classic scale regression — an edit
that drops a join key or defeats a pushed filter and turns a hash join
into an all-pairs plan — without executing anything big: plans build
against the sf0.001 fixture."""

from __future__ import annotations

import pytest

from vertica_hadoop_integration__spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# BroadcastNestedLoopJoin by design: one side is dimension-sized or an
# explicitly broadcast query/eval set; the huge side streams map-side.
BNLJ_OK = {
    "range_join_price_bands",   # broadcast interval dimension (non-equi)
    "ann_cosine_topk",          # broadcast query vectors vs corpus scan
    "ann_cosine_topk_arrow",    # same kernel, Arrow scorer
    "ann_pca_lossless_audit",   # exact leg = brute_force_topk (broadcast
                                # query vectors vs corpus scan, the
                                # ann_cosine_topk shape)
    "ann_pca_topk",             # audit form (r11): the independent
                                # projected-space leg is brute_force_topk
                                # over pc arrays (broadcast 10-query
                                # side); everything else is id-keyed
    "ann_range_search",         # broadcast query side, radius predicate
    "ann_ivf_topk",             # broadcast centroid table (probe assignment)
    "ann_ivf_filtered_topk",    # same probe pipeline (broadcast centroid
                                # table); the metadata filter is an
                                # id-keyed semi-join, never a cross
    "ann_ivf_kmeans_topk",      # same probe, k-means-refined centroid table
    "ann_ivf_pq_topk",          # broadcast centroid table (probe selection)
    "ann_pq_rerank_topk",       # PQ stage broadcasts codebook/LUT; rerank
                                # stage broadcasts the tiny shortlist
    "ann_sq8_rerank_topk",      # broadcast quantized query side vs corpus
                                # scan; rerank broadcasts the query floats
    "dedup_embedding_cosine_exact_smalln",  # bounded-input contract: the
                                # crossJoin build side is structurally
                                # capped (vec_id < 1000) in the plan
                                # itself; scale path is
                                # dedup_embedding_lsh
    "embedding_kmeans",         # broadcast centroid table
    "embedding_hard_negatives",  # broadcast anchor vectors vs corpus scan
    "embedding_label_noise",     # self-kNN verifier form (broadcast query
                                 # side; 100 TB path probes the IVF index)
    "corpus_semantic_decontaminate",  # broadcast eval set (small by
                                      # nature) vs map-side corpus scan
    "ann_recall_report",        # composes ann_cosine_topk + ann_ivf_topk
                                # (both rows above); report itself is
                                # equi-join + per-query agg
    "text_hybrid_search",       # semantic leg = broadcast 1-vector query
                                # (brute_force_topk); lexical leg carries
                                # bm25's 1-row corpus scalars
    "corpus_source_overlap",    # source-pair expansion is a broadcast
                                # cross of the DISTINCT-source list
                                # (sketch-table-sized, never corpus rows)
    "embedding_truncation_eval",  # two brute_force_topk legs (broadcast
                                  # query side, same as ann_cosine_topk)
    "ann_ndcg_report",          # composes pq_topk (broadcast codebook/
                                # LUT) + brute_force_topk (broadcast
                                # query side); report is equi-join + agg
    "pipeline_mmr_rerank",      # candidate stage is brute_force_topk
                                # (broadcast query side); greedy rounds
                                # join bounded per-query shortlist frames
    "pipeline_mmr_rerank_ivf",  # candidate stage is the IVF probe
                                # (broadcast centroid table); greedy
                                # rounds identical to the row above
    "dedup_recall_report",      # bounded-input contract: the exhaustive
                                # truth pass's crossJoin side is
                                # structurally capped (doc_id < 500) in
                                # the plan; also carries the 1-row
                                # n_true x n_found report cross
}

# A broadcast CROSS join of a 1-ROW aggregate (global bounds / totals /
# averages) also plans as BroadcastNestedLoopJoin — scale-safe because
# the broadcast payload is a single row. Each entry names its scalar.
SCALAR_BROADCAST_OK = {
    "corpus_mixture_report",        # corpus token total
    "corpus_temperature_mixture",   # corpus token total + weight
                                    # normalizer (two 1-row scalars)
    "stats_welch_ttest",            # the two group-moment rows (one per
                                    # variant) crossed into the 1-row test
    "corpus_vocab_stats",           # top-k token sum
    "events_gap_fill_locf",         # global [min, max] bucket bounds
    "events_gap_fill_interpolate",  # global [min, max] bucket bounds
    "subquery_above_avg",           # global average scalar subquery
    "text_tfidf_topterms",          # corpus document count
    "text_unigram_logprob",         # corpus token total
    "text_collocations_pmi",        # corpus token total
    "q11_important_stock",          # 1-row value-total scalar
    "q15_top_supplier",             # 1-row max-revenue scalar
    "q22_waiting_customers",        # 1-row average-balance scalar
    "corpus_quality_cut_quantile",  # 1-row global-percentile threshold
    "text_search_bm25",             # 1-row (N, avgdl) corpus scalars
    "events_decayed_value",         # 1-row max-timestamp anchor scalar
    "graph_pagerank_parts",         # 1-row node-count scalar per iteration
    "text_bigram_logprob",          # 1-row corpus-token-total scalar
    "corpus_curriculum_order",      # 1-row quartile-thresholds scalar
    "corpus_mixture_rebalance",     # 1-row token-total + kept-total scalars
    "sketch_kmv_set_ops",           # three 1-row sketch-estimate scalars
    "dq_referential_integrity",     # 1-row orphan-count x 1-row total join
    "corpus_dsir_sample",           # two 1-row split-total scalars (tt, tr)
    "corpus_ccnet_buckets",         # 1-row corpus-token-total scalar
                                    # (unigram LM) under the lang-keyed
                                    # threshold equi-join
    "skew_range_rebalance",         # 1-row percentile-cuts scalar
    "layout_zorder_profile",        # 1-row column-bounds scalar
    "text_kn_bigram_logprob",       # 1-row bigram-type-total scalar
    "corpus_dedup_summary",         # three 1-row funnel-count scalars
    "dq_freshness",                 # 1-row corpus-max-timestamp anchor
    "basket_affinity_rules",        # 1-row distinct-order-total scalar
    "dq_distribution_drift",        # 1-row percentile-cuts + split-total
                                    # scalars (PSI binning)
    "dq_distribution_drift_by_group",  # groups x 11-row bin spine cross
                                    # (both sides bounded by the group
                                    # cardinality, never fact rows) +
                                    # broadcast per-group cut table
    "customer_rfm_segments",        # 1-row RFM quintile-cuts scalar
    "corpus_quantile_normalize",    # 1-row 101-knot global-quantile grid
    "sketch_ams_f2",                # 1-row sign-sum sketch x 1-row exact-F2
    "dq_ks_drift",                  # 1-row percentile-cuts + split-total
                                    # scalars (binned KS, same shape as PSI)
    "events_ab_test",               # two 1-row variant-count scalars crossed
    "dq_benford",                   # 1-row positive-value total scalar
    "corpus_neyman_sample",         # 1-row allocation-weight total scalar
    "stats_chi2_independence",      # 1-row grand-total scalar under the
                                    # (r x c)-bounded contingency cells
    "events_survival_km",           # 1-row corpus-max-ts + 1-row user-count
                                    # scalars over the bounded day spine
    "graph_modularity",             # 1-row 2m edge-weight total scalar
    "dedup_minhash_lsh",            # audit form (r11): four 1-row audit
                                    # aggregates crossed into the single
                                    # published row
    "dedup_simhash",                # audit form (r11): same 1-row crosses
    "dedup_minhash_probe",          # audit form (r11): same 1-row crosses
    "dedup_minhash_clusters",       # audit form (r11): same 1-row crosses
    "stats_mann_whitney",           # 1-row pooled quantile-cuts scalar
                                    # (the ks_drift broadcast shape)
    "events_markov_stationary",     # 1-row state-count scalar for the
                                    # uniform start vector
}
BNLJ_OK |= SCALAR_BROADCAST_OK

# CartesianProduct by design: deliberate small-side cross joins (1-row
# bounds/totals frames are broadcast, not cartesian, so nothing needs
# this — keep empty and let any appearance fail loudly).
CARTESIAN_OK: set[str] = set()

# Unpartitioned (global) WindowExec by design: every entry must justify a
# BOUNDED input to the single-partition window — a global window over an
# unbounded frame funnels the whole table through one task at 100 TB.
# (The r04 verdict's two offenders, corpus_weighted_sample and
# sketch_countmin_topk, were rewritten to mergeable orderBy+limit and are
# deliberately NOT listed here.)
GLOBAL_WINDOW_OK = {
    "s12_salt_round_robin",      # dense row_number oracle twin; scale path
                                 # is pmod (relational.py::salt_round_robin)
    "text_collocations_pmi",     # rank over the post-limit top-50 rows only
    "events_top_paths",          # rank over the post-limit top-20 rows only
    "s7_rank_partitions",        # rank over the DISTINCT month list
                                 # (relational.py::rank_newest_first —
                                 # O(#months) input by construction)
    "s8_skip_latest",            # same month-list rank, recency filter
    "text_hybrid_search",        # rank over the two post-limit 50-row
                                 # leg frames only
    "s10_pending_pipeline",      # flagship composes the same month rank
    "corpus_zipf_fit",           # ln-rank over the post-limit top-200
                                 # token rows only
    "dq_ks_drift",               # cumulative CDF over the bounded
                                 # 50-row bin spine only (never fact rows)
    "stats_mann_whitney",        # cumulative midranks over the bounded
                                 # 50-row bin spine only (the ks_drift
                                 # shape; never fact rows)
    "events_survival_km",        # KM cumulative hazard over the duration
                                 # spine — bounded by the corpus time span
                                 # in DAYS (calendar-bounded at any data
                                 # scale), never fact rows
}


def _unpartitioned_windows(plan: str) -> list[str]:
    """Lines whose WindowExec has NO partition spec: the node prints
    ``Window [functions], [orderSpec]`` (2 depth-0 bracket groups) when
    unpartitioned vs ``Window [functions], [partSpec], [orderSpec]``.
    A partitioned-but-UNORDERED window (e.g. max() over partitionBy with
    no orderBy) also prints 2 groups, so for 2-group lines the
    windowspecdefinition args are inspected: partition columns carry no
    ASC/DESC marker, order columns always do."""
    bad = []
    for line in plan.splitlines():
        idx = line.find("Window [")
        if idx < 0:
            continue
        groups, depth = 0, 0
        for ch in line[idx + len("Window ") :]:
            if ch == "[":
                if depth == 0:
                    groups += 1
                depth += 1
            elif ch == "]":
                depth -= 1
        if groups >= 3:
            continue
        spec_at = line.find("windowspecdefinition(")
        if spec_at >= 0:
            frame_at = line.find("specifiedwindowframe", spec_at)
            args = line[spec_at + len("windowspecdefinition(") : frame_at]
            if args.strip().rstrip(",").strip() and (
                " ASC" not in args and " DESC" not in args
            ):
                continue  # partitioned, just unordered
        bad.append(line.strip())
    return bad

# Queries whose FUNCTION performs driver-side iteration or side-effect
# setup that makes repeated cheap plan-builds awkward; each has its own
# dedicated test elsewhere.
SKIP = {
    "s19_csv_orc_roundtrip",        # writes a temp CSV staging dir first
    "s16_truncate_semantics",       # trivial empty-frame plan
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_has_no_accidental_all_pairs_join(spark, name):
    if name in SKIP:
        pytest.skip("covered by dedicated tests")
    df = QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name not in CARTESIAN_OK:
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian join"
    if name not in BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join — if a broadcast-by-design "
            "operator changed, extend BNLJ_OK with a justification"
        )
    if name not in GLOBAL_WINDOW_OK:
        bad = _unpartitioned_windows(plan)
        assert not bad, (
            f"{name} plans an unpartitioned global WindowExec (whole input "
            "funnels through ONE task at scale) — use a mergeable "
            "orderBy+limit / partitioned window, or extend GLOBAL_WINDOW_OK "
            f"with a boundedness justification: {bad[0]}"
        )


def test_exact_cosine_baseline_is_structurally_bounded(spark):
    """The only all-pairs cosine query must carry its vec_id cap INTO the
    scan (pushed filter on both crossJoin inputs), so the quadratic step
    is bounded at any scale factor — not just documented as such.  (The
    r05 verdict flagged the unbounded predecessor as the repo's one
    scale-killer plan; this pins the fix.)"""
    df = QUERIES["dedup_embedding_cosine_exact_smalln"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LessThan(vec_id,1000)") >= 2 or \
        plan.count("vec_id#") and plan.count("< 1000") >= 2, (
        "vec_id < 1000 cap not pushed to both scan sides:\n" + plan
    )


def test_no_cross_invocation_result_memo():
    """The r10->r11 lesson institutionalized (r11 VERDICT item 10): no
    module in plans/ or operators/ may keep a module-level memo keyed on
    the Spark application or the test-data directory — that is result
    caching across bench invocations (the removed shared_graph._CACHE),
    not optimization.  Two static checks over the package source:

    * no code node anywhere in plans/ or operators/ reads
      ``sparkContext.applicationId`` (the key the r10 memo used);
    * every module-level dict assignment is in the allowlist below,
      each entry justified as either a constant registry or a memo of
      *input synthesis* bounded by a data-independent period (never
      keyed on sf_dir / applicationId).
    """
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "vertica_hadoop_integration__spark"
    allowed_dicts = {
        # constant registries (never mutated per invocation)
        ("operators/multimodal.py", "DECODERS"),
        ("operators/text.py", "LANG_MARKERS"),
        ("operators/text.py", "SENTIMENT_LEXICON"),
        # the query/oracle registries: filled once at import time by
        # @register decoration, keyed on query name — the registry the
        # driver itself reads, not a result memo
        ("plans/registry.py", "QUERIES"),
        ("plans/registry.py", "ORACLES"),
        # bounded per-worker fixture-payload memo: keyed on
        # (kind, doc_id % class-period) — pure input synthesis, nothing
        # derived from query results, disclosed in bench.py methodology
        ("operators/multimodal.py", "_FIXTURE_CACHE"),
    }
    offenders = []
    for sub in ("plans", "operators"):
        for path in sorted((pkg / sub).glob("*.py")):
            rel = f"{sub}/{path.name}"
            tree = ast.parse(path.read_text())
            for node in ast.walk(tree):
                if isinstance(node, ast.Attribute) and node.attr == "applicationId":
                    offenders.append(f"{rel}:{node.lineno} reads applicationId")
            for node in tree.body:  # module level only
                targets = []
                if isinstance(node, ast.Assign):
                    targets, value = node.targets, node.value
                elif isinstance(node, ast.AnnAssign) and node.value is not None:
                    targets, value = [node.target], node.value
                else:
                    continue
                is_dict = isinstance(value, (ast.Dict,)) or (
                    isinstance(value, ast.Call)
                    and isinstance(value.func, ast.Name)
                    and value.func.id == "dict"
                )
                if not is_dict:
                    continue
                for t in targets:
                    if isinstance(t, ast.Name) and (rel, t.id) not in allowed_dicts:
                        offenders.append(
                            f"{rel}:{node.lineno} module-level dict {t.id!r} "
                            "— if this is a constant registry, allowlist it "
                            "with a justification; if it is a memo, remove it"
                        )
    assert not offenders, "\n".join(offenders)


def test_one_stream_starter():
    """Every foreachBatch stream starts through one function: ``.writeStream``
    is referenced in exactly one engine function, and no engine function
    takes a ``trigger_available_now`` parameter (a per-starter trigger
    knob that no caller set)."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "vertica_hadoop_integration__spark"
    starters, knobs = set(), []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            args = fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
            if any(a.arg == "trigger_available_now" for a in args):
                knobs.append(f"{rel}:{fn.lineno} {fn.name}")
            if any(
                isinstance(n, ast.Attribute) and n.attr == "writeStream"
                for n in ast.walk(fn)
            ):
                starters.add(f"{rel}::{fn.name}")
    assert len(starters) == 1, sorted(starters)
    assert not knobs, knobs
