"""Physical-plan assertions (SURVEY §5.5): the scale-critical plan choices
must be visible in ``explain``, not assumed — a correct-but-weak plan is a
regression even when values match (VERDICT r1 standing rules)."""

from __future__ import annotations

import re

import pytest

from userportrait.registry import load_all_ops

from .conftest import SF_DIR

OPS = load_all_ops()


def _plan(spark, name: str) -> str:
    return OPS[name].fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_broadcast_dim_uses_broadcast_hash_join(spark):
    assert "BroadcastHashJoin" in _plan(spark, "join_broadcast_dim")


def test_filter_simple_pushes_predicates_to_parquet(spark):
    plan = _plan(spark, "filter_simple")
    assert "PushedFilters: [" in plan
    # at least one real predicate reached the scan (not just the empty list)
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no predicates pushed to the parquet scan"


def test_scan_prunes_columns(spark):
    # proj_select_rename reads 2 of 5 customer columns; ReadSchema must show
    # the pruned projection, not the full table schema.
    plan = _plan(spark, "proj_select_rename")
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "c_acctbal" not in read_schema


def test_knn_has_no_cartesian_product(spark):
    # the broadcast-index kNN must never fall back to a join-based n² plan
    plan = _plan(spark, "sim_cosine_knn")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sortmerge_big_is_sort_merge(spark):
    assert "SortMergeJoin" in _plan(spark, "join_sortmerge_big")


def test_minhash_join_is_hash_based_not_nested_loop(spark):
    plan = _plan(spark, "dedup_near_minhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_join_is_hash_not_nested_loop(spark):
    # range-binned interval join: bucket equi-key => BroadcastHashJoin
    plan = _plan(spark, "join_interval")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_eliminates_shuffle(spark):
    # both sides bucketed by the join key => SortMergeJoin with ZERO Exchange
    plan = _plan(spark, "sink_bucketed_join")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_sample_stratified_has_no_shuffle(spark):
    # deterministic sampling is a pure map pass: any Exchange is a regression
    assert "Exchange" not in _plan(spark, "sample_stratified")


def test_sessionize_events_has_exactly_one_exchange(spark):
    # the user_id partitioning must be shared by both windows AND the
    # per-session aggregate: one shuffle total
    assert _plan(spark, "sessionize_events").count("Exchange hashpartitioning") == 1


def test_skew_salted_join_key_includes_salt(spark):
    # the whole point: the join key is (orderkey, salt), not orderkey alone
    plan = _plan(spark, "join_skew_salted")
    joins = [ln for ln in plan.splitlines() if "Join [" in ln or "Join keys" in ln or "HashJoin" in ln]
    assert any("salt" in ln for ln in joins), plan[:2000]


def test_partition_pruning_reaches_scan(spark):
    # the yr filter must prune partitions at the file index, not post-scan
    plan = _plan(spark, "scan_partition_pruning")
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "yr" in pf, f"no partition filter pushed: [{pf}]"


# Ops allowed to contain nested-loop/cartesian shapes, or whose fn() runs
# side effects (streams, sinks, iterative loops) that make a plan-only
# audit expensive or meaningless.
_CARTESIAN_OK = {"join_cross_small"}
_PLAN_AUDIT_SKIP_PREFIXES = ("stream_", "sink_", "scan_csv", "scan_json", "scan_orc",
                             "scan_schema", "scan_corrupt", "scan_partition",
                             "dedup_cc", "ml_", "udf_", "udtf_", "mm_decode")

# Tier split for the three whole-registry plan audits (r15): DECLARING a
# sink_/stream_ op's frame runs its side effects (index builds, full
# streaming queries) — most of the former ~9 min audit wall. The default
# tier audits every side-effect-free op; UP_SLOW_TESTS=1 audits the full
# registry exactly as before. One shared declaration pass feeds all three
# audits (the plans are deterministic within a session), so the registry
# is declared once, not three times.
from .conftest import SLOW_TIER  # noqa: E402

_AUDIT_SIDE_EFFECT_PREFIXES = ("sink_", "stream_", "dedup_cc", "ml_")
_PLAN_CACHE: dict[str, str] = {}


def _plan_cached(spark, name: str) -> str:
    if name not in _PLAN_CACHE:
        _PLAN_CACHE[name] = _plan(spark, name)
        from userportrait.catalog import release_pins

        release_pins()  # eager declares pin; don't accumulate 293 ops' blocks
    return _PLAN_CACHE[name]


def _audit_ops(extra_skip: tuple[str, ...] = ()) -> list[str]:
    skip = extra_skip if SLOW_TIER else tuple(set(extra_skip) | set(_AUDIT_SIDE_EFFECT_PREFIXES))
    return [n for n in OPS if not n.startswith(skip)]


def test_no_accidental_cartesian_anywhere(spark):
    """Global regression net: no registered op may silently plan a
    CartesianProduct. BroadcastNestedLoopJoin is tolerated only when tiny
    (the broadcast side is a scalar/centroid frame); CartesianProduct of
    two real tables is always a bug."""
    bad = []
    for name in sorted(_audit_ops(_PLAN_AUDIT_SKIP_PREFIXES)):
        if name in _CARTESIAN_OK:
            continue
        plan = _plan_cached(spark, name)
        if "CartesianProduct" in plan:
            bad.append(name)
    assert not bad, f"accidental cartesian in: {bad}"


def test_dpp_join_injects_dynamic_pruning(spark):
    # the fact scan must carry a runtime dynamicpruningexpression, not
    # read every partition and filter post-join
    assert "dynamicpruning" in _plan(spark, "scan_dpp_join")


@pytest.mark.parametrize(
    "name",
    ["tag_rfm", "tag_rfe", "win_rank_distributed", "sort_multikey_nulls", "doc_pack_sequences"],
)
def test_exact_prefix_plans_are_bucketed_without_single_partition(spark, name):
    """The global ranks and running sums of these ops run through
    ranking.exact_prefix: per-bucket windows hash-partitioned on the
    literal bucket id. A global window would plan Exchange SinglePartition
    and funnel every row through one task at 100 TB, and the offsets come
    back as literals, so no SinglePartition may appear at all; nor may a
    Python-worker counter. Each offset is one array lookup, so the only
    CASE WHENs left are the ntile arithmetic, at most one per ordering.
    The grid cell's binade exponent is a column of its own, so each
    ordering's cell computes one LOG2."""
    plan = _plan(spark, name)
    assert "Exchange SinglePartition" not in plan, f"{name}: {plan[:800]}"
    assert "hashpartitioning(_b_" in plan, f"{name}: {plan[:800]}"
    assert "MapInPandas" not in plan, f"{name}: {plan[:800]}"
    assert plan.count("CASE WHEN") <= 3, f"{name}: per-bucket CASE WHEN chain in {plan[:800]}"
    assert plan.upper().count("LOG2(") <= 3, f"{name}: grid exponent computed per reference in {plan[:800]}"


def test_exact_prefix_declares_with_one_collect_and_no_cache(spark):
    """Declaring an exact-prefix op runs one driver action, the collect of
    the grid-cell counts in ranking.py, and caches nothing: no quantile
    sketch, no cache fill, no second collect, and so no cached input that
    could be released before the returned plan runs."""
    from userportrait import ranking

    with open(ranking.__file__) as f:
        lines = [i for i, ln in enumerate(f, 1) if ".collect()" in ln]
    assert len(lines) == 1, lines
    site = f"collect at {ranking.__file__}:{lines[0]}"

    sc = spark.sparkContext
    cached = set(sc._jsc.getPersistentRDDs().keySet())
    group = "declare-tag_rfm-one-collect"
    sc.setJobGroup(group, group)
    try:
        OPS["tag_rfm"].fn(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    names = {sc._jsc.sc().statusStore().job(j).name() for j in jobs}
    assert jobs and names == {site}, names
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= cached


def test_lookalike_splits_seed_by_filter_not_join(spark):
    """tag_lookalike takes its seed and its candidates from one filter on
    the scored RFM frame: the only join is the centroid scalar's broadcast,
    never a semi or anti join of the frame against a filter of itself."""
    plan = _plan(spark, "tag_lookalike")
    assert "LeftAnti" not in plan, plan[:800]
    joins = [ln for ln in plan.splitlines() if re.search(r"(HashJoin|SortMergeJoin|NestedLoopJoin) ", ln)]
    assert len(joins) == 1 and "BroadcastNestedLoopJoin" in joins[0], joins


def test_clean_pipeline_neardup_drop_is_anti_join(spark):
    plan = _plan(spark, "doc_clean_pipeline")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_scans_corpus_once(spark):
    """The df branch must reuse tf (window over the compact aggregate),
    not re-derive it from the raw corpus."""
    plan = _plan(spark, "text_tfidf")
    assert plan.count("ReadSchema: struct<doc_id:bigint,text:string>") == 1, (
        "documents scanned more than once"
    )


def test_dedup_embed_cosine_is_banded_join_not_full_index(spark):
    """The r4 form collected the whole embedding table to the driver and
    broadcast it as one numpy matrix; the scale shape is LSH bucket hash
    joins + exact rescore + left-anti. No Python workers, no cartesian."""
    plan = _plan(spark, "dedup_embed_cosine")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan  # no broadcast-matmul kernel on this path
    # candidate generation joins on (t, bucket) — the banded hash join
    assert "bucket" in plan


def test_incremental_dedup_restricts_probe_side(spark):
    plan = _plan(spark, "dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_centroid_assign_broadcasts_centroids(spark):
    """sim_centroid_assign must broadcast the kxdim centroid table into the
    exploded embedding side (one BroadcastHashJoin), never shuffle-join it,
    and the per-vec argmax window must be hash-partitioned on vec_id."""
    plan = _plan(spark, "sim_centroid_assign")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_ngram_spans_single_scan_no_join(spark):
    """dedup_ngram_spans is one scan -> array-side span build -> explode ->
    span-keyed aggregate: a join or second scan means the per-doc distinct
    moved off the array side."""
    plan = _plan(spark, "dedup_ngram_spans")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_train_split_is_single_aggregate(spark):
    """doc_train_split: embarrassingly-parallel map + one 3-group aggregate —
    exactly one exchange, no single-partition funnel."""
    plan = _plan(spark, "doc_train_split")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_activity_trend_single_data_shuffle(spark):
    """tag_activity_trend: the only data shuffle is the user_id groupBy; the
    one SinglePartition exchange allowed is the 1-row anchor max(date)."""
    plan = _plan(spark, "tag_activity_trend")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") <= 1


def test_repetition_token_stats_stay_array_side(spark):
    """text_repetition's token stats (size/array_distinct) must not explode:
    only the bigram-mode branch may shuffle, keyed per doc."""
    plan = _plan(spark, "text_repetition")
    assert "CartesianProduct" not in plan
    assert plan.count("Generate explode") == 1, plan[:1200]


def test_basket_affinity_evaluates_basket_subtree_once(spark):
    """tag_basket_affinity feeds (customer, brand) into four consumers; the
    eager localCheckpoint must pin ONE evaluation of the 3-table join +
    distinct — re-scanning orders/lineitem/part per consumer is the 100 TB
    regression."""
    plan = _plan(spark, "tag_basket_affinity")
    assert "Scan parquet" not in plan, "basket subtree re-evaluated from source"
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_transition_matrix_single_scan_user_window(spark):
    """events_transition_matrix: one events scan; the lag window partitions
    on user_id (never a global order); the prob normalization windows over
    the tiny 25-cell aggregate."""
    plan = _plan(spark, "events_transition_matrix")
    assert plan.count("Scan parquet") == 1
    assert "Exchange SinglePartition" not in plan


def test_source_cap_sample_rank_window_is_partitioned(spark):
    """doc_source_cap_sample's rank-by-hash window partitions on source; the
    only SinglePartition exchange allowed is the 1-row cap aggregate."""
    plan = _plan(spark, "doc_source_cap_sample")
    assert plan.count("Exchange SinglePartition") <= 1
    assert "CartesianProduct" not in plan


def test_dau_stickiness_distinct_runs_once(spark):
    """events_dau_stickiness: the (day, user) distinct feeds dau and wau;
    the checkpoint must pin one evaluation (no raw-events re-scan)."""
    plan = _plan(spark, "events_dau_stickiness")
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan


def test_anomaly_zscore_broadcasts_moments(spark):
    """events_anomaly_zscore: the 5-row per-type moment table broadcasts
    back onto daily counts — no shuffle join, no SinglePartition."""
    plan = _plan(spark, "events_anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_split_leakage_single_scan_no_join(spark):
    """dedup_split_leakage: the split tag rides the span explode — one scan,
    one span-keyed aggregate, no join between train and heldout sides."""
    plan = _plan(spark, "dedup_split_leakage")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_fn_regex_is_pure_map(spark):
    """fn_regex: zero exchanges — a regex kit must never shuffle."""
    assert "Exchange" not in _plan(spark, "fn_regex")


def test_refresh_delta_keyed_on_custkey_throughout(spark):
    """tag_refresh_delta: both anchors' cycles come from one aggregate on
    the o_custkey key, and the diff is a filter on that row — one scan, no
    join, no SinglePartition funnel."""
    plan = _plan(spark, "tag_refresh_delta")
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Scan parquet") == 1, plan[:800]
    assert "Join" not in plan, plan[:800]


def test_profile_assemble_reads_each_table_once(spark):
    """profile_assemble: the customer row (segment and tier tags) and the
    scored RFM row (rfm_score and the cycle from recency_days) each read
    their table once — two scans, not one per tag."""
    plan = _plan(spark, "profile_assemble")
    assert plan.count("Scan parquet") == 2, plan[:800]


def test_funnel_windowed_pushes_stage_filters_to_scan(spark):
    """tag_funnel_windowed re-scans events per stage, but each scan must
    carry its event_type filter down to parquet (reads one slice, not the
    table) — that's what makes the multi-scan shape acceptable at scale."""
    plan = _plan(spark, "tag_funnel_windowed")
    assert "event_type" in plan.split("PushedFilters: [", 1)[1][:200]


def test_no_unaudited_driver_side_pulls():
    """Mechanizes the 'no driver-side data pulls' audit: every
    .collect()/.toPandas()/.first() in operator source must be a known
    scalar/bounded site. A new pull fails here until consciously allowlisted
    with a justification, and an allowlisted line that matches no source
    line fails too, so the list cannot outlive the code it audits."""
    import pathlib

    root = pathlib.Path(__file__).parent.parent / "userportrait"
    allowed = {
        # (file, stripped line): why it is bounded
        ("llm_dedup.py", ').collect()[0]["c"]'):
            "scalar: corpus count for the incremental-dedup split point",
        ("llm_similarity.py", ').collect()[0]["c"]'):
            "scalar: vec_id cutoff for the incremental IVF append split point",
        ("llm_similarity.py", 'total, lo, hi = df.agg(F.count("*"), F.min("vec_id"), F.max("vec_id")).first()'):
            "scalar: row count + id range for quantile chunking (_range_chunks: embedding index, PQ code table)",
        ("llm_similarity.py", ".toPandas()"):
            "bounded: one vec_id-range index chunk (<= chunk width rows)",
        ("pipeline_ext.py", 'cur_sum = labels.agg(F.sum("lab")).collect()[0][0]'):
            "scalar: connected-components convergence probe",
        ("pipeline_ext.py", 'wedges = int(deg.agg(F.sum(est)).first()[0] or 0)  # one scalar: the wedge-volume estimate'):
            "scalar: Σ C(deg,2) wedge-volume estimate sizing the wedge-stage partition width",
        ("scans.py", 'cutoff = int(e.agg(F.expr("percentile(event_id, 0.8)")).collect()[0][0])'):
            "scalar: incremental-agg batch split point",
        ("ranking.py", "hist = sorted(tuple(r) for r in counted.collect())"):
            "bounded: <= len(orderings) * min(n, S * binades spanned) grid-cell count rows (<= 4,500 for rfm_scored at perfbench scale)",
        ("llm_similarity.py", "parts = pf.collect()"):
            "bounded: <= #partitions PCA moment rows (d + d^2 doubles each)",
        ("llm_similarity.py", 'probed = [r["cell"] for r in probes.select("cell").distinct().collect()]'):
            "bounded: <= k quantizer-cell ids (metadata, never data volume) — the static partition filter of the serving probe",
        ("streaming.py", 'for r in words.collect():'):
            "bounded: <= m/64 bloom bitmap words — size set by the configured filter width, never data volume",
        ("ml.py", 'for raw, r in enumerate(model.describeTopics(5).collect()):  # k rows of metadata'):
            "bounded: k=8 topic-description rows (model metadata, never data volume)",
        ("llm_text.py", 'top = words.orderBy(F.desc("cnt"), "word").limit(BPE_VOCAB_CAP).collect()'):
            "bounded: <= BPE_VOCAB_CAP word-count rows, deterministic cap (the PQ-codebook bounded-sample convention)",
        ("llm_text.py", 'merges = [(r.left, r.right) for r in text_bpe_train(spark, sf_dir).collect()]  # 24-row merge table (metadata)'):
            "bounded: <= BPE_MERGES merge-table rows (model metadata for the task closure, never data volume)",
        ("llm_similarity.py", 'bk = _snapshot_read(spark, root, version, "codebooks").collect()  # PQ_M*PQ_K*PQ_SUBDIM rows (model metadata)'):
            "bounded: PQ_M*PQ_K*PQ_SUBDIM = 1024 codebook rows (model metadata, never data volume)",
        ("streaming.py", 'for r in batch_df.collect():  # <= changed-keys rows per trigger (dashboard-sized)'):
            "bounded: update-mode emission = changed (day x type) keys per trigger — key cardinality, never stream volume",
        ("llm_similarity.py", 'erase_ids = [r.vec_id for r in _ivf_kmeans_erasure(back).collect()]  # bounded: <= IVF_ERASE_N erasure-request ids'):
            "bounded: the erasure-request list itself (IVF_ERASE_N ids) — request-sized, never corpus-sized",
        ("llm_similarity.py", 'touched = [r.cell for r in erased.select("cell").distinct().collect()]  # bounded: <= quantizer-cell-count touched-cell ids'):
            "bounded: <= quantizer-cell-count touched-cell ids — the static partition filter of the purge and the cells the new version replaces",
        ("llm_similarity.py", 'hot_cells = [r.cell for r in hot.collect()]  # bounded: <= quantizer-cell-count hot-cell ids'):
            "bounded: <= quantizer-cell-count hot-cell ids — the cells the rebalance version replaces",
        ("llm_similarity.py", 'erase_ids = [r.vec_id for r in _ivf_kmeans_erasure(back).collect()]  # bounded: <= IVF_ERASE_N erasure-request ids (one request, every index)'):
            "bounded: the erasure-request list itself (IVF_ERASE_N ids) — request-sized, never corpus-sized",
        ("curation.py", 'tm = steps.unionAll(direct).groupBy("src", "dst").agg(F.count("*").cast("bigint").alias("n")).collect()  # bounded: <= (#event_types+2)^2 transition-matrix cells (state space, never data volume)'):
            "bounded: the Markov transition matrix — (#channels+2)^2 state-space cells, the model input, never data volume",
        ("llm_similarity.py", 'crows = [(r["cell"], r["c"], r["cnrm"]) for r in cent.select("cell", "c", "cnrm").collect()]  # bounded: <= quantizer-cell-count centroid rows (model metadata)'):
            "bounded: k ≈ √n centroid rows (quantizer model metadata, never corpus volume) — the map-side probe scorer's broadcastable copy",
    }
    found = set()
    for py in root.rglob("*.py"):
        if py.parent.name == "testing":  # the differential harness collects by design
            continue
        in_doc = False
        for line in py.read_text().splitlines():
            ls = line.strip()
            if ls.count('"""') % 2 == 1:
                in_doc = not in_doc
            if in_doc or ls.startswith("#"):
                continue
            if ".collect()" in ls or ".toPandas()" in ls or ".first()" in ls:
                found.add((py.name, ls))
    unaudited = found - set(allowed)
    assert not unaudited, f"unaudited driver-side pulls: {sorted(unaudited)}"
    stale = set(allowed) - found
    assert not stale, f"allowlisted pulls that match no source line: {sorted(stale)}"


def test_no_collect_limit_in_any_op_plan(spark):
    """No registered op's physical plan may materialize data through a
    driver-side CollectLimit: global top-k must compile to
    TakeOrderedAndProject (distributed partial top-k) and nothing else
    should limit at all. Streaming ops are exercised via their batch
    results like everywhere else."""
    for name in _audit_ops():
        plan = _plan_cached(spark, name)
        assert "CollectLimit" not in plan, name


def test_bloom_filter_join_injects_runtime_filter(spark):
    """join_bloom_filtered must actually compile the dim predicate into a
    bloom_filter_agg applied on the fact side of a SortMergeJoin — without
    the injection the op is just a worse join_sortmerge_big."""
    plan = _plan(spark, "join_bloom_filtered")
    assert "bloom_filter_agg" in plan
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_path_topk_is_distributed_partial_topk(spark):
    plan = _plan(spark, "events_path_topk")
    assert "TakeOrderedAndProject" in plan


def test_growth_accounting_pins_shared_distinct(spark):
    """The (user, week) distinct + window subtree feeds three consumers;
    it must be pinned (checkpointed) so raw events are scanned ONCE — the
    unpinned form re-evaluated it per consumer (6 scans / 5 exchanges)."""
    plan = _plan(spark, "events_growth_accounting")
    assert "ExistingRDD" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_ltv_and_retention_scan_events_once(spark):
    """Cohort assignment must be a window MIN over user_id, not a
    groupBy + self-join: the join form evaluated the events projection
    twice (two scans, two exchanges — VERDICT r6 finding #2). One parquet
    scan, no join operator at all."""
    for name in ("events_ltv_cohort", "tag_retention"):
        plan = _plan(spark, name)
        assert plan.count("Scan parquet") == 1, name
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, name


def test_coverage_ledger_in_sync():
    """COVERAGE.md's generated ledger must agree with the union of the
    committed CORRECTNESS_r*.json files — mechanizes the stale-ledger slip
    that happened by hand three rounds running (VERDICT r6 item 8)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "rotate_window.py"), "check"],
        capture_output=True,
        text=True,
    )
    assert res.returncode == 0, res.stdout + res.stderr


def test_single_partition_exchanges_are_scalar_or_metadata_only(spark):
    """Mechanizes the SinglePartition audit: a no-partition window or
    global aggregate plans as Exchange SinglePartition — every row through
    one task, the classic 100 TB cliff. Every op whose plan contains one
    must be on this allowlist with a reason; the allowed cases are 1-row
    scalar aggregates or small metadata frames, never data. An allowlisted
    op audited in this tier whose plan has none fails too, so a retired
    exchange takes its allowance with it."""
    allowed = {
        # op: why its SinglePartition is bounded
        "join_bloom_filtered": "bloom_filter_agg build (one filter value)",
        "events_growth_accounting": "global max-week scalar (1 row)",
        "doc_mixture_weights": "tot/nmin scalar aggregates over #sources rows",
        "tag_funnel": "three stage-count scalar aggregates (1 row each)",
        "tag_funnel_windowed": "three stage-count scalar aggregates",
        "scan_partition_pruning": "count+sum scalar aggregate (1 row)",
        "tag_lookalike": "seed-centroid scalar aggregate",
        "text_tfidf": "total-docs scalar for IDF",
        "embed_hash_tfidf": "total-docs scalar for IDF (same 1-row crossJoin as text_tfidf)",
        "events_seasonal_decompose": "centered-MA window over the DAILY rollup (<= #calendar-days rows, bounded by time span, not data volume)",
        "dq_feature_psi": "total-count window over the 10-row bucket frame (decile metadata, never data volume)",
        "diag_key_skew": "total/mean scalar aggregate (1 row)",
        "dq_expectations": "three 1-row expectation aggregates (fused scan / uniqueness / FK) — map-side partials cross the exchange, never rows",
        "tag_activity_trend": "global week-anchor scalar",
        "doc_source_cap_sample": "per-source cap scalar aggregate",
        "tag_basket_affinity": "basket-universe scalar aggregate",
        "doc_length_outliers": "corpus mean/stddev scalar aggregate (1 row)",
        "agg_hll_partitioned_merge": "final sketch merge (one merged sketch row)",
        "tag_decay_score": "global max-date anchor scalar (1 row)",
        "events_ab_ttest": "arm-pivot aggregate over the 2-row arm frame",
        "doc_split_drift": "per-split token-total scalar aggregate (1 row)",
        "dq_profile_columns": "whole-table profile aggregate (1 row, unpivoted to #columns)",
        "text_cooccur_lift": "N-docs scalar aggregate (1 row)",
        "events_forecast_holt": "global day-range scalar aggregate (1 row)",
        "doc_importance_resample": "corpus-total scalar aggregates (1 row each)",
        "events_cuped_adjust": "split-date anchor scalar + arm-pivot over the 2-row arm frame",
        "doc_vocab_growth": "max-doc_id anchor scalar + cumulative window over the fixed 20-bucket grid",
        "events_survival_curve": "cumulative window over distinct lifetime values (bounded by the corpus day horizon)",
        "dq_referential_integrity": "per-edge 1-row audit aggregates (#edges = 9)",
        "events_power_analysis": "inherits events_ab_ttest's arm-pivot aggregate over the 2-row arm frame",
        "tag_revenue_concentration": "cumulative and total-share windows over the 10-row decile frame (the rank itself is ranking.exact_prefix, no data through one task)",
        "dq_expect_suite": "per-rule 1-row check aggregates (#rules = 7)",
        "dq_ann_index_health": "1-row corpus-total scalar (share denominator)",
        "events_diff_in_diff": "arm×period pivot over the 4-row cell frame (the ab_ttest allowance widened by the period axis)",
        "scan_cdc_changefeed": "1-row epoch-midpoint scalar (version-1 cutoff)",
        "tag_segment_migration": "1-row epoch-midpoint scalar (period split)",
        "sink_ivf_delete_kmeans": "two 1-row provenance rollup aggregates (survivor + erasure-record scalars) crossJoined",
        "sink_pq_delete": "two 1-row provenance rollup aggregates (survivor + erasure-record scalars) crossJoined",
        "sink_snapshot_versioned": "four 1-row per-version rollup aggregates (count+sum scalar per snapshot) unioned",
        "sink_snapshot_expire": "two 1-row surviving-version rollup aggregates (count+sum scalar per snapshot) unioned",
        # The text-family fan-out width is volume-derived
        # (catalog.width — ceil(input_bytes/64KiB) capped at the fleet
        # width), so at the 64 KiB test fixture it is 1 and the
        # user-specified repartition plans as Exchange SinglePartition.
        # That is the size-adaptive width working as designed, not a data
        # cliff: the same plan at corpus scale is a fleet-wide
        # hashpartitioning (test_width_scales_with_input_volume pins the
        # derivation; the audit keeps flagging any NEW op so the
        # justification stays per-op).
        "text_lang_id": "volume-derived repartition width (1 at test scale only)",
        "text_fingerprint": "volume-derived repartition width (1 at test scale only)",
        "text_contamination": "volume-derived repartition width (1 at test scale only)",
        "text_lm_score": "volume-derived repartition width (1 at test scale only)",
        "text_bm25_keywords": "N-docs + total-token scalar aggregates (1 row each) + volume-derived repartition width (1 at test scale only)",
    }
    offenders, stale = {}, []
    for name in _audit_ops(("stream_",)):
        plan = _plan_cached(spark, name)
        n = sum(1 for l in plan.splitlines() if "Exchange SinglePartition" in l)
        if n and name not in allowed:
            offenders[name] = n
        if not n and name in allowed:
            stale.append(name)
    assert not offenders, (
        f"unaudited Exchange SinglePartition in: {offenders} — "
        "justify in the allowlist only if it is a scalar/metadata frame"
    )
    assert not stale, f"allowlisted ops with no Exchange SinglePartition: {sorted(stale)}"


def test_no_unaudited_broadcast_hints():
    """Mechanizes the broadcast-hint audit: a hard ``F.broadcast`` hint
    overrides AQE's size check, so every hint in operator source must name
    a build side that is BOUNDED by construction — a fixed dim table, a
    scalar/metadata aggregate, or a constant-k frame. Data-derived frames
    that merely *tend* small (exclusion lists, vocabularies, eval n-gram
    sets) must carry no hint and let AQE decide at measured size. A new
    hint fails here until consciously allowlisted with its boundedness
    argument, and an allowlisted line that matches no source line fails
    too."""
    import pathlib

    root = pathlib.Path(__file__).parent.parent / "userportrait"
    allowed = {
        # (file, stripped line): why the build side is bounded
        ("aggregates.py", 'F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey")'):
            "region dim (5 rows at any SF)",
        ("aggregates.py", 'joined = t.customer.join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey")).join('):
            "nation dim (25 rows at any SF)",
        ("curation.py", ".crossJoin(F.broadcast(n))"):
            "1-row scalar aggregate (basket-universe count)",
        ("curation.py", '.join(F.broadcast(single.withColumnRenamed("brand", "brand_b")'):
            "brand marginals (<= 25-brand universe)",
        ("curation.py", '.join(F.broadcast(t.part.select("p_partkey", "p_brand")),'):
            "part dim 2-col projection (standard star-join build side)",
        ("curation.py", "d.crossJoin(F.broadcast(q))"):
            "1-row quantile-scalar frame (length outlier bounds)",
        ("curation.py", 'daily.join(F.broadcast(m), "event_type")'):
            "per-event-type moments (<= #event_types rows)",
        ("curation.py", 'probes.join(F.broadcast(cells), ["seed", "bucket"])'):
            "count-min sketch cell table (CMS_D x CMS_W = 256 rows by construction)",
        ("curation.py", "return wide.crossJoin(F.broadcast(tots)).select("):
            "1-row scalar frame (per-split token totals)",
        ("curation.py", "e.crossJoin(F.broadcast(anchor))"):
            "1-row global week-anchor scalar",
        ("curation.py", 'return full7.join(F.broadcast(seas), "dow").select('):
            "per-dow seasonal means (exactly 7 rows by construction)",
        ("quality.py", "om = o.crossJoin(F.broadcast(mid))"):
            "1-row epoch-midpoint scalar (PSI time split)",
        ("quality.py", "om.crossJoin(F.broadcast(bounds))"):
            "1-row decile-bounds array (PSI reference quantiles)",
        ("llm_similarity.py", ".crossJoin(F.broadcast(n))"):
            "1-row total-docs scalar for IDF (embed_hash_tfidf; same as text_tfidf's)",
        ("llm_similarity.py", "m.crossJoin(F.broadcast(tot))"):
            "1-row corpus-total scalar (index-health share denominator)",
        ("llm_similarity.py", "sizes.crossJoin(F.broadcast(tots))"):
            "1-row total/ncells scalar (rebalance hot-cell threshold)",
        ("scans.py", 'v1 = rollup(o.crossJoin(F.broadcast(mid)).where(F.col("o_orderdate") <= F.col("m")))'):
            "1-row epoch-midpoint scalar (CDC version-1 cutoff)",
        ("curation.py", "e.crossJoin(F.broadcast(mid))"):
            "1-row epoch-midpoint scalar (diff-in-diff pre/post split)",
        ("portrait.py", "o.crossJoin(F.broadcast(mid))"):
            "1-row epoch-midpoint scalar (segment-migration period split)",
        ("ml.py", 'tf.join(F.broadcast(tt), "token")'):
            "topic-term matrix (<= vocabSize x k = 4096 rows by construction)",
        ("curation.py", 'pair.join(F.broadcast(single.withColumnRenamed("brand", "brand_a")'):
            "brand marginals (<= 25-brand universe)",
        ("curation.py", "ranked.crossJoin(F.broadcast(cap_df))"):
            "per-source caps (<= #sources rows)",
        ("curation.py", "seq.crossJoin(F.broadcast(mx))"):
            "1-row scalar (max sequence id)",
        ("curation.py", 'x.join(F.broadcast(cm), "pos")'):
            "per-dimension centroid stats (dim rows)",
        ("curation.py", "p = ranked.crossJoin(F.broadcast(tot)).withColumn("):
            "1-row scalar (corpus token total)",
        ("curation.py", "return p.crossJoin(F.broadcast(nmin)).select("):
            "1-row scalar (min source weight)",
        ("flagship.py", "F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey"):
            "nation dim",
        ("flagship.py", ').join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))'):
            "region dim",
        ("joins.py", '.join(F.broadcast(t.region), F.col("a.n_regionkey") == F.col("r_regionkey"))'):
            "region dim",
        ("joins.py", "F.broadcast(q)"):
            "distinct calendar quarters (bounded by the date range)",
        ("joins.py", "t.lineitem.join(F.broadcast(dim), t.lineitem.l_partkey == dim.p_partkey)"):
            "filtered part-dim slice (standard star-join build side)",
        ("llm_similarity.py", 'elems.join(F.broadcast(weights), "d")'):
            "constant nproj x 64 hyperplane table (built from literals)",
        ("llm_similarity.py", "vc = vn.crossJoin(F.broadcast(cent)).select("):
            "k x dim centroid frame (cells are a fixed small k)",
        ("llm_similarity.py", "vc = unit.crossJoin(F.broadcast(cent.df)).select("):
            "k x dim trained-centroid literals (kmeans IVF; k grows sqrt(n), stays a broadcast)",
        ("llm_text.py", ".crossJoin(F.broadcast(n))"):
            "1-row scalar (total docs for IDF)",
        ("llm_text.py", 'scores = doc_tg.join(F.broadcast(profile), "tg").groupBy("doc_id", "cand_lang").agg('):
            "top-20 trigrams per language (20 x #langs rows)",
        ("pipeline_ext.py", "counts.crossJoin(F.broadcast(tot))"):
            "1-row scalar (total/mean event counts)",
        ("pipeline_ext.py", "return r.join(F.broadcast(nat), r.n == nat.n_nationkey).select("):
            "nation dim",
        ("portrait.py", 'F.broadcast(t.region.where(F.col("r_name") == "ASIA")),'):
            "filtered region dim (1 row)",
        ("portrait.py", ".crossJoin(F.broadcast(cen))"):
            "1-row seed-centroid scalar",
        ("portrait.py", 'return customer.join(F.broadcast(rules), customer.c_mktsegment == rules.seg, "left").drop("seg")'):
            "constant inline rule frame",
        ("portrait.py", "t.customer.join(F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey)"):
            "nation dim",
        ("streaming.py", "t.customer.join(F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey)"):
            "nation dim",
        ("streaming.py", "joined = src.join(F.broadcast(dim), src.user_id == dim.c_custkey)"):
            "stream-static dim side (must be resident per microbatch)",
        ("quality.py", "d.crossJoin(F.broadcast(anchor))"):
            "1-row scalar (max doc_id for the vocab-growth bucket grid)",
    }
    found = set()
    for py in root.rglob("*.py"):
        if py.parent.name == "testing":
            continue
        in_doc = False
        for line in py.read_text().splitlines():
            ls = line.strip()
            if ls.count('"""') % 2 == 1:
                in_doc = not in_doc
            if in_doc or ls.startswith("#"):
                continue
            if "F.broadcast(" in ls:
                found.add((py.name, ls))
    unaudited = found - set(allowed)
    assert not unaudited, f"unaudited broadcast hints: {sorted(unaudited)}"
    stale = set(allowed) - found
    assert not stale, f"allowlisted hints that match no source line: {sorted(stale)}"


def test_width_and_session_confs_have_one_owner():
    """Static audit of shuffle widths and session confs in operator source:
    - no ``spark.userportrait.*`` conf key (widths are derived, not knobs);
    - ``defaultParallelism`` and ``spark.sql.shuffle.partitions`` are read
      only by ``catalog.width`` and the allowlisted session plumbing, so
      every op's width comes from the one rule;
    - ``.conf.set`` / ``.conf.unset`` run only at the allowlisted sites, so
      a new op cannot quietly mutate the caller's session (write-scoped
      settings belong on the writer, e.g. ``partitionOverwriteMode``).
    Sites are named (file, enclosing function); docstrings and comments
    are not code, so only the syntax tree is inspected for the last two."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).parent.parent / "userportrait"
    width_readers = {
        ("catalog.py", "width"): "the one shuffle-width rule",
        ("session.py", "get_spark"): "build-time shuffle width of the local session",
        ("joins.py", "_bloom_session"): "copies the caller's shuffle width into the private session",
        ("streaming.py", "_replay_conf.__enter__"): "saves the caller's width before the replay",
        ("streaming.py", "_replay_conf.__exit__"): "restores the caller's width after the replay",
    }
    conf_setters = {
        ("session.py", "apply_session_confs"): "runtime conventions for a driver-provided session",
        ("joins.py", "_bloom_session"): "confs of the private newSession(), not the caller's",
        ("scans.py", "catalog_analyze_cbo"): "confs of the private newSession(), not the caller's",
        ("streaming.py", "stream_funnel_rocksdb"): "state-store provider saved and restored around one query",
        ("streaming.py", "_replay_conf.__enter__"): "replay width set for one streaming run",
        ("streaming.py", "_replay_conf.__exit__"): "caller's width restored after the run",
    }
    knobs, reads, sets = [], set(), set()

    def visit(node, scope, name):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            site = (name, inner)
            if isinstance(child, ast.Attribute) and child.attr == "defaultParallelism":
                reads.add(site)
            if isinstance(child, ast.Constant) and child.value == "spark.sql.shuffle.partitions":
                reads.add(site)
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("set", "unset")
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
            ):
                sets.add(site)
            visit(child, inner, name)

    for py in sorted(root.rglob("*.py")):
        text = py.read_text()
        if "spark.userportrait." in text:
            knobs.append(py.name)
        visit(ast.parse(text), "", py.name)
    assert not knobs, f"spark.userportrait.* conf keys in {knobs}"
    stray_reads = reads - set(width_readers)
    assert not stray_reads, f"shuffle width read outside catalog.width: {sorted(stray_reads)}"
    stray_sets = sets - set(conf_setters)
    assert not stray_sets, f"session conf mutated outside the allowlist: {sorted(stray_sets)}"


def test_env_reads_and_tile_bound_have_one_owner():
    """Static audit of environment knobs and the kNN tile bound:
    - ``os.environ`` / ``getenv`` is read under ``userportrait/`` only at
      the allowlisted sites — sizing constants are module constants that
      tests monkeypatch, not environment knobs;
    - ``KNN_TILE_ELEMS`` is read by exactly one function, the blocked
      score-and-top-k kernel ``_tiled_topk``, so every kNN path shares
      one per-task memory bound.
    Sites are (path under userportrait/, enclosing function — or the
    assigned name for a module-level constant); only the syntax tree is
    inspected, so docstrings and comments may name either."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).parent.parent / "userportrait"
    env_readers = {
        ("session.py", "get_spark"): "local core count and driver memory of the test session",
        ("ops/llm_similarity.py", "IVF_KMEANS_K"): "cell count; scripts/ivf_delete_ladder.py sets it",
    }
    env_files = {"testing/check.py": "the check CLI's default fixture directory"}
    env_reads, tile_reads = set(), set()

    def visit(node, scope, path):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            elif not scope and isinstance(child, (ast.Assign, ast.AnnAssign)):
                targets = child.targets if isinstance(child, ast.Assign) else [child.target]
                inner = ",".join(t.id for t in targets if isinstance(t, ast.Name))
            site = (path, inner)
            if isinstance(child, ast.Attribute) and child.attr in ("environ", "getenv"):
                env_reads.add(site)
            if isinstance(child, ast.Name) and child.id == "getenv":
                env_reads.add(site)
            if isinstance(child, ast.ImportFrom) and any(a.name in ("environ", "getenv") for a in child.names):
                env_reads.add(site)
            if isinstance(child, ast.Name) and child.id == "KNN_TILE_ELEMS" and isinstance(child.ctx, ast.Load):
                tile_reads.add(site)
            if isinstance(child, ast.Attribute) and child.attr == "KNN_TILE_ELEMS":
                tile_reads.add(site)
            if isinstance(child, ast.ImportFrom) and any(a.name == "KNN_TILE_ELEMS" for a in child.names):
                tile_reads.add(site)
            visit(child, inner, path)

    for py in sorted(root.rglob("*.py")):
        visit(ast.parse(py.read_text()), "", py.relative_to(root).as_posix())
    stray_env = {s for s in env_reads - set(env_readers) if s[0] not in env_files}
    assert not stray_env, f"environment read outside the allowlist: {sorted(stray_env)}"
    assert tile_reads == {("ops/llm_similarity.py", "_tiled_topk")}, (
        f"KNN_TILE_ELEMS read outside _tiled_topk: {sorted(tile_reads)}"
    )


SCRATCH_ZORDER = __import__('pathlib').Path(__file__).parent.parent / '_scratch' / 'lineitem_zorder'


def test_zorder_prefix_predicate_prunes_partitions(spark):
    """The Z-order sink's layout must actually BUY pruning: a z-range
    query with its derived file-prefix predicate (file_id = z >> 16 —
    what any z-aware query layer emits) compiles to PartitionFilters
    that keep a single file_id directory, with the residual zval bounds
    pushed to the parquet scan; and the physical row-group stats are
    tight (each file's zval min/max stays inside its prefix range), so
    min/max pruning works for readers that only see row-group stats."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    rows = sorted(OPS["sink_zorder_layout"].fn(spark, SF_DIR).collect(), key=lambda r: r.n_rows)
    target = rows[-1]  # densest file: guarantees the probe range has rows
    lo, hi = int(target.z_min), int(target.z_max)
    back = spark.read.parquet(str(SCRATCH_ZORDER))
    q = back.where(
        (F.col("file_id") >= lo >> 16)
        & (F.col("file_id") <= hi >> 16)
        & (F.col("zval") >= lo)
        & (F.col("zval") <= hi)
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert f"(file_id#" in pf and ">= " in pf  # partition-level bounds present
    assert "GreaterThanOrEqual(zval" in plan and "LessThanOrEqual(zval" in plan
    assert q.count() == target.n_rows

    for d in glob.glob(str(SCRATCH_ZORDER) + "/file_id=*"):
        fid = int(d.rsplit("=", 1)[1])
        for f in glob.glob(d + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cols = {
                    md.row_group(rg).column(i).path_in_schema: i
                    for i in range(md.row_group(rg).num_columns)
                }
                st = md.row_group(rg).column(cols["zval"]).statistics
                assert st.min >> 16 == fid and st.max >> 16 == fid


def test_zorder_box_predicate_is_exact_and_prunes(spark):
    """End-to-end 2-D box query through the z-curve planner
    (userportrait/zcurve.py): the generated predicate must return exactly
    the rows the plain key predicate returns, while its plan prunes
    partitions via the file-prefix IN-list — the read path that justifies
    the Z-order layout at 100 TB."""
    from pyspark.sql import functions as F

    from userportrait.zcurve import z_box_predicate

    OPS["sink_zorder_layout"].fn(spark, SF_DIR).count()  # materialize sink
    back = spark.read.parquet(str(SCRATCH_ZORDER))
    x0, x1, y0, y1 = 100, 400, 20, 150
    fast = back.where(z_box_predicate(x0, x1, y0, y1))
    direct = back.where(
        F.expr("(l_orderkey % 1024)").between(x0, x1)
        & F.expr("(l_partkey % 1024)").between(y0, y1)
    )
    got = sorted((r.l_orderkey, r.l_partkey, r.l_linenumber) for r in fast.collect())
    want = sorted((r.l_orderkey, r.l_partkey, r.l_linenumber) for r in direct.collect())
    assert got == want and len(got) > 0
    plan = fast._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "file_id" in pf.split("PartitionFilters: [", 1)[1].split("]", 1)[0]


SCRATCH_HILBERT = __import__('pathlib').Path(__file__).parent.parent / '_scratch' / 'lineitem_hilbert'


def test_hilbert_prefix_predicate_prunes_partitions(spark):
    """sink_hilbert_layout must buy the same pruning its Z-order sibling
    proves: a derived file-prefix predicate compiles to PartitionFilters
    keeping the target file_id directories, hval bounds reach the scan,
    and every row group's hval stats stay inside its file's prefix range
    (min/max pruning works from stats alone)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    rows = sorted(OPS["sink_hilbert_layout"].fn(spark, SF_DIR).collect(), key=lambda r: r.n_rows)
    target = rows[-1]
    lo, hi = int(target.h_min), int(target.h_max)
    back = spark.read.parquet(str(SCRATCH_HILBERT))
    q = back.where(
        (F.col("file_id") >= lo >> 16)
        & (F.col("file_id") <= hi >> 16)
        & (F.col("hval") >= lo)
        & (F.col("hval") <= hi)
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "(file_id#" in pf and ">= " in pf
    assert "GreaterThanOrEqual(hval" in plan and "LessThanOrEqual(hval" in plan
    assert q.count() == target.n_rows

    for d in glob.glob(str(SCRATCH_HILBERT) + "/file_id=*"):
        fid = int(d.rsplit("=", 1)[1])
        for f in glob.glob(d + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cols = {
                    md.row_group(rg).column(i).path_in_schema: i
                    for i in range(md.row_group(rg).num_columns)
                }
                st = md.row_group(rg).column(cols["hval"]).statistics
                assert st.min >> 16 == fid and st.max >> 16 == fid


def test_hilbert_box_predicate_is_exact_and_prunes(spark):
    """End-to-end 2-D box query through the Hilbert planner
    (userportrait/hilbert.py): the generated predicate returns exactly the
    rows the plain key predicate returns, while pruning partitions via the
    file-prefix IN-list — and its exact cover must not need more BETWEENs
    than the Z-order planner's on the same box (the locality payoff)."""
    from pyspark.sql import functions as F

    from userportrait.hilbert import hilbert_box_predicate, hilbert_box_ranges
    from userportrait.zcurve import z_box_ranges

    OPS["sink_hilbert_layout"].fn(spark, SF_DIR).count()  # materialize sink
    back = spark.read.parquet(str(SCRATCH_HILBERT))
    x0, x1, y0, y1 = 100, 400, 20, 150
    fast = back.where(hilbert_box_predicate(x0, x1, y0, y1))
    direct = back.where(
        F.expr("(l_orderkey % 1024)").between(x0, x1)
        & F.expr("(l_partkey % 1024)").between(y0, y1)
    )
    got = sorted((r.l_orderkey, r.l_partkey, r.l_linenumber) for r in fast.collect())
    want = sorted((r.l_orderkey, r.l_partkey, r.l_linenumber) for r in direct.collect())
    assert got == want and len(got) > 0
    plan = fast._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "file_id" in pf.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert len(hilbert_box_ranges(x0, x1, y0, y1)) <= len(z_box_ranges(x0, x1, y0, y1))


def test_onesided_predicate_is_exact_and_prunes(spark):
    """One-sided predicates over the clustered sinks (VERDICT r9 missing
    #3, the planner gap that previously forced full scans): an
    ``x > a``-style half-open query through z_bounds_predicate /
    hilbert_bounds_predicate returns exactly the rows the plain key
    predicate returns AND still plans a file_id PartitionFilters prune —
    the mirror of test_hilbert_box_predicate_is_exact_and_prunes for the
    open-sided case."""
    from pyspark.sql import functions as F

    from userportrait.hilbert import hilbert_bounds_predicate
    from userportrait.zcurve import z_bounds_predicate

    OPS["sink_zorder_layout"].fn(spark, SF_DIR).count()
    OPS["sink_hilbert_layout"].fn(spark, SF_DIR).count()
    a = 700  # x > 700 over the 0..1023 key domain
    for scratch, pred in (
        (SCRATCH_ZORDER, z_bounds_predicate(x_lo=a + 1)),
        (SCRATCH_HILBERT, hilbert_bounds_predicate(x_lo=a + 1)),
    ):
        back = spark.read.parquet(str(scratch))
        fast = back.where(pred)
        direct = back.where(F.expr("(l_orderkey % 1024)") > a)
        got = sorted((r.l_orderkey, r.l_partkey, r.l_linenumber) for r in fast.collect())
        want = sorted((r.l_orderkey, r.l_partkey, r.l_linenumber) for r in direct.collect())
        assert got == want and len(got) > 0
        plan = fast._jdf.queryExecution().executedPlan().toString()
        pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
        kept = pf.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "file_id" in kept
        # a > 700 stripe touches an upper slice of the curve: some of the
        # 16 file prefixes must actually be pruned, or the planner bought
        # nothing
        n_files = fast.select("file_id").distinct().count()
        assert n_files < 16, f"one-sided predicate kept all {n_files} files"


SCRATCH_IVF = __import__('pathlib').Path(__file__).parent.parent / '_scratch' / 'embeddings_ivf'


def test_ivf_layout_probe_prunes_partitions(spark):
    """The persisted IVF index must buy the serving-path pruning that
    justifies it: a query's nprobe cells map to cell=... directories, so
    the probe scan plans PartitionFilters keeping exactly those
    partitions — and the probed-cell read returns exactly the rows the
    full index holds for those cells (lossless per-cell)."""
    from pyspark.sql import functions as F

    rollup = {r.cell: r.n_vecs for r in OPS["sink_ivf_layout"].fn(spark, SF_DIR).collect()}
    cells = sorted(rollup)[:2]  # an nprobe=2 probe set
    back = spark.read.parquet(str(SCRATCH_IVF))
    q = back.where(F.col("cell").isin([int(c) for c in cells]))
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "cell" in pf.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert q.count() == sum(rollup[c] for c in cells)
    # every partition directory holds exactly its rollup count
    import glob

    dirs = glob.glob(str(SCRATCH_IVF) + "/cell=*")
    assert len(dirs) == len(rollup)


def _cell_dirs(root):
    """The cell partition directories the latest index version's files sit in."""
    import os

    from userportrait.ops.scans import _snapshot_in_parts, _snapshot_manifest

    in_cells = _snapshot_in_parts("cells")
    return {os.path.dirname(f) for f in _snapshot_manifest(root)["files"] if in_cells(f)}


def test_ivf_kmeans_probe_prunes_partitions(spark):
    """The kmeans-quantized serving probe's pruning + losslessness proof
    (the zorder-proof pattern applied to the deployment ANN path): the
    probed-cell isin over the cell-partitioned index plans
    PartitionFilters keeping exactly those partitions, and the op's
    result — computed over probed partitions only — equals the same
    search run against the FULL index restricted to the probed cells
    (i.e. the static partition filter drops nothing the probe needed)."""
    from pyspark.sql import functions as F

    from userportrait.ops.llm_similarity import _write_ivf_kmeans_index
    from userportrait.ops.scans import _snapshot_read

    root = _write_ivf_kmeans_index(spark, SF_DIR)
    back = _snapshot_read(spark, root, part="cells")
    cells = [r["cell"] for r in back.select("cell").distinct().limit(2).collect()]
    q = back.where(F.col("cell").isin(cells))
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "cell" in pf.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    # partition dirs exist per cell; the filtered read touches only probed ones
    n_cells = back.select("cell").distinct().count()
    assert len(_cell_dirs(root)) == n_cells
    assert q.select("cell").distinct().count() == len(cells)


def test_cbo_stats_flip_join_strategy(spark):
    """catalog_analyze_cbo's plan-level claim, proved on a controlled
    fixture: a join whose build side is only small AFTER a selective
    filter plans SortMergeJoin when the optimizer has no column stats
    (filter selectivity defaults conservative; size-on-disk dominates),
    and flips to BroadcastHashJoin once ANALYZE ... FOR ALL COLUMNS gives
    FilterEstimation real NDVs — the stats job at 100 TB is what buys
    every downstream query this sizing for free."""
    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.cbo.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(1 << 20))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        import pathlib
        import shutil

        base = pathlib.Path(__file__).parent.parent / "_scratch" / "cbo_test_tables"
        shutil.rmtree(base, ignore_errors=True)
        spark.sql("DROP TABLE IF EXISTS up_cbotest_a")
        spark.sql("DROP TABLE IF EXISTS up_cbotest_b")
        # A fixed file count per table keeps the on-disk size (and so the
        # pre-ANALYZE size estimate) independent of the host's core count:
        # spark.range writes one file per core, and at 4-8 cores table a
        # is ~2.4 MB instead of ~3.3 MB.
        spark.range(400_000).selectExpr(
            "id as k", "id % 8000 as sel", "repeat('x', 20) as pad"
        ).repartition(32).write.mode("overwrite").option("path", str(base / "a")).saveAsTable("up_cbotest_a")
        spark.range(400_000).selectExpr(
            "id % 50000 as k", "id as x", "repeat('y', 20) as pad2"
        ).repartition(32).write.mode("overwrite").option("path", str(base / "b")).saveAsTable("up_cbotest_b")
        q = (
            "SELECT count(*) FROM up_cbotest_b b JOIN up_cbotest_a a "
            "ON b.k = a.k WHERE a.sel = 7"
        )
        before = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in before and "BroadcastHashJoin" not in before
        for t in ("up_cbotest_a", "up_cbotest_b"):
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR ALL COLUMNS")
        after = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in after
        # the answer itself is plan-independent: a-side keys with sel=7 that
        # fall inside b's k range 0..49999 are {7, 8007, ..., 48007} — 7 keys
        # × 8 occurrences each in b
        assert spark.sql(q).collect()[0][0] == 56
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_filtered_probe_pushes_lang_to_index_scan(spark):
    """scan_ivf_probe_filtered's scale claim: the attribute predicate is
    answered INSIDE the persisted index scan (parquet PushedFilters on
    lang over only probed cells), not by a post-scan join against the
    documents table — the difference between min/max-pruned column chunks
    and re-shuffling every probed member per query batch."""
    plan = _plan(spark, "scan_ivf_probe_filtered")
    pushed = [
        l
        for l in plan.splitlines()
        if "PushedFilters" in l and "EqualTo(lang,en)" in l
    ]
    assert pushed, "lang predicate must reach the index parquet scan as a pushed filter"
    # and the member side is the enriched index layout, not a documents join
    assert "embeddings_ivf_meta" in plan


def test_scd2_asof_pushes_validity_predicate_to_scan(spark):
    """scan_scd2_asof's scale claim: each snapshot's validity predicate is
    a literal data-column filter that reaches the versioned table's
    parquet scan (PushedFilters on valid_from/valid_to), not a spine join
    that drags every version row."""
    plan = _plan(spark, "scan_scd2_asof")
    pushed = [
        l for l in plan.splitlines() if "PushedFilters" in l and "valid_from" in l
    ]
    assert pushed, "validity predicate must reach the parquet scan"
    assert "Join" not in plan, "AS OF must be a filter, not a snapshot-spine join"


def test_pq_filtered_codes_scan_pushes_lang(spark):
    """scan_pq_probe_filtered's scale claim: the lang predicate prunes the
    CODE TABLE at the parquet scan (PushedFilters), composing with the ADC
    chunk fetch's vec_id-range pushdown — no serve-time metadata join. The
    frame below is the op's own codes construction (llm_similarity.py::
    scan_pq_probe_filtered)."""
    from pyspark.sql import functions as F

    from userportrait.ops.llm_similarity import _FILTERED_LANG, _write_pq_meta_index
    from userportrait.ops.scans import _snapshot_read

    root = _write_pq_meta_index(spark, SF_DIR)
    codes = (
        _snapshot_read(spark, root, part="codes")
        .where(F.col("lang") == _FILTERED_LANG)
        .select("vec_id", "code")
    )
    plan = codes._jdf.queryExecution().executedPlan().toString()
    pushed = [
        l for l in plan.splitlines() if "PushedFilters" in l and "EqualTo(lang,en)" in l
    ]
    assert pushed, "lang predicate must reach the code-table scan as a pushed filter"
    assert "embeddings_pq_meta" in plan


def test_ivfpq_probe_prunes_partitions(spark):
    """The composed IVF+PQ index's pruning proof (the zorder-proof
    pattern, third application): the probed-cell isin over the
    cell-partitioned CODE table plans PartitionFilters keeping exactly
    those partitions — so a probe reads only probed cells AND each read
    row is an 8 B code, the two prunings sink_ivfpq_layout exists to
    stack — and the filtered read drops nothing the probe needed."""
    from pyspark.sql import functions as F

    from userportrait.ops.llm_similarity import _write_ivfpq_index
    from userportrait.ops.scans import _snapshot_read

    root = _write_ivfpq_index(spark, SF_DIR)
    back = _snapshot_read(spark, root, part="cells")
    cells = [r["cell"] for r in back.select("cell").distinct().limit(2).collect()]
    q = back.where(F.col("cell").isin(cells))
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "cell" in pf.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    # the code table is one 8-byte long per vector (+ the lang attribute
    # column for predicate pushdown) — no raw vector column
    assert set(back.columns) == {"vec_id", "code", "lang", "cell"}
    n_cells = back.select("cell").distinct().count()
    assert len(_cell_dirs(root)) == n_cells
    assert q.select("cell").distinct().count() == len(cells)


def test_width_scales_with_input_volume(spark):
    """catalog.width, the one shuffle-width rule: no (or a non-positive)
    byte count gives the fleet width; otherwise ceil(nbytes / per_task),
    capped at the fleet width and floored at 1. The text family's
    volume-derived width reaches the physical plan, and an unstatable
    input path falls back to the fleet width."""
    from userportrait.catalog import path_bytes, width
    from userportrait.ops.llm_text import TEXT_TASK_BYTES

    cap = spark.sparkContext.defaultParallelism
    assert width(spark) == cap
    assert width(spark, 0, 1) == cap
    assert width(spark, 1, 1 << 20) == 1
    assert width(spark, 2 * 1000 + 1, 1000) == min(cap, 3)
    assert width(spark, cap * 1000 + 1, 1000) == cap
    b = path_bytes(f"{SF_DIR}/documents.parquet")
    assert b > 0
    w = width(spark, b, TEXT_TASK_BYTES)
    assert w == max(1, min(cap, -(-b // 65536)))
    # the width reaches the physical plan (width 1 plans as SinglePartition)
    plan = _plan(spark, "text_fingerprint")
    if w == 1:
        assert "Exchange SinglePartition" in plan, plan
    else:
        assert "hashpartitioning(doc_id" in plan and f", {w})" in plan, plan
    # unstatable input path -> fleet width
    gone = path_bytes("/nonexistent/sfX/documents.parquet")
    assert gone == 0
    assert width(spark, gone, TEXT_TASK_BYTES) == cap
    # the wedge-volume width floors at the fleet width on a small graph
    from userportrait.ops.pipeline_ext import wedge_partitions

    deg = spark.createDataFrame([(i, 3) for i in range(10)], "n long, d int")
    assert wedge_partitions(deg) == cap
