"""Physical-plan regression guards: the plan properties the 100TB story
depends on, asserted so a refactor that silently loses them fails CI.

These check INVARIANTS (a broadcast exists / pushdown reached the scan /
top-k never global-sorts), not exact plan strings — Spark version bumps
reshape plans, but these properties must survive."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


@pytest.fixture(scope="module")
def qs():
    from nexusbase_spark.queries import all_queries
    return all_queries()


def test_star_joins_broadcast_dims_no_cartesian(spark, qs):
    """TPC-H star shapes: every dim reaches the fact through a broadcast
    hash join at test scale (constant dims are pinned, SF-proportional
    dims threshold-decided — VERDICT r2 fix), and nothing degenerates
    into a cartesian product."""
    for name, min_bhj in (("tpch_q3_top_orders", 1),
                          ("tpch_q5_region_revenue", 3),
                          ("tpch_q8_mkt_share", 5)):
        plan = _plan(qs[name](spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= min_bhj, name
        assert "CartesianProduct" not in plan, name


def test_topk_is_distributed_not_global_sort(spark, qs):
    """cursor_page (keyset pagination + LIMIT) compiles to
    TakeOrderedAndProject — per-partition top-K merged on the driver —
    never a full global sort of the scan."""
    plan = _plan(qs["cursor_page"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_scan_filters_are_pushed_to_parquet(spark, qs):
    """The raw range+tag scan's time-range predicate reaches the parquet
    reader (row-group min/max pruning at scale) — PushedFilters is
    populated, not empty brackets."""
    plan = _plan(qs["raw_scan_range_tag"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "empty PushedFilters on the raw scan"


def test_downsample_single_agg_exchange(spark, qs):
    """The epoch-aligned downsample is one partial+final aggregate pair
    over one key exchange — window alignment is a projection, never a
    join against a window grid."""
    plan = _plan(qs["downsample_1d"](spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # agg shuffle (+AQE read nodes)


_SF_PROPORTIONAL = {"customer", "supplier", "part", "orders", "lineitem",
                    "events", "documents", "embeddings"}


def test_no_broadcast_pinned_on_sf_proportional_tables():
    """Source lint (AST): no `F.broadcast(...)` whose argument derives
    from a load of an SF-proportional table. Pinned broadcast hints on
    tables that grow with scale factor force multi-GB broadcast builds
    at 100x (executor/driver OOM) instead of AQE's shuffle fallback —
    the class recurred in rounds 2 AND 3 (VERDICT r3 #1), so it is now
    lint-impossible. Constant dims (nation, region) and k-row/1-row
    derived frames (aggregates, rate cards, centroids) stay pinnable."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "nexusbase_spark"
    offenders = []

    def table_of(call: ast.Call) -> str | None:
        fn = call.func
        name = fn.attr if isinstance(fn, ast.Attribute) else (
            fn.id if isinstance(fn, ast.Name) else None)
        if name == "load_table" and call.args:
            last = call.args[-1]
            if isinstance(last, ast.Constant) and isinstance(last.value, str):
                return last.value
        return None

    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for func in [n for n in ast.walk(tree)
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]:
            # vars bound (possibly via .filter/.select chains) to big tables
            big_vars: set[str] = set()
            for node in ast.walk(func):
                if isinstance(node, ast.Assign):
                    tabs = {t for c in ast.walk(node.value)
                            if isinstance(c, ast.Call)
                            for t in [table_of(c)] if t}
                    # propagate through derivations of an already-big var,
                    # but an agg/limit reduction in the RHS makes the
                    # result k-row — stop the taint there
                    names = {n.id for n in ast.walk(node.value)
                             if isinstance(n, ast.Name)}
                    rhs_reduced = any(
                        isinstance(c, ast.Call)
                        and isinstance(c.func, ast.Attribute)
                        and c.func.attr in {"agg", "limit", "summary",
                                            "count"}
                        for c in ast.walk(node.value))
                    if rhs_reduced:
                        continue
                    if (tabs & _SF_PROPORTIONAL) or (names & big_vars):
                        for tgt in node.targets:
                            if isinstance(tgt, ast.Name):
                                big_vars.add(tgt.id)
            for node in ast.walk(func):
                if not (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "broadcast"):
                    continue
                for arg in node.args:
                    direct = {t for c in ast.walk(arg)
                              if isinstance(c, ast.Call)
                              for t in [table_of(c)] if t}
                    names = {n.id for n in ast.walk(arg)
                             if isinstance(n, ast.Name)}
                    derived = names & big_vars
                    # a k-row aggregate of a big table is fine: only flag
                    # when the broadcast arg has no groupBy/agg/limit
                    # reduction between the load and the hint
                    reduced = any(
                        isinstance(c, ast.Call)
                        and isinstance(c.func, ast.Attribute)
                        and c.func.attr in {"agg", "groupBy", "limit",
                                            "summary", "count"}
                        for c in ast.walk(arg))
                    if (direct & _SF_PROPORTIONAL or derived) and not reduced:
                        # Call-site exemption (VERDICT r4 #3: the old
                        # file-level allowlist would let a future
                        # big-table broadcast slip into a 3,600-line
                        # exempted file): a `# lint: k-row <reason>`
                        # comment ON the broadcast line or the line
                        # above re-justifies the site; anything
                        # unannotated is an offender.
                        src = path.read_text().splitlines()
                        near = " ".join(src[max(node.lineno - 2, 0):
                                            node.lineno])
                        if "# lint: k-row" in near:
                            continue
                        offenders.append(
                            f"{path.name}:{node.lineno} broadcasts "
                            f"{sorted((direct & _SF_PROPORTIONAL) | derived)}")
    assert not offenders, f"SF-proportional broadcast hints: {offenders}"


@pytest.mark.nightly
def test_registry_plan_sweep_no_cartesian(spark, qs):
    """Every registered query's physical plan, compiled at sf0.001:
    no CartesianProduct anywhere (the deliberate 1-row cross joins
    compile to BroadcastNestedLoopJoin, which is allowed). Plan-only —
    nothing executes — so the whole registry sweeps in ~a minute and
    any future quadratic join shape fails CI by name."""
    bad = {}
    for name, fn in qs.items():
        try:
            plan = _plan(fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001 - collect, report by name
            bad[name] = f"plan compile failed: {e}"
            continue
        if "CartesianProduct" in plan:
            bad[name] = "CartesianProduct"
    assert not bad, bad


def test_nightly_tier_keeps_core_coverage_per_module():
    """The driver-completable core / nightly split (r10) must never
    empty a module from the default run: every test file keeps at least
    one test WITHOUT the nightly marker, so each subsystem stays
    smoke-covered under the driver's wall-time budget."""
    import ast
    import pathlib

    for path in sorted(pathlib.Path(__file__).resolve().parent.glob("test_*.py")):
        tree = ast.parse(path.read_text())
        has_core = False
        for node in ast.walk(tree):
            if (isinstance(node, ast.FunctionDef)
                    and node.name.startswith("test_")):
                marked = any("nightly" in ast.dump(d)
                             for d in node.decorator_list)
                if not marked:
                    has_core = True
                    break
        assert has_core, f"{path.name} has no core (non-nightly) test"


def test_priority_prefix_well_formed():
    """The driver-gate witness window: no duplicates, all names
    registered (a rename must update the prefix, not silently shrink
    coverage), and it fits the driver's 50-row cap. Round-8 policy
    (VERDICT r7 next #1): the window must use the full cap, keep the 8
    canaries, contain the 3 never-witnessed round-7 sketch-MERGE
    additions (a green round 8 reaches 238/238 cumulative — the whole
    registry), and fill the remaining 39 slots oldest-evidence-first:
    all 16 remaining round-2-vintage queries, then the
    alphabetically-first 23 round-3-vintage queries (vintages computed
    from the CORRECTNESS_r{1..7} history, not NOTES' recollection)."""
    from nexusbase_spark.queries import PRIORITY_PREFIX, all_queries
    names = set(all_queries())
    assert len(PRIORITY_PREFIX) == len(set(PRIORITY_PREFIX))
    assert set(PRIORITY_PREFIX) <= names
    assert len(PRIORITY_PREFIX) == 50
    canaries = {
        "raw_scan_range_tag", "final_agg_basic", "downsample_1d",
        "mvcc_dedup_latest", "tombstone_series", "cursor_page",
        "nbql_downsample", "doc_dedup_exact",
    }
    assert canaries <= set(PRIORITY_PREFIX)
    never_witnessed = {
        # round-7 sketch-MERGE additions
        "events_hll_md5_weekly_users", "events_cms_merged_halves",
        "docs_bloom_shard_merge",
    }
    assert len(never_witnessed) == 3
    assert never_witnessed <= set(PRIORITY_PREFIX)
    rewitness = {
        # round-2 vintage, all 16 remaining
        "nbql_tag_matchers", "orders_priority_pivot", "point_get",
        "relative_range_agg", "rollup_incremental_1d", "series_by_tags",
        "show_metrics", "show_tag_keys", "show_tag_values",
        "subscribe_filter_prefix", "text_lang_id", "text_quality",
        "text_token_count", "tombstone_point", "tombstone_range",
        "tpch_q12_priority_classes",
        # round-3 vintage, alphabetical first 23 of 43
        "doc_containment_pairs", "doc_dedup_bucket_clusters",
        "doc_dedup_minhash_capped", "doc_dedup_simhash_pairs",
        "doc_fingerprint", "doc_winnow_fingerprint", "docs_chunk_dedup",
        "docs_chunk_sliding", "docs_interleave_mix", "docs_length_deciles",
        "docs_length_histogram", "docs_perplexity_filter",
        "docs_quality_classifier", "docs_quality_filter_report",
        "docs_stratified_sample", "docs_temperature_mix",
        "docs_temperature_sample", "docs_tfidf_top3", "docs_vocab_top50",
        "downsample_p95_tdigest", "embed_int8_topk",
        "embed_ivf_kmeans_topk", "embed_label_centroids",
    }
    assert len(rewitness) == 39
    assert set(PRIORITY_PREFIX) == canaries | never_witnessed | rewitness


def test_round5_topk_queries_use_take_ordered(spark, qs):
    """The round-5 top-k reports (session paths, basket lift) compile to
    TakeOrderedAndProject — distributed top-k, never a global sort of
    the aggregate."""
    for name in ("events_session_paths", "lineitem_basket_lift"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, name


def test_ks_windows_are_value_bounded(spark, qs):
    """The KS/Mann-Whitney ECDF windows run AFTER the per-value rollup:
    the plan aggregates (partial+final over the value key) before any
    Window node, so window input is value-cardinality-bounded, never
    the raw stream."""
    for name in ("events_ks_drift", "events_mannwhitney_u"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "Window" in plan, name
        # the window's child subtree must contain the value aggregation
        win_at = plan.index("Window")
        assert "HashAggregate" in plan[win_at:], name


@pytest.mark.nightly
def test_round5_stats_queries_scan_once(spark, qs):
    """The round-5 statistics family's multi-reference epilogues must
    NOT re-scan the base table per reference: the k-row rollup is
    eagerly checkpointed, so the FINAL plan contains zero parquet scans
    (the one real scan ran inside the checkpoint) — chi-square compiled
    to 12 events scans before this guard's fix."""
    for name in ("events_chi_square", "events_theil_sen",
                 "orders_benford", "lineitem_gini_revenue",
                 "docs_heaps_law", "embed_centroid_drift",
                 "orders_hill_tail_index",
                 "events_seasonal_naive_backtest",
                 "docs_token_budget_curve", "events_seasonal_strength",
                 "docs_dedup_rate_curve", "doc_minhash_recall",
                 "embed_pq_distortion", "lineitem_abc_classification",
                 "events_dominant_period"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert plan.count("FileScan parquet") == 0, name


def test_round5_stats_queries_prune_columns(spark, qs):
    """Single-scan stats queries read ONLY the columns they use — a
    scan that drags the full documents/events row width for a
    two-column statistic is wrong at any scale."""
    import re

    cases = {
        "events_anova": {"event_type", "value"},
        "docs_quality_kappa": {"text"},
        "docs_calibration_bins": {"text"},
        "events_proportion_ztest": {"event_type", "user_id", "value"},
        "events_interarrival_burstiness": {"event_type", "ts", "event_id"},
    }
    for name, want in cases.items():
        plan = _plan(qs[name](spark, SF_DIR))
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        assert scans, name
        for cols in scans:
            got = {c.split("#")[0] for c in cols.split(",") if c}
            assert got <= want, (name, got)


def test_asof_same_source_single_scan(spark, qs):
    """The tagged as-of join builds both sides from ONE scan of events:
    the union-of-two-filters form planned two full scans of the same
    table, which doubles the dominant input cost at scale (r9)."""
    import re

    for name in ("events_asof_enrich", "events_last_touch_attribution"):
        plan = _plan(qs[name](spark, SF_DIR))
        scans = re.findall(r"FileScan parquet|Scan parquet", plan)
        assert len(scans) == 1, (name, len(scans))
        assert "Union" not in plan, name


def test_downsample_groups_without_map_normalization(spark, qs):
    """tags (a map) stays OUT of the downsample grouping key —
    series_key determines it — so the plan carries no per-row
    _groupingmapsort normalization and the shuffle key stays narrow (r9)."""
    for name in ("downsample_1d", "downsample_p95_tdigest"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "_groupingmapsort" not in plan, name


def test_simhash_hashes_token_once(spark, qs):
    """SimHash derives its two words from ONE md5 per token, projected
    below the vote aggregate — not one md5 per bit (was 16x/32x, r9)."""
    plan = _plan(qs["doc_dedup_simhash"](spark, SF_DIR))
    phys = plan.split("== Physical Plan ==", 1)[1]
    assert phys.count("md5(") <= 2, phys.count("md5(")


def test_text_quality_tokenizes_once(spark, qs):
    """Quality features derive from a single projected token array —
    the inlined form re-split the text 5x per row (r9)."""
    plan = _plan(qs["text_quality"](spark, SF_DIR))
    phys = plan.split("== Physical Plan ==", 1)[1]
    assert phys.count("split(") <= 1, phys.count("split(")


def test_pair_cosine_folds_dot_only(spark, qs):
    """Pairwise cosine kernels pre-project per-row norms below the
    join: the per-pair projection folds ONLY the dot product (was three
    dim-element HOF folds per pair — 2.9x measured, r9). The physical
    plan's final pair-level Project must contain exactly one
    aggregate(zip_with...) — the dot — and no SQRT over a fold."""
    import re

    plan = _plan(qs["embed_knn_graph"](spark, SF_DIR))
    phys = plan.split("== Physical Plan ==", 1)[1]
    # the pair-level projection is the one emitting the quantized cosine
    pair_projects = [ln for ln in phys.splitlines()
                     if "Project" in ln and "FLOOR" in ln and "aggregate(" in ln]
    assert pair_projects, "pair projection not found"
    for ln in pair_projects:
        assert len(re.findall(r"aggregate\(zip_with", ln)) == 1, ln[:200]


def test_multi_percentile_shares_one_buffer(spark, qs):
    """final_agg_firstlast's three exact percentiles share ONE
    percentile(value, [0.5, 0.95, 0.99]) aggregate buffer — three
    separate percentile aggregates each buffer every value of the group
    independently (3x memory, per-row update work and partial-aggregate
    exchange bytes, r10)."""
    import re

    plan = _plan(qs["final_agg_firstlast"](spark, SF_DIR))
    phys = plan.split("== Physical Plan ==", 1)[1]
    partials = re.findall(r"partial_percentile\(", phys)
    assert len(partials) == 1, len(partials)
    assert "[0.5,0.95,0.99]" in phys


def test_nbql_multi_percentile_shares_one_buffer(spark):
    """NBQL aggregates compile through the operator library, so an NBQL
    p50/p95/p99 of one field shares ONE percentile buffer as well."""
    import re

    from nexusbase_spark.queries import T1, T2
    from nexusbase_spark.queries_nbql import _engine

    df = _engine(spark, SF_DIR).execute(
        f"QUERY click FROM {T1} TO {T2} "
        "AGGREGATE (p50(value), p95(value), p99(value))")
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    partials = re.findall(r"partial_percentile\(", phys)
    assert len(partials) == 1, len(partials)


def test_minhash_signatures_materialized_below_selfjoin(spark, qs):
    """The LSH kernel's persist holds the k min-hash SIGNATURES, not just
    the per-shingle hashes: both candidate self-join sides read h0..h7
    from the cache instead of re-running the k array_min(transform(...))
    folds per side (verified against the executed plan, r10)."""
    import re

    plan = _plan(qs["doc_dedup_minhash_lsh"](spark, SF_DIR))
    cached_reads = re.findall(r"InMemoryTableScan \[([^\]]*)\]", plan)
    assert cached_reads, "minhash kernel lost its persist"
    sig_reads = [c for c in cached_reads if "h0#" in c and "h7#" in c]
    assert sig_reads, cached_reads


def test_semdedup_augmented_corpus_persisted(spark, qs):
    """embed_semdedup_prune persists the augmented corpus: its four
    consumers (pair-join sides, anti-join left, per-label totals) read
    the cache instead of re-running the two embedding scans plus the
    perturbation projection each (8 physical scans in the executed
    plan before, r10)."""
    plan = _plan(qs["embed_semdedup_prune"](spark, SF_DIR))
    assert "InMemoryRelation" in plan


def test_perplexity_score_branch_runs_once(spark, qs):
    """docs_perplexity_filter materializes the per-doc score frame: the
    threshold percentiles and the band filter prune different columns,
    so their exchanges never canonicalize equal and the whole
    scan+explode+join+aggregate score pipeline ran twice (r10). After
    the checkpoint the returned plan scans parquet only for the lang
    join."""
    plan = _plan(qs["docs_perplexity_filter"](spark, SF_DIR))
    phys = plan.split("== Physical Plan ==", 1)[1]
    assert phys.count("Scan parquet") <= 1, phys.count("Scan parquet")


def test_curation_dedup_has_no_window(spark, qs):
    """docs_curation_pipeline keeps only the dedup keepers, so its dedup
    stage is a min_by AGGREGATION (map-side partial aggregation — the
    exchange carries ~one row per group), never the ship-every-row
    Sort + Window form (r10)."""
    plan = _plan(qs["docs_curation_pipeline"](spark, SF_DIR))
    phys = plan.split("== Physical Plan ==", 1)[1]
    assert "Window" not in phys
    assert "partial_min_by" in phys
    # the quality filter tokenizes ONCE via the exists() let-binding —
    # the inlined pushed-down form re-split the text 16x per row under
    # fallback eval (r10; projected aliases can't survive pushdown)
    assert phys.count("split(") <= 2, phys.count("split(")


def test_quality_family_tokenizes_once(spark, qs):
    """Every quality/lang-id projection or aggregate derives from ONE
    projected token array — inlined, the verdict expressions re-derived
    the split per feature reference (kappa's plan carried 248 copies, r9)."""
    for name in ("docs_quality_classifier", "docs_quality_filter_report",
                 "docs_quality_kappa", "docs_quality_auc", "text_lang_id",
                 "docs_calibration_bins", "docs_langid_confusion",
                 "text_repetition", "docs_gopher_rules",
                 "doc_winnow_fingerprint"):
        plan = _plan(qs[name](spark, SF_DIR))
        phys = plan.split("== Physical Plan ==", 1)[1]
        assert phys.count("split(") <= 1, (name, phys.count("split("))
    # winnow additionally hashes each shingle once, not once per window
    # slice reference
    plan = _plan(qs["doc_winnow_fingerprint"](spark, SF_DIR))
    phys = plan.split("== Physical Plan ==", 1)[1]
    assert phys.count("md5(") <= 1, phys.count("md5(")


def test_shingle_filters_and_reused_frames_tokenize_once(spark, qs):
    """Round-10 sweep residuals stay fixed: shingle-less docs are dropped
    via size(__toks) >= n (the equivalent size(shset) > 0 form pushed
    below the token projection with the whole shingle pipeline re-inlined
    — 6 split() copies per row at the scan, 18 on derived texts);
    fingerprint_mink takes pre-projected tokens; and the twice-consumed
    frames in heavy_hitters_topk / budget_select are persisted so the
    scoring scan runs once."""
    plan = _plan(qs["doc_fingerprint"](spark, SF_DIR))
    phys = plan.split("== Physical Plan ==", 1)[1]
    assert phys.count("split(") <= 1, phys.count("split(")

    plan = _plan(qs["docs_heavy_hitter_bigrams"](spark, SF_DIR))
    assert "InMemoryRelation" in plan, "MG/recount arrays lost their persist"
    phys = plan.split("== Physical Plan ==", 1)[1]
    # the cached child renders once per cache reference (2 textual); the
    # executed materialization tokenizes once — bound the per-line count
    worst = max((ln.count("split(") for ln in phys.splitlines()), default=0)
    assert worst <= 1, worst
    assert phys.count("split(") <= 2, phys.count("split(")

    plan = _plan(qs["docs_budget_select"](spark, SF_DIR))
    assert "InMemoryRelation" in plan, "scored frame lost its persist"

    # minhash banding: each scan branch's pushed emptiness filter carries
    # the tokenizer once (the augmented-corpus branch additionally holds
    # its derived-text inner splits — 3 total on that line, was 18)
    plan = _plan(qs["doc_dedup_minhash_lsh"](spark, SF_DIR))
    phys = plan.split("== Physical Plan ==", 1)[1]
    worst = max((ln.count("split(") for ln in phys.splitlines()), default=0)
    assert worst <= 3, worst
