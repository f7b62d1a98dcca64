"""Pin bench.py's historical-minima plumbing (VERDICT r06 #3).

r06 shipped two defects here: ``_prior_round_timings`` read
``data["queries"]`` while the driver nests timings under
``parsed.queries`` (so the drift guards always saw ``{}``), and the
single 66-query stdout line outgrew the driver's 2000-char tail window
(so ``parsed`` came back null). These tests feed fixture BENCH records
through the extraction path and assert the minima come out right,
including the regex-scavenge fallback for clipped tails.
"""

from __future__ import annotations

import json

from bench import _timings_from_bench_record


def test_reads_driver_nested_parsed_queries() -> None:
    rec = {
        "sf": 0.1,
        "tail": "",
        "parsed": {
            "metric": "headline_queries_total",
            "value": 2.0,
            "unit": "sec",
            "queries": {"q_a": 1.25, "q_b": 0.75},
            "sf": 0.1,
        },
    }
    assert _timings_from_bench_record(rec, 0.1) == {"q_a": 1.25, "q_b": 0.75}
    # wrong SF → ignored
    assert _timings_from_bench_record(rec, 0.01) == {}


def test_scavenges_clipped_tail_without_ratio_contamination() -> None:
    """A tail whose head is clipped mid-queries-map (r06's shape) must
    yield the visible timings but NEVER pick up vs_historical_min
    ratios — a 0.98 ratio mistaken for 0.98s poisons the minima."""
    line = (
        '"q_tail_a": 1.111, "q_tail_b": 2.222}, "sf": 0.1,'
        ' "loadavg_before": [1.0, 1.0, 1.0], "drift_rerun": false,'
        ' "vs_historical_min": {"q_tail_a": 0.98, "q_tail_b": 3.5}}'
    )
    rec = {"sf": 0.1, "tail": line, "parsed": None}
    got = _timings_from_bench_record(rec, 0.1)
    assert got == {"q_tail_a": 1.111, "q_tail_b": 2.222}


def test_rejects_tail_clipped_past_queries_map_entirely() -> None:
    """An old-format tail clipped PAST the whole queries map leaves
    only vs_historical_min ratio pairs (no '"queries"' / '_total'
    substring). The scavenger must yield nothing rather than record a
    0.98 ratio as a 0.98 s timing (ADVICE r07)."""
    line = (
        '"vs_historical_min": {"q_a": 0.98, "q_b": 3.51, "q_c": 1.02}}'
    )
    rec = {"sf": 0.1, "tail": line, "parsed": None}
    assert _timings_from_bench_record(rec, 0.1) == {}


def test_scavenges_tail_with_visible_queries_key() -> None:
    rec = {
        "sf": 0.1,
        "parsed": None,
        "tail": (
            'junk warning line\n{"metric": "headline_queries_detail",'
            ' "sf": 0.1, "vs_historical_min": {"q_x": 0.5},'
            ' "queries": {"q_x": 4.004, "q_y": 0.101}}'
        ),
    }
    got = _timings_from_bench_record(rec, 0.1)
    assert got == {"q_x": 4.004, "q_y": 0.101}


def test_committed_r06_tail_is_recoverable() -> None:
    """The actual round-6 artifact (parsed: null) must scavenge to a
    non-trivial timing map — this is the record the r06 drift guards
    went blind on."""
    with open("/root/repo/BENCH_r06.json") as f:
        rec = json.load(f)
    assert rec["parsed"] is None  # the r06 defect this guards against
    got = _timings_from_bench_record(rec, 0.1)
    assert len(got) >= 40
    assert all(0 < v < 3600 for v in got.values())
    # no ratio contamination: r06's vs_historical_min was {} and every
    # scavenged value must be a plausible per-query second
    assert "value" not in got and "sf" not in got


def test_final_stdout_line_stays_inside_driver_tail_window() -> None:
    """The driver json.loads the LAST stdout line inside a 2000-char
    tail (every committed BENCH_r*.json tail is exactly 2000 chars).
    Simulate the r12 worst case: all 72 headline queries in the
    short-key map at 4-digit values, worst-5 ratios under FULL names,
    every optional field present — the line must stay inside the
    window with margin for the trailing newline."""
    from bench import HEADLINE

    worst = {name: 9.99 for name in HEADLINE[:5]}
    final = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 99999.999,
            "unit": "sec",
            "sf": 0.1,
            "n_queries": len(HEADLINE),
            "loadavg_before": [99.99, 99.99, 99.99],
            "loadavg_after": [99.99, 99.99, 99.99],
            "drift_rerun": True,
            "n_retimed": 15,
            "retime_exhausted": True,
            "median_vs_hist": 9.999,
            "uniform_drift": True,
            "worst_vs_hist": worst,
            "legend": "bench_legend.json",
            "queries": {f"q{i:02d}": 9.999 for i in range(len(HEADLINE))},
            "detail": "stderr + bench_history.jsonl",
        }
    )
    assert len(final) < 1950, len(final)


def test_overlong_stdout_line_exits_instead_of_printing() -> None:
    """Dropping the optional fields is the only shortening; a line
    still too long for the tail window is an error, not a clipped
    record."""
    import pytest

    from bench import _fit_line

    fields = {"metric": "headline_queries_total", "worst_vs_hist": "x" * 99}
    assert "worst_vs_hist" in json.loads(_fit_line(dict(fields)))
    fields["worst_vs_hist"] = "x" * 2000
    assert "worst_vs_hist" not in json.loads(_fit_line(dict(fields)))
    fields["queries"] = {f"q{i:03d}": 9.999 for i in range(200)}
    with pytest.raises(SystemExit) as e:
        _fit_line(fields)
    assert e.value.code != 0


# HEADLINE[:72] frozen: qNN keys in committed BENCH records point at
# these names, so HEADLINE may only grow at the end
_HEADLINE_72 = (
    "flagship_pricing_summary",
    "join_multiway",
    "join_left_outer",
    "join_semi",
    "groupby_agg",
    "count_distinct",
    "distinct_pairs",
    "window_rank",
    "window_running_agg",
    "topk_limit",
    "cte_top_suppliers",
    "set_union",
    "window_groups_exclude",
    "tpch_q5_local_supplier_volume",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume_customer",
    "tpch_q10_returned_items",
    "tpch_q14_promo_effect",
    "tpch_q19_disjunctive_revenue",
    "tpch_q22_global_sales_opportunity",
    "tpch_q21_waiting_suppliers",
    "tpch_q17_small_quantity_revenue",
    "tpch_q9_product_profit",
    "dedup_paragraph_chunks",
    "merge_upsert_orders",
    "grouping_sets_agg",
    "percentile_stats",
    "json_extract_props",
    "join_skew_salted",
    "zorder_layout_orders",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_embedding_lsh",
    "sample_stratified_balanced",
    "sample_importance_weighted",
    "sample_curriculum_buckets",
    "sample_weighted_reservoir",
    "text_collapse_runs",
    "ann_cosine_topk",
    "embedding_quantize_int8",
    "doc_chunk_overlap",
    "text_quality_score",
    "text_bm25_topk",
    "text_perplexity_score",
    "text_perplexity_bigram",
    "text_pii_redact",
    "quality_filter_chain",
    "events_user_features",
    "dedup_semantic_clusters",
    "pipeline_end_to_end",
    "multimodal_audio_features",
    "sample_shuffle_deterministic",
    "events_tumbling_window",
    "events_sessionize",
    "events_late_drop",
    "pack_sequences",
    "contamination_check",
    "dedup_containment",
    "graph_pagerank_dupgraph",
    "text_quality_lr_score",
    "text_boilerplate_strip",
    "text_ccnet_ppl_buckets",
    "market_basket_pairs",
    "graph_triangle_count",
    "ann_lsh_recall",
    "events_markov_transitions",
    "events_rfm_scores",
    "text_ngram_novelty",
    "docs_cross_source_overlap",
)


def test_committed_legend_matches_headline() -> None:
    """bench_legend.json is the committed qNN → full-name mapping the
    stdout line's short keys point at. It must track HEADLINE exactly
    (HEADLINE is append-only, so existing keys never change meaning)."""
    from bench import HEADLINE

    assert tuple(HEADLINE[:72]) == _HEADLINE_72
    with open("/root/repo/bench_legend.json") as f:
        legend = json.load(f)
    assert legend == {f"q{i:02d}": n for i, n in enumerate(HEADLINE)}


def test_short_keys_expand_to_full_names() -> None:
    """An r12+ driver-committed BENCH record carries the short-key map;
    the minima fold must translate keys back to full names so they
    merge with the full-name history (and unknown/full names pass
    through untouched)."""
    from bench import HEADLINE, _expand_short_key

    assert _expand_short_key("q00") == HEADLINE[0]
    assert _expand_short_key("q71") == HEADLINE[71]
    assert _expand_short_key("q99") == "q99"  # out of range: untouched
    assert _expand_short_key("tpch_q6_forecast_revenue") == (
        "tpch_q6_forecast_revenue"
    )
    rec = {
        "sf": 0.1,
        "tail": "",
        "parsed": {
            "metric": "headline_queries_total",
            "sf": 0.1,
            "queries": {"q00": 1.5, "q01": 0.25},
        },
    }
    got = _timings_from_bench_record(rec, 0.1)
    assert got == {HEADLINE[0]: 1.5, HEADLINE[1]: 0.25}
