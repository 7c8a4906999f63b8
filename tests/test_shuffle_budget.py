"""Shuffle-byte budgets: executed-plan SQLMetrics, not plan shapes.

test_plan_quality.py pins WHICH operators appear; these tests pin how
much data actually crossed the exchanges — the map-side-combine and
broadcast guarantees that decide 100x survival. Counters are exact
(not timings), so the assertions are contention-immune.
"""

from __future__ import annotations

import pytest

from glamira_batch_processing_spark.plans.metrics import exchange_summary

from .conftest import SF_MEDIUM


@pytest.fixture(scope="module")
def qs():
    import __spark_entry__ as contract

    return contract.queries()


def _run(spark, qs, name):
    df = qs[name](spark, SF_MEDIUM)
    df.collect()
    return exchange_summary(df)


def test_q1_map_side_combine_bounds_shuffle(spark, qs):
    """TPC-H Q1: 6 output groups — the exchange must carry per-partition
    PARTIALS (groups x partitions x agg-state), never input rows."""
    s = _run(spark, qs, "q1_pricing_summary")
    assert s["scan_rows"] >= 50_000  # the scan really read the fact table
    assert s["shuffle_records"] <= 2_000, s
    assert s["shuffle_bytes"] < 1_000_000, s


def test_j2_dims_broadcast_not_shuffled(spark, qs):
    """Dim join: nation/region reach the join as broadcasts; the only
    shuffle is the final agg's partials."""
    s = _run(spark, qs, "j2_revenue_by_nation")
    assert s["n_broadcasts"] >= 1, s
    assert s["shuffle_records"] <= 5_000, s


def test_dedup_exact_shuffles_constant_bytes_per_row(spark, qs):
    """Exact dedup: one md5 groupBy — shuffled bytes stay a small
    constant per scanned row (hash + counts), never the document text."""
    s = _run(spark, qs, "dedup_exact")
    assert s["n_shuffles"] >= 1
    per_row = s["shuffle_bytes"] / max(1, s["scan_rows"])
    assert per_row < 200, f"{per_row:.1f} B/row shuffled: {s}"


def test_funnel_count_distinct_no_expand_blowup(spark, qs):
    """Per-user distinct-stage counting: the partial-distinct exchange
    carries at most ~one record per scanned event ((user, stage) pairs
    after per-partition dedup — at this SF the pair cardinality is near
    the event count, so the invariant is NO MULTIPLICATION: a
    multi-countDistinct Expand rewrite would triple the exchanged rows,
    and that is what this budget pins. Bytes stay a small constant per
    row (ids, never payloads)."""
    s = _run(spark, qs, "funnel_view_click_purchase")
    assert s["scan_rows"] > 0
    assert s["shuffle_records"] <= 1.05 * s["scan_rows"] + 100, s
    per_row = s["shuffle_bytes"] / s["scan_rows"]
    assert per_row < 64, f"{per_row:.1f} B/row shuffled: {s}"


def test_decontaminate_probe_is_broadcast(spark, qs):
    """Benchmark decontamination: the eval shingle set broadcasts; the
    corpus is never shuffled for the overlap probe. The budget is on the
    serialized payload; the hash relation's page allocation scales with
    memory per core, not with the data."""
    s = _run(spark, qs, "decontaminate_benchmark_overlap")
    assert s["n_broadcasts"] >= 1, s
    assert s["broadcast_payload_bytes"] < 20_000_000, s


def test_video_frame_decode_is_scan_fused(spark, qs):
    """Sampled-frame video decode: one mapInPandas pass. Round 14: at
    most ONE exchange — the deliberate key-only fan_out of the 8-byte
    doc_id that spreads the render+decode across workers when the scan
    is narrower than the cluster (a no-op on parallel scans; measured
    1.20 -> 0.73 s at sf0.1). Payload bytes still never shuffle: the
    exchange sits BELOW the payload-producing mapInPandas."""
    s = _run(spark, qs, "multimodal_video_frames")
    assert s["n_shuffles"] <= 1 and s["n_broadcasts"] == 0, s
