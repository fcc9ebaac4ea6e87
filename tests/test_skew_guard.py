"""The auto-engaging skew cap (operators/skew_guard.py): decision unit
tests on controlled size frames, plus an end-to-end force-engage on a
clone corpus proving the "auto" default = the documented hand-set cap
exactly when the corpus is pathological, and = uncapped when it isn't."""

import os
import random
import tempfile

import pytest
from pyspark.sql import functions as F

from url_counter_mapreduce_spark.operators.skew_guard import (
    AUTO_POSTING_CAP,
    SKEW_COST_BUDGET,
    resolve_cap,
)


def _sizes(spark, counts):
    return spark.createDataFrame(
        [(i, int(n)) for i, n in enumerate(counts)], "k long, n long"
    )


def test_resolve_cap_passthrough(spark):
    df = _sizes(spark, [1, 2, 3])
    assert resolve_cap(None, df, "n", 8, name="t") is None
    assert resolve_cap(17, df, "n", 8, name="t") == 17


def test_resolve_cap_healthy_corpus_stays_off(spark):
    # 100 keys of depth 2: fan-out 100 pairs over 200 rows — ratio 0.5
    df = _sizes(spark, [2] * 100)
    assert resolve_cap("auto", df, "n", 8, name="t") is None


def test_resolve_cap_engages_on_quadratic_fanout(spark):
    # one key of depth 200: 19900 pairs over 200 rows — ratio 99.5 > 64
    df = _sizes(spark, [200])
    assert resolve_cap("auto", df, "n", 8, name="t") == 8


def test_resolve_cap_boundary_is_budget_times_rows(spark):
    # depth d has ratio (d-1)/2; budget 64 ⟹ engage strictly above d=129
    at = _sizes(spark, [129])   # pairs = 8256 = 64*129 → NOT engaged (<=)
    over = _sizes(spark, [130])  # pairs = 8385 > 64*130=8320 → engaged
    assert resolve_cap("auto", at, "n", 8, name="t") is None
    assert resolve_cap("auto", over, "n", 8, name="t") == 8
    assert SKEW_COST_BUDGET == 64  # docstring table is stated against 64


def test_resolve_cap_empty_sizes(spark):
    df = _sizes(spark, []).filter(F.col("n") > 0)
    assert resolve_cap("auto", df, "n", 8, name="t") is None


def test_resolve_cap_memoizes_by_cache_key(spark):
    """With a cache_key the probe job runs once per key per session: the
    second resolution returns the memoized decision without touching the
    (deliberately poisoned) sizes frame."""
    from url_counter_mapreduce_spark.operators import skew_guard

    skew_guard.clear_decision_cache(spark)
    key = ("test-app", "memo-probe")
    df = _sizes(spark, [200])  # pathological → engages
    assert resolve_cap("auto", df, "n", 8, name="t", cache_key=key) == 8
    # poisoned frame: resolving it fresh would raise at probe time
    poisoned = df.selectExpr("k", "CAST(NULL AS LONG) AS wrong_col")
    assert resolve_cap("auto", poisoned, "n", 8, name="t", cache_key=key) == 8
    # a DIFFERENT key probes fresh (healthy frame → off)
    healthy = _sizes(spark, [2] * 100)
    assert (
        resolve_cap("auto", healthy, "n", 8, name="t", cache_key=("test-app", "k2"))
        is None
    )
    skew_guard.clear_decision_cache(spark)


def test_resolve_cap_cache_hit_still_records_decision(spark):
    """A memoized hit must still append to the decision log (ADVICE r11
    medium): two queries sharing a cache_key each need their own
    engagement entry, or the gate harness misattributes a cap-induced
    oracle diff on the second query as a plain MISMATCH."""
    from url_counter_mapreduce_spark.operators import skew_guard

    skew_guard.clear_decision_cache(spark)
    key = ("test-app", "hit-logs")
    df = _sizes(spark, [200])  # pathological → engages
    assert resolve_cap("auto", df, "n", 8, name="t", cache_key=key) == 8
    first = skew_guard.pop_decisions()
    assert len(first) == 1 and "cached" not in first[0]
    # second resolution: memoized, no probe job — but a log entry lands
    assert resolve_cap("auto", df, "n", 8, name="t", cache_key=key) == 8
    second = skew_guard.pop_decisions()
    assert len(second) == 1
    assert second[0]["cached"] is True
    assert second[0]["engaged"] and second[0]["cap"] == 8
    # the cached entry carries the original measured numbers
    assert second[0]["pairs"] == 200 * 199 // 2 and second[0]["rows"] == 200
    skew_guard.clear_decision_cache(spark)


def test_resolve_cap_records_decisions_with_policy(spark):
    """Every "auto" resolution lands in the drainable decision record with
    the measured numbers and the call site's cap policy — the gate hook
    that makes an engaged-cap oracle diff attributable (ADVICE r10)."""
    from url_counter_mapreduce_spark.operators import skew_guard

    skew_guard.clear_decision_cache(spark)
    resolve_cap("auto", _sizes(spark, [200]), "n", 8, name="hot", policy="drop-bucket")
    resolve_cap("auto", _sizes(spark, [2] * 10), "n", 8, name="cold")
    got = skew_guard.pop_decisions()
    assert [d["name"] for d in got] == ["hot", "cold"]
    assert got[0]["engaged"] and got[0]["cap"] == 8
    assert got[0]["policy"] == "drop-bucket"
    assert got[0]["pairs"] == 200 * 199 // 2 and got[0]["rows"] == 200
    assert not got[1]["engaged"] and got[1]["cap"] is None
    assert got[1]["policy"] == "keep-lowest"
    assert skew_guard.pop_decisions() == []  # drained


def test_chunk_reuse_auto_engages_on_clone_corpus(spark):
    """150 byte-identical clones: every shared chunk's posting is 150 deep
    (ratio (150−1)/2 ≈ 74.5 > 64), so posting_cap="auto" must engage and
    produce EXACTLY the hand-set AUTO_POSTING_CAP result — while a healthy
    4-doc corpus under "auto" must equal the uncapped result."""
    from url_counter_mapreduce_spark.operators.dedup import dedup_chunk_reuse

    rng = random.Random(7)
    base = " ".join(f"c{rng.randrange(400)}" for _ in range(80))
    n_clones = 150
    rows = [(i, base, "en", f"s{i % 3}", len(base)) for i in range(n_clones)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = os.path.join(tempfile.gettempdir(), "skew_guard_clones")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    auto = {
        (r.doc_src, r.doc_dst): r.shared_bytes
        for r in dedup_chunk_reuse(spark, d, confirm=False).collect()
    }
    hand = {
        (r.doc_src, r.doc_dst): r.shared_bytes
        for r in dedup_chunk_reuse(
            spark, d, posting_cap=AUTO_POSTING_CAP, confirm=False
        ).collect()
    }
    assert auto == hand
    # the cap really bit: only the AUTO_POSTING_CAP lowest doc_ids survive
    # the posting, so every emitted endpoint is < AUTO_POSTING_CAP, and
    # pair volume is cap·(cap−1), not 150·149
    assert 0 < len(auto) == AUTO_POSTING_CAP * (AUTO_POSTING_CAP - 1)
    assert all(a < AUTO_POSTING_CAP and b < AUTO_POSTING_CAP for a, b in auto)

    uncapped = {
        (r.doc_src, r.doc_dst): r.shared_bytes
        for r in dedup_chunk_reuse(spark, d, posting_cap=None, confirm=False).collect()
    }
    assert len(uncapped) == n_clones * (n_clones - 1)
    assert set(hand) < set(uncapped)


def test_minhash_auto_equals_uncapped_on_healthy_corpus(spark, sf_dir):
    """On the fixture corpus the LSH band fan-out sits far under the
    budget (0.05–0.08× measured), so the "auto" default must return the
    byte-identical pair set as bucket_cap=None — the property that keeps
    every registered-query oracle exact."""
    from url_counter_mapreduce_spark.operators.dedup import dedup_minhash_pairs

    auto = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_minhash_pairs(spark, sf_dir).collect()
    }
    off = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_minhash_pairs(spark, sf_dir, bucket_cap=None).collect()
    }
    assert auto == off


def test_er_default_is_uncapped_recall_one():
    """ER blocking is recall-1 BY DEFINITION (the match rule requires
    name-key equality and the oracle brute-forces all pairs), so the
    DEFAULT must be uncapped — the round-10 ci sf0.1 parity leg caught a
    default-"auto" attempt silently capping the uniformly dense part
    catalog (fan-out ratio 156×, 19,990 vs 8,372 golden records). The
    cost trigger stays available as an explicit opt-in for catalogs
    where only a FEW blocks are pathological (SCALE.md §11.9/§11.10)."""
    from url_counter_mapreduce_spark.operators.entity import ER_BLOCK_CAP

    assert ER_BLOCK_CAP is None


def test_er_auto_engages_on_hotspot_catalog(spark):
    """The §11.9 domain condition where ER's "auto" opt-in IS right: a
    catalog of singleton name blocks plus ONE boilerplate placeholder key
    350 records deep (pairs 61,075 > 64 × 750 rows → the cost trigger
    engages). "auto" must equal the hand-set AUTO_BLOCK_CAP result
    exactly: the placeholder block keeps only its AUTO_BLOCK_CAP lowest
    partkeys (cap·(cap−1)/2 edges), every singleton block is untouched,
    and the uncapped run is the cap-free superset — the complementary
    regime to test_er_default_is_uncapped_recall_one, mirroring the
    engage/stay-off pair the dedup guard pins."""
    import os
    import tempfile

    from url_counter_mapreduce_spark.operators.entity import er_match_edges
    from url_counter_mapreduce_spark.operators.skew_guard import AUTO_BLOCK_CAP
    from url_counter_mapreduce_spark.operators import skew_guard

    n_hot, n_uniq = 350, 400
    rows = [
        (i, "unknown placeholder record", "Brand#00", "PLACEHOLDER TYPE", 1, 1.0)
        for i in range(n_hot)
    ] + [
        (1000 + i, f"real part uq{i}", f"Brand#{i % 5}", f"TYPE {i % 7}", i % 50, 9.99)
        for i in range(n_uniq)
    ]
    d = os.path.join(tempfile.gettempdir(), "skew_guard_er_hotspot")
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(os.path.join(d, "part.parquet"))

    skew_guard.clear_decision_cache(spark)
    auto = {(r.doc_a, r.doc_b) for r in er_match_edges(spark, d, block_cap="auto").collect()}
    decisions = skew_guard.pop_decisions()
    assert [x["engaged"] for x in decisions] == [True]
    assert decisions[0]["cap"] == AUTO_BLOCK_CAP
    assert decisions[0]["pairs"] == n_hot * (n_hot - 1) // 2
    assert decisions[0]["rows"] == n_hot + n_uniq

    hand = {
        (r.doc_a, r.doc_b)
        for r in er_match_edges(spark, d, block_cap=AUTO_BLOCK_CAP).collect()
    }
    assert auto == hand
    # the cap really bit: cap·(cap−1)/2 placeholder edges, lowest ids only
    assert len(auto) == AUTO_BLOCK_CAP * (AUTO_BLOCK_CAP - 1) // 2
    assert all(a < AUTO_BLOCK_CAP and b < AUTO_BLOCK_CAP for a, b in auto)
    # uncapped is the superset, all extra edges inside the placeholder key
    off = {(r.doc_a, r.doc_b) for r in er_match_edges(spark, d, block_cap=None).collect()}
    assert auto < off and len(off) == n_hot * (n_hot - 1) // 2
    assert all(a < n_hot and b < n_hot for a, b in off)
    skew_guard.clear_decision_cache(spark)


def test_er_auto_optin_equals_uncapped_on_small_fixture(spark, sf_dir):
    """With the explicit "auto" opt-in on the SMALL fixture (blocks 1–2
    deep, fan-out far under budget) the trigger stays off and the edge
    set is identical to uncapped — the opt-in is safe where the §11.9
    domain condition holds."""
    from url_counter_mapreduce_spark.operators.entity import er_match_edges

    auto = {
        (r.doc_a, r.doc_b)
        for r in er_match_edges(spark, sf_dir, block_cap="auto").collect()
    }
    off = {
        (r.doc_a, r.doc_b)
        for r in er_match_edges(spark, sf_dir, block_cap=None).collect()
    }
    assert auto == off
