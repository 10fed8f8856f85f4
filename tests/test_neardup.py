"""Near-dup tier: MinHash/LSH/verify/CC — includes the dup-pair recall gate
(BASELINE.json: recall ≥ 0.99 vs the reference's duplicate groupings at the
same signature config)."""

from __future__ import annotations

from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import dedup.cc
from dedup.assemble import assemble_conversations
from dedup.cc import connected_components
from dedup.config import DedupConfig
from dedup.exact import exact_pairs
from dedup.lsh import candidate_pairs
from dedup.minhash import py_jaccard, py_minhash, with_minhash
from dedup.verify import verify_pairs

CFG = DedupConfig()


def test_py_minhash_estimates_jaccard():
    a = "the quick brown fox jumps over the lazy dog " * 30
    b = a.replace("quick", "swift").replace("lazy", "idle")
    true_j = py_jaccard(a, b, CFG)
    sig_a, sig_b = py_minhash(a, CFG), py_minhash(b, CFG)
    est = float((sig_a == sig_b).mean())
    assert abs(est - true_j) < 0.15
    assert np.array_equal(py_minhash(a, CFG), py_minhash(a, CFG))  # deterministic


def test_spark_minhash_matches_python_oracle(spark, turns_df):
    conv = assemble_conversations(turns_df).limit(20)
    rows = with_minhash(conv, CFG).select("conv_id", "doc", "minhash").collect()
    for r in rows:
        expected = py_minhash(r.doc, CFG)
        assert np.array_equal(np.array(r.minhash, dtype=np.int32), expected), r.conv_id


def _pipeline_clusters(spark, turns_df, cfg):
    conv = assemble_conversations(turns_df, cfg)
    sigs = with_minhash(conv, cfg).select("conv_id", "minhash")
    lsh_pairs, _overflow = candidate_pairs(sigs, cfg)
    ex_pairs = exact_pairs(conv, cfg)
    pairs = lsh_pairs.unionByName(ex_pairs).dropDuplicates(["conv_a", "conv_b"])
    edges = verify_pairs(pairs, sigs, cfg, conversations=conv)
    return connected_components(edges.select("conv_a", "conv_b"), cfg.cc_max_iters)


def test_recall_gate_vs_reference_semantics(spark, turns_df, corpus):
    """Recall ≥ 0.99 on pairs the REFERENCE would group (exact duplicates —
    its strict mode groups byte-identical content only) AND on the planted
    near-dup pairs the north rule adds. Also: no cross-kind false merges of
    planted same-size/different-content pairs."""
    labels = _pipeline_clusters(spark, turns_df, CFG)
    lab = {r.conv_id: r.cluster_id for r in labels.collect()}

    tp = corpus.truth_pairs
    exact_near = tp[tp.kind.isin(["exact", "near"])]
    hit = sum(
        1
        for a, b, _ in exact_near.itertuples(index=False)
        if lab.get(a) is not None and lab.get(a) == lab.get(b)
    )
    recall = hit / len(exact_near)
    assert recall >= 0.99, f"recall {recall} ({hit}/{len(exact_near)})"

    # same-size different-content must NOT merge
    ss = tp[tp.kind == "same_size"]
    for a, b, _ in ss.itertuples(index=False):
        assert not (lab.get(a) is not None and lab.get(a) == lab.get(b)), (a, b)


def test_exact_verify_mode(spark, turns_df, corpus):
    cfg = DedupConfig(exact_verify=True)
    labels = _pipeline_clusters(spark, turns_df, cfg)
    lab = {r.conv_id: r.cluster_id for r in labels.collect()}
    tp = corpus.truth_pairs
    exact = tp[tp.kind == "exact"]
    for a, b, _ in exact.itertuples(index=False):
        assert lab.get(a) == lab.get(b) and lab.get(a) is not None


def test_cc_chains_and_determinism(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "s")],
        ["conv_a", "conv_b"],
    )
    labels = {r.conv_id: r.cluster_id for r in connected_components(edges).collect()}
    assert labels == {
        "a": "a", "b": "a", "c": "a",
        "x": "x", "y": "x",
        "p": "p", "q": "p", "r": "p", "s": "p",
    }


def _uf_oracle(pairs):
    """Pure-Python union-find: node -> min node of its component (Python
    str order = code point order = Spark's binary UTF-8 order)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc_both_exits(spark, pairs, **kw):
    """Labels and metrics from the driver exit, then from the Spark rounds
    (bound 0 forces contraction until the components are stars)."""
    edges = spark.createDataFrame(pairs, "conv_a string, conv_b string")
    out = []
    for bound in (dedup.cc._LOCAL_EDGES, 0):
        m: dict = {}
        with mock.patch.object(dedup.cc, "_LOCAL_EDGES", bound):
            rows = connected_components(edges, metrics_out=m, **kw).collect()
        out.append(({r.conv_id: r.cluster_id for r in rows}, m))
    return out


@pytest.mark.parametrize("n", [200, 10_000])
def test_cc_long_chains_converge_on_both_exits(spark, n):
    """A path graph is the deepest component per edge; min-label propagation
    needed one hop per link and raised on a 200-link chain."""
    chain = [(f"n{i:05d}", f"n{i + 1:05d}") for i in range(n - 1)]
    (local, m_local), (stars, m_stars) = _cc_both_exits(spark, chain)
    assert local == stars == {f"n{i:05d}": "n00000" for i in range(n)}
    assert m_local["cc_rounds"] == 1 and m_local["cc_local_edges"] == n - 1
    assert m_stars["cc_local_edges"] == 0
    assert 1 < m_stars["cc_rounds"] <= 25  # O(log n) contraction rounds


def test_cc_min_label_is_code_point_order(spark):
    """U+FFFD < U+1F600 by code point (Spark, Python, UTF-8 bytes); Java
    String order (UTF-16 units) says the opposite — the label must not."""
    pairs = [("\U0001f600", "\ufffd"), ("\U0001f600", "\U0001f601"), ("é", "z")]
    for labels, _ in _cc_both_exits(spark, pairs):
        assert labels == {
            "\ufffd": "\ufffd", "\U0001f600": "\ufffd", "\U0001f601": "\ufffd",
            "é": "z", "z": "z",
        }


def test_cc_nonconvergence_raises(spark):
    """Out of Spark rounds is an error, never a truncated labeling."""
    chain = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(999)], "conv_a string, conv_b string"
    )
    with mock.patch.object(dedup.cc, "_LOCAL_EDGES", 0), pytest.raises(RuntimeError):
        connected_components(chain, max_iters=1)


_node = st.text(alphabet=["a", "b", "z", "é", "\ufffd", "\U0001f600"], min_size=1, max_size=2)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(_node, _node).filter(lambda e: e[0] != e[1]), max_size=20))
def test_cc_random_graphs_match_union_find(spark, pairs):
    want = _uf_oracle(pairs)
    for labels, _ in _cc_both_exits(spark, pairs):
        assert labels == want


def test_band_bucket_cap_star_fallback(spark):
    """A mega-bucket (identical signatures) beyond the cap emits star pairs
    and is reported in the overflow metric — never silently dropped."""
    cfg = DedupConfig(band_bucket_cap=5)
    sig = list(range(cfg.num_perm))
    rows = [(f"m{i:03d}", sig) for i in range(20)]
    sigs = spark.createDataFrame(rows, "conv_id string, minhash array<int>")
    pairs, overflow = candidate_pairs(sigs, cfg)
    got = {(r.conv_a, r.conv_b) for r in pairs.collect()}
    assert got == {("m000", f"m{i:03d}") for i in range(1, 20)}
    ov = overflow.collect()
    assert len(ov) == cfg.lsh_bands and all(r.bucket_n == 20 for r in ov)
    # connectivity preserved: CC still yields one cluster
    labels = connected_components(pairs.select("conv_a", "conv_b")).collect()
    assert {r.cluster_id for r in labels} == {"m000"}


def test_bucketed_pairs_array_agg_is_cap_bounded(spark):
    """The mega-bucket memory bound must be visible in the PLAN, not just
    asserted: the only aggregate that materializes a member ARRAY
    (collect_list) must sit above the s <= cap filter, so no bucket larger
    than the cap ever reaches an array-building aggregation row. Over-cap
    buckets flow through the join-based star-edge path (no arrays)."""
    import re

    from dedup.lsh import bucketed_pairs

    rows = spark.createDataFrame(
        [(1, f"m{i}") for i in range(20)] + [(2, "x"), (2, "y"), (2, "z")],
        "bucket int, member string",
    )
    pairs, _ = bucketed_pairs(rows, ["bucket"], ["member"], cap=5)
    plan = pairs._jdf.queryExecution().optimizedPlan().treeString()
    lines = plan.splitlines()
    agg_idx = [i for i, l in enumerate(lines) if "collect_list" in l]
    assert agg_idx, plan  # the small-bucket path still builds arrays
    for i in agg_idx:
        indent = len(lines[i]) - len(lines[i].lstrip(" :+-"))
        subtree = []
        for l in lines[i + 1 :]:
            if (len(l) - len(l.lstrip(" :+-"))) <= indent:
                break
            subtree.append(l)
        assert any(
            re.search(r"<= 5\)?", l) for l in subtree
        ), "collect_list aggregate not gated by the cap filter:\n" + plan


def test_pow_series_cache_is_bounded():
    """Power series longer than the cache bound are computed uncached, and
    stay exact: B^i mod 2^64 at sampled indices, with no cached array
    larger than the bound."""
    import dedup.minhash as mh

    n = mh._POW_CACHE_MAX + 12345
    for base in (mh._ROLL_BASE, mh._ROLL_BASE_INV):
        p = mh._pow_series(base, n)
        assert p.size == n
        for i in (0, 1, 2, 1000, mh._POW_CACHE_MAX - 1, mh._POW_CACHE_MAX, n - 1):
            assert int(p[i]) == pow(int(base), i, 1 << 64), i
        assert mh._pow_series(base, 5).tolist() == [
            pow(int(base), i, 1 << 64) for i in range(5)
        ]
    assert all(a.size <= mh._POW_CACHE_MAX for a in mh._POW_CACHE.values())
