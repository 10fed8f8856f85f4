"""Full pipeline orchestration: all tiers together, keep policy, checkpoint
resume (FIXTURES.md ``keep_policy`` and ``resume``)."""

from __future__ import annotations

import datetime as dt
import shutil

import pytest

from dedup.config import DedupConfig
from dedup.keep import apply_delete_rewrite, duplicate_report, losers
from dedup.pipeline import DedupPipeline
from dedup.schema import TRANSCRIPTS_SCHEMA


def _cluster_map(result):
    return {
        r.conv_id: (r.cluster_id, r.is_representative)
        for r in result.clusters.collect()
    }


@pytest.fixture(scope="module")
def pipeline_run(spark, turns_df):
    pipe = DedupPipeline(spark, DedupConfig())
    return pipe.run(turns_df)


def test_pipeline_finds_all_planted_kinds(pipeline_run, corpus):
    lab = {k: v[0] for k, v in _cluster_map(pipeline_run).items()}
    tp = corpus.truth_pairs
    for kind in ("exact", "near", "span"):
        pairs = tp[tp.kind == kind]
        hit = sum(
            1
            for a, b, _ in pairs.itertuples(index=False)
            if lab.get(a) is not None and lab.get(a) == lab.get(b)
        )
        assert hit / len(pairs) >= 0.99, f"{kind}: {hit}/{len(pairs)}"
    # no false merges of same-size pairs
    for a, b, _ in tp[tp.kind == "same_size"].itertuples(index=False):
        assert lab.get(a) is None or lab.get(a) != lab.get(b)


def test_keep_policy_oldest(pipeline_run, corpus):
    """Representative = oldest first_ts (planted originals predate copies)."""
    m = _cluster_map(pipeline_run)
    tp = corpus.truth_pairs
    for a, b, kind in tp[tp.kind == "exact"].itertuples(index=False):
        orig, copy = (a, b) if not a.endswith("_xd") else (b, a)
        assert m[orig][1] is True, orig
        assert m[copy][1] is False, copy


def test_delete_rewrite(spark, turns_df, pipeline_run):
    """Anti-join rewrite drops exactly the losers' turns (S10)."""
    lose = losers(pipeline_run.clusters)
    n_losers = lose.count()
    assert n_losers > 0
    kept = apply_delete_rewrite(turns_df, lose)
    remaining_ids = {r.conv_id for r in kept.select("conv_id").distinct().collect()}
    loser_ids = {r.conv_id for r in lose.collect()}
    assert remaining_ids.isdisjoint(loser_ids)
    all_ids = {r.conv_id for r in turns_df.select("conv_id").distinct().collect()}
    assert remaining_ids == all_ids - loser_ids


def test_report_deterministic_order(pipeline_run):
    rep = duplicate_report(pipeline_run.clusters).collect()
    keys = [(r.cluster_id, r.conv_id) for r in rep]
    assert keys == sorted(keys)


def test_checkpoint_resume_byte_identical(spark, turns_df, tmp_path_factory):
    """Run with a run_dir, wipe the LAST stage only, re-run: early stages
    resume from checkpoint, final clusters identical (FIXTURES.md resume)."""
    run_dir = str(tmp_path_factory.mktemp("run"))
    cfg = DedupConfig()
    r1 = DedupPipeline(spark, cfg, run_dir=run_dir).run(turns_df)
    first = sorted(
        (r.conv_id, r.cluster_id, r.is_representative) for r in r1.clusters.collect()
    )
    assert not any(s.resumed for s in r1.stages)

    # simulate a crash after 'pairs': wipe edges+clusters, re-run
    shutil.rmtree(f"{run_dir}/edges")
    shutil.rmtree(f"{run_dir}/clusters")
    r2 = DedupPipeline(spark, cfg, run_dir=run_dir).run(turns_df)
    resumed = {s.name for s in r2.stages if s.resumed}
    assert {"conversations", "signatures", "pairs"} <= resumed
    second = sorted(
        (r.conv_id, r.cluster_id, r.is_representative) for r in r2.clusters.collect()
    )
    assert first == second


def test_tier_metrics_off_identical_clusters(spark, turns_df, pipeline_run):
    """tier_metrics=False (no overflow-count job, as the benchmark runs)
    must produce byte-identical cluster assignments."""
    quiet = DedupPipeline(spark, DedupConfig(), tier_metrics=False).run(turns_df)
    assert _cluster_map(quiet) == _cluster_map(pipeline_run)
    assert "tier_metrics_skipped" in quiet.metrics


def test_benchmark_api_still_resolves():
    """The benchmark under perfbench/ is frozen: it constructs DedupPipeline
    with these keywords and patches these (module, name) layer calls. A
    deletion that breaks either fails here, before the benchmark runs."""
    import importlib
    import inspect

    from perfbench.trace import LAYER_CALLS

    inspect.signature(DedupPipeline).bind(
        None, run_dir="run", fused=False, tier_metrics=True, concurrent=False
    )
    for calls in LAYER_CALLS.values():
        for module, name in calls:
            assert callable(getattr(importlib.import_module(module), name)), (
                module,
                name,
            )


def test_full_resume_runs_no_eager_tier_work(spark, turns_df, tmp_path):
    """Resuming a fully-materialized run must not construct the tier
    kernels: their eager localCheckpoints (bucket stats, simhash table,
    span anchors) would otherwise recompute tier work the parquet stages
    already hold. Detectable as zero new persistent RDDs across the
    resumed run."""
    from dedup.config import DedupConfig
    from dedup.pipeline import DedupPipeline
    from dedup.util import persistent_rdd_ids

    run_dir = str(tmp_path / "resume_run")
    DedupPipeline(spark, DedupConfig(), run_dir=run_dir).run(turns_df)
    pre = persistent_rdd_ids(spark)
    res2 = DedupPipeline(spark, DedupConfig(), run_dir=run_dir).run(turns_df)
    assert all(s.resumed for s in res2.stages), res2.stages
    assert persistent_rdd_ids(spark) == pre


def test_select_representatives_matches_window_ordering(spark):
    """The groupBy-min(key struct) formulation (r04 de-skew) must pick the
    SAME representative as the original row_number-over-window ordering for
    every policy — including null first_ts (NULLS LAST) and exact ties
    (conv_id tie-break)."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dedup.keep import select_representatives

    ts = lambda d: dt.datetime(2026, 1, d, tzinfo=dt.timezone.utc)
    conv = spark.createDataFrame(
        [
            ("a", ts(3), 100),
            ("b", ts(1), 300),
            ("c", ts(1), 300),   # tie with b on ts AND chars → conv_id breaks
            ("d", None, 50),     # null ts → never "oldest"/"newest" rep
            ("e", None, 500),
            ("f", ts(9), 500),
        ],
        "conv_id string, first_ts timestamp, total_chars long",
    )
    clusters = spark.createDataFrame(
        [("a", "k1"), ("b", "k1"), ("c", "k1"), ("d", "k1"), ("e", "k2"), ("f", "k2")],
        "conv_id string, cluster_id string",
    )
    window_order = {
        "oldest": [F.col("first_ts").asc_nulls_last(), F.col("conv_id").asc()],
        "newest": [F.col("first_ts").desc_nulls_last(), F.col("conv_id").asc()],
        "longest": [F.col("total_chars").desc(), F.col("conv_id").asc()],
        "first_id": [F.col("conv_id").asc()],
    }
    for policy, order in window_order.items():
        got = {
            r.conv_id: r.is_representative
            for r in select_representatives(clusters, conv, policy).collect()
        }
        w = Window.partitionBy("cluster_id").orderBy(*order)
        want = {
            r.conv_id: r.rn == 1
            for r in clusters.join(conv, "conv_id", "left")
            .withColumn("rn", F.row_number().over(w))
            .collect()
        }
        assert got == want, (policy, got, want)
        assert sum(got.values()) == 2, policy  # exactly one rep per cluster


def test_span_union_stable_when_lsh_rejects(spark):
    """VERDICT r04 #6: a pair that is an LSH CANDIDATE but fails Jaccard
    verification must still reach the final edge set when the span tier
    accepts it — the two-path flow (pair-priority union for exact/simhash/
    lsh, span edges anti-joined after verification) is union-stable
    regardless of which tier sees the pair first."""
    import numpy as np

    from dedup.lsh import candidate_pairs
    from dedup.minhash import with_minhash
    from dedup.verify import verify_pairs
    from dedup.assemble import assemble_conversations

    rng = np.random.default_rng(5)
    vocab = [f"w{i:03d}" for i in range(400)]
    shared = " ".join(rng.choice(vocab, 90))          # ~450-char shared span
    ua, ub = (" ".join(rng.choice(vocab, 30)) for _ in range(2))
    rows = [
        ("pa", 0, "user", shared, "", None), ("pa", 1, "assistant", ua, "", None),
        ("pb", 0, "user", shared, "", None), ("pb", 1, "assistant", ub, "", None),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    cfg = DedupConfig(min_span_len=200)
    conv = assemble_conversations(turns, cfg)
    sigs = with_minhash(conv, cfg).select("conv_id", "minhash")

    # premise 1: the pair IS an LSH candidate (some band collides at J≈0.6)
    pairs, _ = candidate_pairs(sigs, cfg)
    cand = {(r.conv_a, r.conv_b) for r in pairs.collect()}
    assert ("pa", "pb") in cand, cand

    # premise 2: Jaccard verification REJECTS it (J < 0.7)
    accepted = {
        (r.conv_a, r.conv_b)
        for r in verify_pairs(pairs, sigs, cfg, conversations=conv).collect()
    }
    assert ("pa", "pb") not in accepted, accepted

    # span tier accepts → same final cluster (simhash off: the identical
    # turn 0 would otherwise accept the pair before span ever runs)
    r_span = DedupPipeline(spark, cfg, enable_simhash=False).run(turns)
    m = {r.conv_id: r.cluster_id for r in r_span.clusters.collect()}
    assert m.get("pa") is not None and m.get("pa") == m.get("pb"), m

    # and WITHOUT the span tier the lsh rejection stands: no cluster
    r_nospan = DedupPipeline(
        spark, cfg, enable_simhash=False, enable_span=False
    ).run(turns)
    m2 = {r.conv_id: r.cluster_id for r in r_nospan.clusters.collect()}
    assert m2.get("pa") is None or m2.get("pa") != m2.get("pb"), m2


def test_caps_audit_in_metrics(spark, turns_df, tmp_path_factory):
    """VERDICT r04 #7 (caps audit): when caps bind, the run's metrics name
    every governing cap and the bound runtime widths — a capped run is
    auditable from its persisted metrics.json alone."""
    import json as _json
    import os as _os

    run_dir = str(tmp_path_factory.mktemp("caps_run"))
    cfg = DedupConfig(band_bucket_cap=2, span_doc_cap=400)  # force overflow
    res = DedupPipeline(spark, cfg, run_dir=run_dir).run(turns_df)
    m = res.metrics

    # every configured cap is named with its in-force value
    assert m["caps"] == {
        "band_bucket_cap": 2,
        "span_doc_cap": 400,
        "span_anchor_mod": cfg.span_anchor_mod,
        "min_span_len": cfg.min_span_len,
        "cc_max_iters": cfg.cc_max_iters,
        "cc_local_edges_cap": 1 << 20,
    }
    # the caps BOUND: overflow counters are present and non-zero for lsh
    # (exact-copy groups make >2-member band buckets by construction)
    assert m["lsh_overflow_buckets"] > 0
    for k in ("simhash_overflow_buckets", "span_overflow_anchors"):
        assert k in m and m[k] >= 0
    # CC reported the widths it actually ran with
    assert m["cc_loop_width"] >= 2 and m["cc_edges"] > 0 and m["cc_rounds"] >= 1

    # all of it persisted next to the lineage
    disk = _json.loads(open(_os.path.join(run_dir, "metrics.json")).read())
    for k in ("caps", "lsh_overflow_buckets", "cc_loop_width", "stages"):
        assert k in disk, k
