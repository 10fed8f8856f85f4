"""Round-6 optimization harness — per-operator decomposition (NOT the
driver bench; bench.py is frozen for measurement).

Runs every pipeline sub-operator in isolation with noop sinks (guide §1.4),
labeled jobs (§1.5) and per-phase shuffle/IO byte deltas from the app status
store, so the `pairs` stage wall (~50% of the pipeline) is attributable
to its sub-kernels: LSH banding/stats, the SimHash UDF, SimHash banding +
expansion, span anchors UDF, span candidate join, exact tier, pair union,
verify, span LCS verify, connected components, keep policy.

Each phase is checkpointed before the next starts, so phase walls measure one
operator each (sum of phases > pipeline wall — attribution, not a headline).

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py
Optional: BENCH_EXTRA_EXPLAIN=plans/r06 dumps .explain("formatted") per phase.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
EXPLAIN_DIR = os.environ.get("BENCH_EXTRA_EXPLAIN")


def main() -> None:
    from pyspark.sql import functions as F

    from bench import sf_of, spin_calibration, synth_corpus_path
    from dedup.config import DedupConfig
    from dedup.session import get_spark
    from dedup.util import free_all_scratch, shuffle_delta, shuffle_totals

    sf = sf_of(SF_DIR)
    spark = get_spark(
        app_name=f"dedup-bench-extra-{CPUS}",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS) if str(CPUS).isdigit() else None,
    )
    sc = spark.sparkContext
    corpus_path = synth_corpus_path(sf, spark)
    turns = spark.read.parquet(corpus_path)
    cfg = DedupConfig()

    phases: dict[str, dict] = {}
    _snap = {"v": shuffle_totals(spark)}

    def phase(name: str, fn):
        """Time fn() with shuffle deltas from the app status store."""
        sc.setJobDescription(f"bench_extra: {name}")
        t0 = time.monotonic()
        out = fn()
        wall = time.monotonic() - t0
        sc.setJobDescription(None)
        snap = shuffle_totals(spark)
        rec = {"sec": round(wall, 3)}
        if snap and _snap["v"]:
            rec["shuffle"] = shuffle_delta(_snap["v"], snap)
        _snap["v"] = snap
        phases[name] = rec
        print(f"  {name}: {wall:.2f}s", file=sys.stderr)
        return out

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def dump_explain(name, df):
        if EXPLAIN_DIR:
            os.makedirs(EXPLAIN_DIR, exist_ok=True)
            with open(os.path.join(EXPLAIN_DIR, f"{name}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                ))

    # warmup: identical to bench.py's corpus-shaped warmup
    from dedup.assemble import assemble_conversations
    from dedup.minhash import with_minhash
    from dedup.pipeline import DedupPipeline

    warm = assemble_conversations(turns).sample(0.1, seed=1)
    noop(with_minhash(warm).select("minhash"))
    wslice = turns.join(
        turns.select("conv_id").distinct().sample(0.02, seed=1).localCheckpoint(),
        "conv_id",
        "left_semi",
    )
    noop(DedupPipeline(spark, cfg, tier_metrics=False).run(wslice).clusters)
    free_all_scratch(spark)
    spin0 = spin_calibration(int(CPUS))

    # ---- phase decomposition -------------------------------------------
    from dedup.exact import exact_pairs
    from dedup.lsh import bucketed_pairs, candidate_pairs
    from dedup.simhash import simhash_conv_pairs, with_turn_simhash
    from dedup.suffix import doc_anchors, verify_span_pairs
    from dedup.verify import verify_pairs

    conv = phase(
        "assemble", lambda: assemble_conversations(turns, cfg).localCheckpoint()
    )
    sigs = phase(
        "minhash_udf",
        lambda: with_minhash(conv, cfg, input_materialized=True)
        .select("conv_id", "minhash")
        .localCheckpoint(),
    )

    lsh_pairs_df, _ov = candidate_pairs(sigs, cfg, dedup=False)
    dump_explain("lsh_pairs", lsh_pairs_df)
    lsh_pairs_df = phase("lsh_pairs", lambda: lsh_pairs_df.localCheckpoint())

    sh = phase(
        "simhash_udf",
        lambda: with_turn_simhash(
            turns.join(conv.select("conv_id"), "conv_id", "left_semi"), cfg
        )
        .select("conv_id", "turn_idx", "simhash")
        .localCheckpoint(),
    )
    sim_pairs_df, _ovs = simhash_conv_pairs(sh, cfg, return_overflow=True)
    dump_explain("simhash_pairs", sim_pairs_df)
    sim_pairs_df = phase("simhash_pairs", lambda: sim_pairs_df.localCheckpoint())

    anchors = phase(
        "span_anchors",
        lambda: doc_anchors(conv, cfg, input_materialized=True).localCheckpoint(),
    )
    raw, _ova = bucketed_pairs(
        anchors, ["anchor_hash"], ["conv_id"], cfg.band_bucket_cap
    )
    min_shared = max(2, cfg.min_span_len // (4 * cfg.span_anchor_mod))
    span_cand_df = (
        raw.select(F.col("a.conv_id").alias("conv_a"), F.col("b.conv_id").alias("conv_b"))
        .groupBy("conv_a", "conv_b")
        .agg(F.count(F.lit(1)).alias("shared_anchors"))
        .where(F.col("shared_anchors") >= F.lit(min_shared))
        .select("conv_a", "conv_b", F.lit("span").alias("source"))
    )
    dump_explain("span_cand", span_cand_df)
    span_cand_df = phase("span_cand", lambda: span_cand_df.localCheckpoint())

    ex_pairs = phase("exact_pairs", lambda: exact_pairs(conv, cfg).localCheckpoint())

    union_df = DedupPipeline(spark, cfg)._dedup_pair_union(
        [ex_pairs, lsh_pairs_df, sim_pairs_df]
    )
    dump_explain("pair_union", union_df)
    pairs = phase("pair_union", lambda: union_df.localCheckpoint())

    cheap_edges_df = verify_pairs(pairs, sigs, cfg, conversations=conv)
    dump_explain("verify", cheap_edges_df)
    cheap_edges = phase("verify", lambda: cheap_edges_df.localCheckpoint())

    new_cand = span_cand_df.join(
        cheap_edges.select("conv_a", "conv_b"), ["conv_a", "conv_b"], "left_anti"
    )
    span_edges_df = (
        verify_span_pairs(new_cand, conv, cfg)
        .drop("span_len")
        .withColumn("similarity", F.lit(None).cast("double"))
        .select("conv_a", "conv_b", "source", "similarity")
    )
    span_edges = phase("span_verify", lambda: span_edges_df.localCheckpoint())

    edges = phase(
        "edges_union",
        lambda: cheap_edges.unionByName(span_edges).localCheckpoint(),
    )
    n_edges = edges.count()

    from dedup.cc import connected_components
    from dedup.keep import select_representatives

    cc_metrics: dict = {}
    cc = phase(
        "cc",
        lambda: connected_components(
            edges.select("conv_a", "conv_b"),
            cfg.cc_max_iters,
            n_edges=n_edges,
            input_deduped=True,
            metrics_out=cc_metrics,
        ),
    )
    keep_df = select_representatives(cc, conv, "oldest")
    dump_explain("keep", keep_df)
    phase("keep", lambda: noop(keep_df))

    spin1 = spin_calibration(int(CPUS))
    free_all_scratch(spark)
    print(
        json.dumps(
            {
                "metric": "bench_extra_decomposition",
                "sf": sf,
                "cpus": CPUS,
                "phases": phases,
                "n_edges": n_edges,
                "cc": cc_metrics,
                "spin_np_before": spin0,
                "spin_np_after": spin1,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
