"""Benchmark harness — one JSON line to stdout.

Runs the headline dedup queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

- ``pipeline_synth``: the full near-dup pipeline (exact + MinHash/LSH +
  SimHash + span → verify → CC → keep) over a deterministic synthetic
  transcript corpus scaled to the SF — the throughput (turns/sec) headline;
- ``pipeline_testdata``: same pipeline over transcripts derived from the
  driver's documents table;
- component micro-benches: signatures, LSH pairs, exact tier, ANN top-k.

The synthetic corpus parquet is cached under /tmp keyed by (sf, seed) so
repeated runs — and the local[8]-vs-local[32] scaling experiment
(tools/scaling_bench.py) — share byte-identical input.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SEED = 42


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def synth_corpus_path(sf: float, spark) -> str:
    """Generate (once) and cache the synthetic transcript corpus for this SF.

    Distributed Spark generation (dedup/synth_spark.py): sized so the
    pipeline is compute-dominated rather than driver/job-latency dominated —
    required for honest two-parallelism scaling numbers — and generated at
    cluster parallelism so corpus creation itself stays O(seconds)."""
    n_convs = int(
        os.environ.get("SPARK_GRAFT_SYNTH_CONVS", max(200, int(1_000_000 * sf)))
    )
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    path = f"{base}/dedup_bench_corpus_sf{sf}_s{SEED}_n{n_convs}"
    marker = os.path.join(path, "transcripts", "_SUCCESS")
    if not os.path.exists(marker):
        from dedup.synth_spark import write_bench_corpus

        write_bench_corpus(spark, os.path.join(path, "transcripts"), n_convs, SEED)
    return os.path.join(path, "transcripts")


def _noop_write(df) -> int:
    """Materialize a DataFrame fully without sink overhead; returns rows."""
    df.write.format("noop").mode("overwrite").save()
    return -1


def spin_calibration(procs: int, dur: float = 2.0, mem: bool = False) -> int:
    """Aggregate iterations of a fixed numpy loop across ``procs`` processes
    — records what the HARDWARE gives N workers at this moment
    (shared-hypervisor host speed drifts >2x over tens of minutes, and
    all-core turbo < few-core turbo). ``mem=True`` runs the same arithmetic
    over a 64 MiB working set — the shared-memory-bus ceiling, the binding
    resource for the pipeline's DRAM-streaming phases. Both are stored in
    the bench JSON so every BENCH_r{N}.json is self-contained and
    throughput claims are normalizable after the fact."""
    import multiprocessing as mp
    import time as _time

    import numpy as np

    size = (1 << 23) if mem else (1 << 16)

    def worker(q, dur):
        a = np.full(size, 0x9E3779B97F4A7C15, dtype=np.uint64)
        b = np.empty_like(a)
        b[:] = a  # touch pages before timing
        t0 = _time.monotonic()
        n = 0
        while _time.monotonic() - t0 < dur:
            np.bitwise_xor(a, np.uint64(123456789), out=b)
            b ^= b >> np.uint64(30)
            b *= np.uint64(0xBF58476D1CE4E5B9)
            n += 1
        q.put(n)

    q = mp.Queue()
    ps = [mp.Process(target=worker, args=(q, dur)) for _ in range(procs)]
    [p.start() for p in ps]
    [p.join() for p in ps]
    return sum(q.get() for _ in ps)


#: host-qualification knobs (VERDICT r04 #1: the harness must refuse to
#: record walls on a starved host rather than record-and-explain). The
#: 1-proc 2 s spin floor default is 80% of the r03 measurement-days' median
#: (~15.6k iters — BENCH/BASELINE.md 1p-spin columns); the r04 collapse
#: that invalidated two runs measured 9.5-12k on the same code.
SPIN_1P_ABS_FLOOR = int(os.environ.get("SPARK_GRAFT_SPIN_ABS_FLOOR", "12500"))
SPIN_REL_FLOOR = float(os.environ.get("SPARK_GRAFT_SPIN_FLOOR_FRAC", "0.8"))
GATE_MAX_WAIT_SEC = float(os.environ.get("SPARK_GRAFT_GATE_MAX_WAIT", "900"))
GATE_RETRY_SLEEP_SEC = float(os.environ.get("SPARK_GRAFT_GATE_SLEEP", "20"))

#: session-best spins, shared by every gate call in this process
_gate_state: dict[str, int] = {}


def host_gate(n_procs: int, budget_sec: float | None = None) -> dict:
    """Block until the host qualifies (1-proc spin ≥ abs floor AND both the
    1-proc and n-proc spins ≥ SPIN_REL_FLOOR of this process's session
    best), or the wait budget runs out. Returns a self-describing record
    for the bench JSON: every attempt's spins, the wait, and whether the
    host QUALIFIED — a run that proceeds unqualified is stamped
    ``qualified: false`` so no starved wall can masquerade as a software
    number (VERDICT r04: two rounds of unadjudicable headlines)."""
    budget = GATE_MAX_WAIT_SEC if budget_sec is None else budget_sec
    t0 = time.monotonic()
    attempts = []
    while True:
        s1 = spin_calibration(1, dur=2.0)
        sn = spin_calibration(n_procs, dur=2.0)
        # 1-proc STREAMING spin: absolute bus availability context. Not a
        # floor (the gate's qualification stays cpu-steal-based), but
        # recorded per attempt because r05 measured whole sessions where
        # cpu spins were healthy while 4x workers got <1x aggregate
        # bandwidth — a wall taken then needs this number beside it.
        s1m = spin_calibration(1, dur=2.0, mem=True)
        _gate_state["best1"] = max(_gate_state.get("best1", 0), s1)
        _gate_state["bestN"] = max(_gate_state.get("bestN", 0), sn)
        ok = (
            s1 >= SPIN_1P_ABS_FLOOR
            and s1 >= SPIN_REL_FLOOR * _gate_state["best1"]
            and sn >= SPIN_REL_FLOOR * _gate_state["bestN"]
        )
        attempts.append({"spin_1p": s1, "spin_np": sn, "spin_mem_1p": s1m, "ok": ok})
        waited = time.monotonic() - t0
        if ok or waited >= budget:
            return {
                "qualified": ok,
                "attempts": attempts,
                "waited_sec": round(waited, 1),
                "floor_1p_abs": SPIN_1P_ABS_FLOOR,
                "floor_frac": SPIN_REL_FLOOR,
            }
        time.sleep(GATE_RETRY_SLEEP_SEC)


def main() -> None:
    from pyspark.sql import functions as F

    from dedup.config import DedupConfig
    from dedup.pipeline import DedupPipeline
    from dedup.session import get_spark

    sf = sf_of(SF_DIR)

    spark = get_spark(
        app_name=f"dedup-bench-{CPUS}",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS) if str(CPUS).isdigit() else None,
    )
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    corpus_path = synth_corpus_path(sf, spark)

    # prewarm JVM + Python UDF workers (excluded from timings, like the
    # reference's hyperfine --warmup runs: throughput, not cold-start, is
    # what the gates measure). The warmup must be CORPUS-SHAPED: the first
    # pass over the real document-length distribution pays a large one-time
    # cost per worker (allocator arena growth for the Zipf-tail large docs
    # + JIT) that a uniform synthetic batch does not trigger — measured
    # 98.9s first / 17.2s second execution at local[16] with the synthetic
    # warmup, vs 19.8s first after a 10%-sample warmup.
    from dedup.assemble import assemble_conversations as _ac
    from dedup.minhash import with_minhash as _wm

    warm = _ac(spark.read.parquet(corpus_path)).sample(0.1, seed=1)
    _wm(warm).select("minhash").write.format("noop").mode("overwrite").save()
    # ... and a FULL-pipeline pass over a small slice: the signature warmup
    # alone leaves the first timed rep JIT-dominated (measured r05 on a
    # qualifying host: reps 253.9/102.0/50.9 s — ~200 s of first-rep cost
    # that is compilation and worker spin-up for the tiers the minhash
    # warmup never touches: simhash UDF, band/bucket kernels, CC label
    # loop, keep policy). A 2%-of-corpus pipeline run compiles every
    # codegen path and warms every Python worker pool at ~seconds of cost.
    from dedup.util import free_all_scratch as _fas

    wturns = spark.read.parquet(corpus_path)
    wslice = wturns.join(
        wturns.select("conv_id").distinct().sample(0.02, seed=1).localCheckpoint(),
        "conv_id",
        "left_semi",
    )
    _noop_write(
        DedupPipeline(spark, DedupConfig(), tier_metrics=False).run(wslice).clusters
    )
    _fas(spark)

    # --- headline: full pipeline on synthetic transcripts ---------------
    from dedup.util import free_all_scratch

    turns = spark.read.parquet(corpus_path)
    n_turns = turns.count()
    # >= 2 reps by default (VERDICT r03 #3): a single rep taken while the
    # shared-hypervisor host drifts 2x cannot be adjudicated after the
    # fact; each rep carries a SAME-MOMENT spin sample so the reported
    # best-rep wall has its own host-speed context in the JSON.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # no tier-metric job: the benchmark measures the dedup dataflow, not
    # optional accounting; equal clusters are pinned by
    # tests/test_pipeline.py::test_tier_metrics_off_identical_clusters
    n_procs = int(CPUS) if str(CPUS).isdigit() else (os.cpu_count() or 8)
    # refuse-starved-hosts gate (VERDICT r04 #1): wait for a qualifying
    # window before the first rep; re-check (short budget) before later reps
    gates = [host_gate(n_procs)]
    extras["spin_iters_before"] = gates[0]["attempts"][-1]["spin_np"]
    extras["spin_mem_iters_before"] = spin_calibration(n_procs, mem=True)
    walls, stage_walls, stage_shuffle, rep_spins = [], [], [], []
    for rep in range(reps):
        if rep:
            gates.append(host_gate(n_procs, budget_sec=GATE_MAX_WAIT_SEC / 3))
        t0 = time.monotonic()
        result = DedupPipeline(spark, DedupConfig(), tier_metrics=False).run(turns)
        _noop_write(result.clusters)
        walls.append(time.monotonic() - t0)
        stage_walls.append(
            {s["stage"]: s["seconds"] for s in result.metrics["stages"]}
        )
        # host-noise-immune per-stage shuffle/IO bytes (VERDICT r04 #2)
        stage_shuffle.append(
            {s["stage"]: s.get("shuffle") for s in result.metrics["stages"]}
        )
        free_all_scratch(spark)
        rep_spins.append(spin_calibration(n_procs))
    extras["spin_iters_after"] = rep_spins[-1]
    extras["spin_mem_iters_after"] = spin_calibration(n_procs, mem=True)
    best = walls.index(min(walls))
    timings["pipeline_synth"] = round(walls[best], 3)
    extras["synth_turns"] = n_turns
    extras["throughput_turns_per_sec"] = round(n_turns / timings["pipeline_synth"], 1)
    extras["pipeline_synth_runs"] = [round(w, 2) for w in walls]
    extras["pipeline_synth_rep_spins"] = rep_spins  # spin right after rep i
    extras["pipeline_stage_walls"] = stage_walls[best]
    extras["pipeline_stage_shuffle_bytes"] = stage_shuffle[best]
    shuf = [v for v in stage_shuffle[best].values() if v]
    extras["pipeline_shuffle_write_bytes"] = sum(
        v["shuffle_write_bytes"] for v in shuf
    )
    extras["pipeline_shuffle_read_bytes"] = sum(v["shuffle_read_bytes"] for v in shuf)
    extras["host_gate"] = {
        "qualified": all(g["qualified"] for g in gates),
        "reps": gates,
    }

    if os.environ.get("SPARK_GRAFT_BENCH_ONLY") == "pipeline_synth":
        print(
            json.dumps(
                {
                    "metric": "dedup_pipeline_total",
                    "value": timings["pipeline_synth"],
                    "unit": "sec",
                    "queries": timings,
                    "sf": sf,
                    "cpus": CPUS,
                    **extras,
                }
            )
        )
        spark.stop()
        return

    # --- pipeline on driver-testdata-derived transcripts ----------------
    from dedup.driver_tables import derive_transcripts

    t0 = time.monotonic()
    dturns = derive_transcripts(spark, SF_DIR)
    dres = DedupPipeline(spark, DedupConfig(min_span_len=150)).run(dturns)
    _noop_write(dres.clusters)
    timings["pipeline_testdata"] = round(time.monotonic() - t0, 3)
    # attribution: this run has tier metrics on (the accounting job), unlike
    # pipeline_synth — record its stage walls so a regression is
    # decomposable from the JSON alone
    extras["pipeline_testdata_stage_walls"] = {
        s["stage"]: s["seconds"] for s in dres.metrics["stages"]
    }
    free_all_scratch(spark)

    # --- component benches ----------------------------------------------
    from dedup.assemble import assemble_conversations
    from dedup.exact import exact_clusters
    from dedup.lsh import candidate_pairs
    from dedup.minhash import with_minhash

    conv = assemble_conversations(turns).localCheckpoint()

    t0 = time.monotonic()
    sigs = (
        with_minhash(conv, input_materialized=True)
        .select("conv_id", "minhash")
        .localCheckpoint()
    )
    timings["minhash_signatures"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    pairs, _ = candidate_pairs(sigs)
    _noop_write(pairs)
    timings["lsh_pairs"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    _noop_write(exact_clusters(conv, DedupConfig(strict=True)))
    timings["exact_tier"] = round(time.monotonic() - t0, 3)

    import __spark_entry__ as entrymod

    t0 = time.monotonic()
    _noop_write(entrymod.q_ann_topk(spark, SF_DIR))
    timings["ann_topk"] = round(time.monotonic() - t0, 3)
    # same-moment calibration for the micro-benches (VERDICT r02 #8: one
    # clean rep with host-speed context, to separate drift from software)
    extras["spin_iters_end"] = spin_calibration(n_procs)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "dedup_pipeline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": CPUS,
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
