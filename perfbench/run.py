"""Benchmark of the transcript dedup pipeline (see perfbench/README.md).

Run from the repository root:

    python3 perfbench/run.py --workload full_run --seed 1 --seconds 30 --trace 0

One process, one SparkSession on local[<cores>]. Set-up starts the session,
writes the seeded input and warms the session (not the program). The
measurement is a closed loop, one pipeline run at a time, for ``--seconds``:
at least one run, and no run started that would not end inside the window.
The first run of a session is cold, as every ``tools/run_pipeline.py``
invocation is. Every run's written clusters are checked against the planted
truth and against the cluster fingerprint of the first run; that
fingerprint is also compared with the one an earlier process in the same
checkout recorded for the same workload, seed and code (a hash of the
``dedup/`` and ``perfbench/`` sources).

The last stdout line is the result, ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of an extra traced run with ``--trace 1``. The line before it holds
the settings, the host-speed probe and the per-run samples. Work files live
under ``.perfbench/`` in the checkout and are removed at exit; spans and
reports are kept in ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench", "out")

WORKLOADS = ("full_run", "edit_chains")
#: the five checkpoint stages of DedupPipeline, in order
STAGES = ("conversations", "signatures", "pairs", "edges", "clusters")
#: a run whose clusters recover fewer planted pairs than this has failed
RECALL_FLOOR = 0.99


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# module level, so pandas_udf can resolve the type hints from this module
def _identity(x: pd.Series) -> pd.Series:
    return x


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 20:
        return None
    return int(100 * (1 - 10 / n))


class Bench:
    def __init__(self, args, sizing: dict, work: str, memory):
        self.args = args
        self.sizing = sizing
        self.work = work
        self.memory = memory
        self.spark = None
        self.setup: dict[str, float] = {}
        self.runs: list[dict] = []  # the measured runs
        self.attempted = 0
        self.failed = 0
        self.ref_fp: str | None = None
        self.tracer = None
        self._n = 0

    # ---- session ----------------------------------------------------------

    def start(self) -> None:
        from dedup.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.sizing['cores']}]",
            shuffle_partitions=self.sizing["shuffle_partitions"],
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.setup["start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        """Stop the session and the JVM it launched; wait for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway  # noqa: SLF001
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a JVM that ignores TERM
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001

    def generate(self) -> None:
        from perfbench import workloads

        path = os.path.join(self.work, "input")
        t0 = time.perf_counter()
        if self.args.workload == "edit_chains":
            n, self.truth = workloads.write_edit_chains(path, self.args.seed, self.sizing["cores"])
        else:
            n, self.truth = workloads.write_full_run(
                self.spark, path, self.args.seed, self.sizing["cores"]
            )
        self.setup["generate_s"] = time.perf_counter() - t0
        self.turns = self.spark.read.parquet(path)
        self.n_turns = n

    def warm_up(self) -> None:
        """Warm the session, not the program: one small job that starts the
        Python daemon and a pandas-UDF worker on every core. The pipeline's
        own first-run cost (plan compilation, UDF set-up) stays in run_s,
        because tools/run_pipeline.py pays it on every invocation."""
        from pyspark.sql import functions as F

        ident = F.pandas_udf(_identity, "long")
        cores = self.sizing["cores"]
        t0 = time.perf_counter()
        self.spark.range(0, 64 * cores, numPartitions=cores).select(
            ident("id").alias("id")
        ).write.format("noop").mode("overwrite").save()
        self.setup["warmup_s"] = time.perf_counter() - t0

    # ---- pipeline runs ------------------------------------------------------

    def _fresh(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}{self._n}")

    def pipeline(self, **kw):
        from dedup.pipeline import DedupPipeline

        if self.args.workload == "edit_chains":
            return DedupPipeline(self.spark, **kw)  # in memory, library defaults
        # as tools/run_pipeline.py runs it: a run_dir, fused=False,
        # tier_metrics=True, parquet output
        return DedupPipeline(
            self.spark, run_dir=self._fresh("run"), fused=False, tier_metrics=True, **kw
        )

    def check(self, out: str) -> dict:
        """Score the clusters written to ``out``, then delete them."""
        from perfbench.check import fingerprint, read_clusters, score

        rows = read_clusters(out)
        rec = {"fingerprint": fingerprint(rows), **score(rows, self.truth)}
        if self.ref_fp is None:
            self.ref_fp = rec["fingerprint"]
        rec["ok"] = (
            rec["recall"] >= RECALL_FLOOR
            and rec["one_rep_per_cluster"]
            and rec["fingerprint"] == self.ref_fp
        )
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def run_once(self, pipe) -> dict:
        """Time run() + the clusters write; then check the written clusters."""
        from dedup.util import free_all_scratch, shuffle_totals

        out = self._fresh("out")
        before = shuffle_totals(self.spark)
        self.memory.take_peak()
        t0 = time.perf_counter()
        result = pipe.run(self.turns)
        result.clusters.write.mode("overwrite").parquet(out)
        run_s = time.perf_counter() - t0
        peak = self.memory.take_peak()
        after = shuffle_totals(self.spark)
        free_all_scratch(self.spark)
        if pipe.run_dir:
            shutil.rmtree(pipe.run_dir, ignore_errors=True)
        return {
            "run_s": run_s,
            "peak_rss_mb": peak / 2**20,
            "shuffle_write_bytes": after["shuffle_write_bytes"] - before["shuffle_write_bytes"],
            "stages": {
                e["stage"]: {
                    "wall_s": e["seconds"],
                    "shuffle_write_bytes": e.get("shuffle", {}).get("shuffle_write_bytes", 0),
                }
                for e in result.metrics.get("stages", [])
            },
            "metrics": {k: v for k, v in result.metrics.items() if isinstance(v, (int, float))},
            **self.check(out),
        }

    def attempt(self, pipe) -> dict:
        """One checked run; a run that raises or fails a check is failed."""
        self.attempted += 1
        try:
            rec = self.run_once(pipe)
        except Exception:  # noqa: BLE001 — a raising run is a failed run
            traceback.print_exc(file=sys.stderr)
            rec = {"ok": False, "raised": True, "run_s": 0.0}
        if not rec["ok"]:
            self.failed += 1
        return rec

    def measure(self) -> None:
        from perfbench.host import spin_probe

        t_end = time.perf_counter() + self.args.seconds
        while True:
            spin = spin_probe()
            rec = self.attempt(self.pipeline())
            rec["spin_iters"] = spin
            self.runs.append(rec)
            if time.perf_counter() + rec["run_s"] > t_end:
                break

    def traced(self) -> dict:
        """The --trace 1 runs, after the measured ones: the traced run, and
        for a run_dir workload a resume from the traced run's first three
        stages (the read path)."""
        from dedup.util import free_all_scratch, shuffle_totals
        from perfbench.trace import Tracer

        pipe = self.pipeline(concurrent=False)
        out = self._fresh("out")
        self.tracer = Tracer(self.spark, f"{self.args.workload}-s{self.args.seed}-{os.getpid()}")
        self.attempted += 1
        before = shuffle_totals(self.spark)
        self.tracer.install()
        try:
            with self.tracer.span("run", "pipeline"):
                result = pipe.run(self.turns)
                result.clusters.write.mode("overwrite").parquet(out)
        finally:
            self.tracer.uninstall()
        after = shuffle_totals(self.spark)
        free_all_scratch(self.spark)
        if not self.check(out)["ok"]:
            self.failed += 1
        sp = self.tracer.spans[0]
        lineage = {e["stage"]: e["rows"] for e in result.metrics.get("stages", [])}
        tr = {
            "wall_s": sp["end"] - sp["start"],
            "shuffle_write_bytes": after["shuffle_write_bytes"] - before["shuffle_write_bytes"],
            "pairs_rows": lineage.get("pairs", 0),
        }
        if pipe.run_dir:
            resume = self.pipeline()
            for st in STAGES[:3]:
                shutil.copytree(os.path.join(pipe.run_dir, st), os.path.join(resume.run_dir, st))
            shutil.rmtree(pipe.run_dir, ignore_errors=True)
            rec = self.attempt(resume)
            if rec["ok"]:
                tr["resume_s"] = rec["run_s"]
                tr["resume_read_s"] = sum(rec["stages"][st]["wall_s"] for st in STAGES[:3])
                tr["resume_shuffle_write_bytes"] = rec["shuffle_write_bytes"]
        return tr

    # ---- results ------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        ok = [r for r in self.runs if r["ok"]]
        run_s = _median([r["run_s"] for r in ok])
        return {
            "run_s": run_s,
            "turns_per_s": _ratio(self.n_turns, run_s),
            "setup_s": sum(self.setup.values()),
            "peak_rss_mb": _median([r["peak_rss_mb"] for r in ok]),
            "shuffle_write_bytes": _median([r["shuffle_write_bytes"] for r in ok]),
            "pair_recall": _median([r["recall"] for r in ok]),
            "pair_precision": _median([r["precision"] for r in ok]),
        }

    def per_layer(self, tr: dict) -> tuple[dict[str, float], bool]:
        """Per-layer metrics; the flag says the layers' shuffle bytes sum
        exactly to the traced run's status-store total."""
        from perfbench.trace import EVERY_LAYER, LAYERS, layer_table

        cores = self.sizing["cores"]
        ok = [r for r in self.runs if r["ok"]]
        c = self.tracer.counts
        m = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in EVERY_LAYER}
        m.update(layer_table(self.tracer, cores))
        m.update({f"{layer}.rows_out": c[f"{layer}.rows_out"] for layer in LAYERS})
        for k in ("lsh.candidates", "lsh.overflow_buckets", "simhash.candidates",
                  "simhash.overflow_buckets", "exact.pairs", "suffix.candidates",
                  "suffix.overflow_anchors", "suffix.lcs_candidates", "verify.candidates",
                  "verify.edges", "cc.rounds", "cc.edges", "cc.loop_width", "keep.clusters",
                  "keep.losers"):
            m[k] = c[k]
        m["suffix.lcs_accept_ratio"] = _ratio(c["suffix.lcs_edges"], c["suffix.lcs_candidates"])
        m["verify.accept_ratio"] = _ratio(c["verify.accepted"], c["verify.candidates"])
        tier_rows = c["exact.pairs"] + c["lsh.candidates"] + c["simhash.candidates"]
        m["pipeline.tier_pair_rows"] = tier_rows
        m["pipeline.pair_union_ratio"] = _ratio(tr["pairs_rows"], tier_rows)
        for st in STAGES:
            for k in ("wall_s", "shuffle_write_bytes"):
                m[f"pipeline.{st}.{k}"] = _median([r["stages"].get(st, {}).get(k, 0) for r in ok])
        s = self.setup
        m["session.wall_s"] = s["start_s"]
        m["session.idle_frac"] = 1.0  # get_spark runs no tasks
        m["session.start_s"] = s["start_s"]
        m["session.warmup_s"] = s["warmup_s"]
        m["input.generate_s"] = s["generate_s"]
        m["trace.wall_s"] = tr["wall_s"]
        # base: the measured (untraced, cold) runs; the traced run is warm
        untraced = _median([r["run_s"] for r in ok])
        m["trace.untraced_s"] = untraced
        m["trace.overhead_frac"] = _ratio(tr["wall_s"] - untraced, untraced)
        m["trace.shuffle_write_bytes"] = tr["shuffle_write_bytes"]
        m["resume.run_s"] = tr.get("resume_s", 0.0)
        m["resume.read_s"] = tr.get("resume_read_s", 0.0)
        m["resume.shuffle_write_bytes"] = tr.get("resume_shuffle_write_bytes", 0)
        m["host.cores"] = cores
        m["host.driver_mem_mb"] = self.sizing["driver_mem_mb"]
        m["host.shuffle_partitions"] = self.sizing["shuffle_partitions"]
        m["host.spin_iters"] = _median([r["spin_iters"] for r in self.runs])
        layer_sum = sum(m[f"{layer}.shuffle_write_bytes"] for layer in LAYERS)
        return m, layer_sum == tr["shuffle_write_bytes"]


def declared_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {e["name"]: e["unit"] for e in json.load(f)[kind]}


def code_hash() -> str:
    """Hash of the code that makes the inputs and the clusters: every
    Python file under ``dedup/`` and ``perfbench/``."""
    h = hashlib.blake2b(digest_size=8)
    for pkg in ("dedup", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, pkg))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def same_as_before(key: str, fp: str | None) -> bool:
    """Compare ``fp`` with the fingerprint an earlier process in this
    checkout recorded under ``key``; record it when there is none. The key
    holds the code hash, so only runs of the same code are compared."""
    path = os.path.join(OUT_DIR, "fingerprints.json")
    try:
        with open(path) as f:
            known = json.load(f)
    except (FileNotFoundError, ValueError):
        known = {}
    if key in known:
        return known[key] == fp
    if fp is None:
        return False
    known[key] = fp
    with open(path + ".tmp", "w") as f:
        json.dump(known, f, indent=1)
    os.replace(path + ".tmp", path)
    return True


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if not os.path.isfile(os.path.join(ROOT, "dedup", "pipeline.py")):
        print("perfbench: no dedup/ package beside perfbench/; run it from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.host import MemorySampler, host_sizing

    sizing = host_sizing()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    # the driver JVM and its Python workers inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["DEDUP_DRIVER_MEM"] = f"{sizing['driver_mem_mb']}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    tr = None
    with MemorySampler() as memory:
        bench = Bench(args, sizing, work, memory)
        try:
            bench.start()
            bench.generate()
            bench.warm_up()
            bench.measure()
            if args.trace:
                tr = bench.traced()
                values, exact = bench.per_layer(tr)
            else:
                values, exact = bench.end_to_end(), True
        finally:
            bench.close()
            shutil.rmtree(work, ignore_errors=True)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    if bench.tracer is not None:
        bench.tracer.write(os.path.join(OUT_DIR, f"spans-{tag}.jsonl"))
    code = code_hash()
    repeatable = same_as_before(f"{args.workload}:{args.seed}:{code}", bench.ref_fp)
    units = declared_units("per_layer" if args.trace else "end_to_end")
    run_s = sorted(r["run_s"] for r in bench.runs if r["ok"])
    p = tail_percentile(len(run_s))
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "settings": sizing,
        "turns": bench.n_turns,
        "setup": bench.setup,
        "run_s_samples": run_s,
        "run_s_tail": {f"p{p}": run_s[int(len(run_s) * p / 100)]} if p else None,
        "spin_iters": [r["spin_iters"] for r in bench.runs],
        "fingerprint": bench.ref_fp,
        "code_hash": code,
        "fingerprint_repeats": repeatable,
        "layer_bytes_sum_exact": exact,
    }
    with open(os.path.join(OUT_DIR, f"report-{tag}.json"), "w") as f:
        json.dump({**info, "traced": tr, "runs": bench.runs}, f, indent=1, default=str)
    print(json.dumps(info))
    print(json.dumps({
        "correct": bench.failed == 0 and repeatable and exact,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
