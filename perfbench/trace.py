"""Spans around the pipeline's layer calls, with Spark counters per span.

The traced run is a normal ``DedupPipeline.run`` made serial
(``concurrent=False``) whose calls into each layer module go through the
wrappers installed here. A wrapper opens a span, sets a Spark job group
named after it, calls the layer function and forces its result
(``localCheckpoint``), so the layer's work runs inside its own span. Jobs
the pipeline runs between layer calls (stage writes, reads and counts, the
pair union, the overflow counts) fall in the enclosing ``pipeline`` span.

Afterwards every Spark stage of the run is attributed to exactly one span:
the span whose job group was set on the first job that listed the stage.
So the per-span byte counters sum to the application totals for the run.
Spans are held in memory and written out once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
from collections import defaultdict

#: layer -> [(module, function name)], the calls into each layer module that
#: the pipeline makes
LAYER_CALLS = {
    "assemble": [("dedup.pipeline", "assemble_conversations")],
    "exact": [("dedup.pipeline", "exact_pairs")],
    "minhash": [("dedup.pipeline", "with_minhash")],
    "lsh": [("dedup.pipeline", "candidate_pairs")],
    "simhash": [
        ("dedup.pipeline", "with_turn_simhash"),
        ("dedup.pipeline", "simhash_conv_pairs"),
    ],
    "suffix": [
        ("dedup.suffix", "doc_anchors"),
        ("dedup.pipeline", "span_candidate_pairs"),
        ("dedup.pipeline", "verify_span_pairs"),
    ],
    "verify": [("dedup.pipeline", "verify_pairs")],
    "cc": [("dedup.pipeline", "connected_components")],
    "keep": [("dedup.pipeline", "select_representatives")],
}

#: layers in pipeline order; ``session`` and ``pipeline`` are timed by the
#: runner itself (get_spark, and the DedupPipeline.run call).
LAYERS = ("session", "assemble", "exact", "minhash", "lsh", "simhash", "suffix",
          "verify", "cc", "keep", "pipeline")

#: metrics every layer reports (0 for a layer that does not run)
EVERY_LAYER = ("wall_s", "task_s", "idle_frac", "rows_out", "shuffle_write_bytes",
               "spill_bytes", "stages")

#: the pandas-UDF layers; their Python time is the ArrowEvalPython SQL
#: metric, summed over the SQL executions of each span's jobs.
PYTHON_LAYERS = ("minhash", "simhash", "suffix")
_PYTHON_TIME_METRIC = "time to run Python workers"


def rows(df) -> int:
    """Row count of a materialized frame without a shuffle (JVM RDD count)."""
    return int(df._jdf.queryExecution().toRdd().count())  # noqa: SLF001


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    # ---- spans ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sc = self.spark.sparkContext
        sp = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "group": f"perfbench:{self.run_id}:{len(self.spans)}",
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp["group"], f"{layer}.{name}")
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                sc.setJobGroup(parent["group"], f"{parent['layer']}.{parent['name']}")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    # ---- wrappers -------------------------------------------------------

    def install(self) -> None:
        import importlib

        for layer, calls in LAYER_CALLS.items():
            for module, name in calls:
                mod = importlib.import_module(module)
                fn = getattr(mod, name)
                self._patched.append((mod, name, fn))
                setattr(mod, name, self._wrap(layer, fn))

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._patched):
            setattr(mod, name, fn)
        self._patched.clear()

    def _wrap(self, layer: str, fn):
        before = getattr(Tracer, f"_before_{fn.__name__}", None)
        force = getattr(Tracer, f"_force_{fn.__name__}", Tracer._force_default)

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(fn.__name__, layer):
                if before is not None:
                    args = before(self, args)
                return force(self, layer, fn(*args, **kwargs), args, kwargs)

        return inner

    def _out(self, layer: str, df):
        """Force ``df``; count its rows toward the layer's rows_out unless
        this call is nested in another call of the same layer."""
        ckpt = df.localCheckpoint()
        n = rows(ckpt)
        parent = self._stack[-1]["parent"]
        if parent is None or self.spans[parent]["layer"] != layer:
            self.counts[f"{layer}.rows_out"] += n
        return ckpt, n

    def _force_default(self, layer, out, args, kwargs):
        return self._out(layer, out)[0]

    def _force_assemble_conversations(self, layer, out, args, kwargs):
        # the pipeline asks for the reject observation whenever it assembles
        return self._out(layer, out[0])[0], out[1]

    def _pairs_and_overflow(self, layer, out):
        pairs, n = self._out(layer, out[0])
        overflow = out[1].localCheckpoint()
        self.counts[f"{layer}.candidates"] += n
        self.counts[f"{layer}.overflow_buckets"] += rows(overflow)
        return pairs, overflow

    def _force_candidate_pairs(self, layer, out, args, kwargs):
        return self._pairs_and_overflow(layer, out)

    # the pipeline calls it with return_overflow=True
    _force_simhash_conv_pairs = _force_candidate_pairs

    def _force_span_candidate_pairs(self, layer, out, args, kwargs):
        pairs, n = self._out(layer, out[0])
        self.counts["suffix.candidates"] += n
        overflow = out[1].localCheckpoint()
        self.counts["suffix.overflow_anchors"] += rows(overflow)
        return pairs, overflow

    def _before_verify_span_pairs(self, args):
        # the candidates arrive as the pipeline's unmaterialized anti-join;
        # materialize it once, so that counting it does not run it twice
        cand = args[0].localCheckpoint()
        self.counts["suffix.lcs_candidates"] += rows(cand)
        return (cand, *args[1:])

    def _force_verify_span_pairs(self, layer, out, args, kwargs):
        edges, n = self._out(layer, out)
        self.counts["suffix.lcs_edges"] += n
        return edges

    def _force_exact_pairs(self, layer, out, args, kwargs):
        pairs, n = self._out(layer, out)
        self.counts["exact.pairs"] += n
        return pairs

    def _force_verify_pairs(self, layer, out, args, kwargs):
        from pyspark.sql import functions as F

        lsh = F.col("source") == "lsh"
        self.counts["verify.candidates"] += rows(args[0].where(lsh))
        edges, n = self._out(layer, out)
        self.counts["verify.edges"] += n
        self.counts["verify.accepted"] += rows(edges.where(lsh))
        return edges

    def _force_connected_components(self, layer, out, args, kwargs):
        labels, _ = self._out(layer, out)
        m = kwargs.get("metrics_out") or {}
        self.counts["cc.rounds"] += m.get("cc_rounds", 0)
        self.counts["cc.edges"] += m.get("cc_edges", 0)
        self.counts["cc.loop_width"] += m.get("cc_loop_width", 0)
        return labels

    def _force_select_representatives(self, layer, out, args, kwargs):
        from pyspark.sql import functions as F

        kept, n = self._out(layer, out)
        reps = rows(kept.where(F.col("is_representative")))
        self.counts["keep.clusters"] += reps
        self.counts["keep.losers"] += n - reps
        return kept

    # ---- attribution ----------------------------------------------------

    def attribute(self) -> dict[int, dict]:
        """Per-span Spark counters from the status stores.

        Returns span id -> {task_s, shuffle_write_bytes, spill_bytes, stages,
        python_s}. Each stage counts once, for the span whose group was set
        on the first job that listed it; skipped stages count nowhere."""
        sc = self.spark.sparkContext
        jvm = self.spark._jvm  # noqa: SLF001
        st = sc._jsc.sc().statusStore()  # noqa: SLF001
        by_group = {sp["group"]: sp["id"] for sp in self.spans}
        jobs = st.jobsList(jvm.java.util.ArrayList())
        job_span: dict[int, int] = {}
        owner: dict[int, tuple[int, int]] = {}  # stage id -> (job id, span id)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or g.get() not in by_group:
                continue
            jid, span_id = j.jobId(), by_group[g.get()]
            job_span[jid] = span_id
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid not in owner or owner[sid][0] > jid:
                    owner[sid] = (jid, span_id)
        out: dict[int, dict] = defaultdict(
            lambda: {"task_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                     "stages": 0, "python_s": 0.0}
        )
        defaults = [getattr(st, f"stageList$default${i}")() for i in range(2, 6)]
        stages = st.stageList(jvm.java.util.ArrayList(), *defaults)
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid not in owner or s.status().toString() == "SKIPPED":
                continue
            rec = out[owner[sid][1]]
            rec["task_s"] += s.executorRunTime() / 1000.0
            rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
            rec["spill_bytes"] += s.diskBytesSpilled()
            rec["stages"] += 1
        for span_id, secs in _python_seconds(self.spark, job_span).items():
            out[span_id]["python_s"] += secs
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def _duration_s(text: str) -> float:
    """Seconds in a formatted SQL timing metric ('1.2 s', '340 ms', or the
    'total (min, med, max ...)' form, whose second line starts with it)."""
    line = text.split("\n", 1)[-1]
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _python_seconds(spark, job_span: dict[int, int]) -> dict[int, float]:
    """Python worker run time per span, from the ArrowEvalPython SQL metric
    of every SQL execution whose jobs ran under one of the spans."""
    sq = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    ex = sq.executionsList()
    out: dict[int, float] = defaultdict(float)
    for i in range(ex.size()):
        e = ex.apply(i)
        jobs = e.jobs().keySet().toSeq()
        spans = {job_span[jobs.apply(k)] for k in range(jobs.size()) if jobs.apply(k) in job_span}
        if not spans:
            continue
        ms = e.metrics()
        ids = [ms.apply(k).accumulatorId() for k in range(ms.size())
               if ms.apply(k).name() == _PYTHON_TIME_METRIC]
        if not ids:
            continue
        values = sq.executionMetrics(e.executionId())
        secs = 0.0
        for acc in ids:
            v = values.get(acc)
            if v.isDefined():
                secs += _duration_s(v.get())
        out[min(spans)] += secs
    return dict(out)


def layer_table(tracer: Tracer, cores: int) -> dict[str, float]:
    """The every-layer metrics of the traced run, by layer.

    ``wall_s`` is self time: a span's duration minus the time covered by
    child spans of other layers, so the layers' walls sum to the run wall.
    """
    attr = tracer.attribute()
    by_id = {sp["id"]: sp for sp in tracer.spans}
    m: dict[str, float] = defaultdict(float)
    for sp in tracer.spans:
        dur = sp["end"] - sp["start"]
        parent = by_id.get(sp["parent"])
        if parent is not None and parent["layer"] == sp["layer"]:
            dur = 0.0  # covered by the same layer's enclosing span
        for child in tracer.spans:
            if child["parent"] == sp["id"] and child["layer"] != sp["layer"]:
                dur -= child["end"] - child["start"]
        layer = sp["layer"]
        m[f"{layer}.wall_s"] += dur
        a = attr.get(sp["id"])
        if a:
            for k in ("task_s", "shuffle_write_bytes", "spill_bytes", "stages"):
                m[f"{layer}.{k}"] += a[k]
            if layer in PYTHON_LAYERS:
                m[f"{layer}.python_s"] += a["python_s"]
    for layer in LAYERS:
        wall, task = m[f"{layer}.wall_s"], m[f"{layer}.task_s"]
        m[f"{layer}.idle_frac"] = 1.0 - task / (wall * cores) if wall > 0 else 0.0
    return dict(m)
