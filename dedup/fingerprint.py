"""The one Python boundary of the fingerprint kernels (operators N2, N8, N9).

One Arrow UDF ships each conversation to Python once and runs the requested
kernels on the batch:

- ``minhash``: ``batch_minhash`` over the doc normalized in the JVM
  (``minhash._normalize_expr``). Java's ``\s`` is ASCII-only while
  Python's also matches U+00A0 and U+2003, so normalizing here would change
  the signatures of non-ASCII docs.
- ``anchors``: ``suffix.batch_anchors`` of the doc.
- ``turns``: (turn_idx, simhash) of every non-empty turn, from ``doc``
  split on TURN_SEP — assembly joins the turn texts in ``turn_idxs`` order.

The pipeline materializes all three as its ``signatures`` stage, which
every tier reads, through ``minhash.with_minhash(extra_kernels=...)``;
library callers of ``with_minhash`` and ``suffix.doc_anchors`` run the same
boundary with one kernel.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup.config import DedupConfig
from dedup.minhash import _normalize_expr, batch_minhash
from dedup.schema import TURN_SEP
from dedup.simhash import batch_simhash
from dedup.suffix import batch_anchors
from dedup.util import spread_for_udf

#: kernel -> its output column type; the ``signatures`` stage is conv_id
#: plus these columns
KERNEL_TYPES = {
    "minhash": "array<int>",
    "anchors": "array<bigint>",
    "turns": "array<struct<turn_idx:int,simhash:bigint>>",
}
KERNELS = tuple(KERNEL_TYPES)


def _list_array(counts: np.ndarray, values: pa.Array) -> pa.ListArray:
    offsets = np.zeros(counts.size + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def fingerprint_batch(
    cols: dict[str, pa.Array], cfg: DedupConfig, kernels: tuple[str, ...]
) -> pa.StructArray:
    """Run ``kernels`` on one batch. ``cols`` holds ``norm_doc`` (minhash),
    ``doc`` (anchors, turns) and ``turn_idxs`` (turns)."""
    out = []
    if "minhash" in kernels:
        norm = [d or b"" for d in cols["norm_doc"].cast(pa.binary()).to_pylist()]
        sigs = batch_minhash(norm, cfg.shingle_k, cfg.num_perm, cfg.seed)
        counts = np.full(len(norm), cfg.num_perm, dtype=np.int32)
        out.append(_list_array(counts, pa.array(sigs.ravel())))
    docs = cols["doc"].to_pylist() if "doc" in cols else []
    if "anchors" in kernels:
        counts, hashes = batch_anchors(docs, cfg.span_doc_cap, cfg.span_anchor_mod)
        out.append(_list_array(counts, pa.array(hashes)))
    if "turns" in kernels:
        pieces = [(d or "").split(TURN_SEP) for d in docs]
        n_turns = cols["turn_idxs"].value_lengths().to_numpy(zero_copy_only=False)
        if not np.array_equal(n_turns, [len(p) for p in pieces]):
            raise ValueError("doc does not split into one text per turn_idxs entry")
        texts = [t for p in pieces for t in p]
        keep = np.fromiter((len(t) > 0 for t in texts), dtype=bool, count=len(texts))
        sims = batch_simhash([t for t, k in zip(texts, keep) if k])
        row = np.repeat(np.arange(len(docs)), n_turns)
        counts = np.bincount(row[keep], minlength=len(docs))
        idxs = cols["turn_idxs"].flatten().to_numpy(zero_copy_only=False)
        per_turn = pa.StructArray.from_arrays(
            [pa.array(idxs[keep]), pa.array(sims)], names=["turn_idx", "simhash"]
        )
        out.append(_list_array(counts, per_turn))
    return pa.StructArray.from_arrays(out, names=list(kernels))


def with_fingerprints(
    conversations: DataFrame,
    cfg: DedupConfig | None = None,
    kernels: tuple[str, ...] = KERNELS,
    input_materialized: bool = False,
) -> DataFrame:
    """Attach one column per kernel in ``kernels`` (types in
    ``KERNEL_TYPES``), all computed in one Arrow UDF from ``doc`` (and
    ``turn_idxs`` for ``turns``). Rows are spread across the cluster's
    parallelism first; ``input_materialized`` (checkpointed or
    parquet-backed input) skips that full-text shuffle when the input is
    already wide enough (``util.spread_for_udf``).
    """
    cfg = cfg or DedupConfig()
    if not kernels or set(kernels) - set(KERNELS):
        raise ValueError(f"kernels must be a non-empty subset of {KERNELS}, got {kernels}")
    kernels = tuple(k for k in KERNELS if k in kernels)
    args = {}
    if "minhash" in kernels:
        args["norm_doc"] = _normalize_expr(F.col("doc"))
    if "anchors" in kernels or "turns" in kernels:
        args["doc"] = F.col("doc")
    if "turns" in kernels:
        args["turn_idxs"] = F.col("turn_idxs")
    names = list(args)

    def run(*cols: pa.Array) -> pa.Array:
        return fingerprint_batch(dict(zip(names, cols)), cfg, kernels)

    udf = F.arrow_udf(run, ", ".join(f"{k} {KERNEL_TYPES[k]}" for k in kernels))
    conversations = spread_for_udf(conversations, materialized=input_materialized)
    cols = conversations.columns
    return conversations.withColumn("_fp", udf(*args.values())).select(
        *cols, *[F.col(f"_fp.{k}").alias(k) for k in kernels]
    )
