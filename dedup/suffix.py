"""Long shared-span detection across conversations (operator N9).

Catches pairs that are NOT near-duplicates globally but share one long
common substring spanning turn boundaries (FIXTURES.md ``shared_span``) —
e.g. a giant pasted tool output. No reference analog; mandated by the north
rule (BASELINE.json).

Two stages, mirroring the engine's universal block→fingerprint→verify spine:

1. **Anchor blocking** (distributed, cheap): every doc emits the rolling
   hashes of its ``anchor_w``-char windows whose hash ≡ 0 (mod
   ``span_anchor_mod``) — content-defined sampling (winnowing-style), so two
   docs sharing a span of length L share ≈ L/span_anchor_mod anchors
   REGARDLESS of alignment. A self-join on anchor hash + a minimum
   shared-anchor count yields candidate pairs. Hot anchors (boilerplate)
   are capped like LSH mega-bands — star edges + overflow metric.

2. **Pair verification** (Arrow-batched pandas UDF): exact longest-common-
   substring length via binary search over span length L — for each probe L,
   intersect the sets of rolling L-window hashes of both docs (O(n) per probe
   using an invertible-base prefix-hash trick; numpy-vectorized). Pairs with
   LCS ≥ ``min_span_len`` become span edges.

The prefix-hash trick: polynomial hash mod 2^64 with ODD base B is
invertible (B has a multiplicative inverse mod 2^64), so window hashes of
ANY length come from two cumulative arrays in O(n) — no per-window loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedup.config import DedupConfig
from dedup.minhash import _prefix_hashes, _prefix_windows


def longest_common_substring_len(a: str, b: str, lo: int = 1) -> int:
    """Length of the longest common substring of a and b (normalized
    upstream), via binary search + rolling-hash set intersection.

    Hash-based: collision odds per probe ≈ n·m/2^64 — negligible. The
    window hashes stay unmixed: a probe only asks whether the two sets meet,
    and the mix64 finalizer is a bijection.
    """
    if isinstance(a, str):
        a = a.encode("utf-8", "surrogatepass")
    if isinstance(b, str):
        b = b.encode("utf-8", "surrogatepass")
    xa = np.frombuffer(a, dtype=np.uint8).astype(np.uint64)
    xb = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
    if xa.size == 0 or xb.size == 0:
        return 0
    sa, pa = _prefix_hashes(xa)
    sb, pb = _prefix_hashes(xb)
    hi = int(min(xa.size, xb.size))

    def common_at(L: int) -> bool:
        ha = _prefix_windows(sa, pa, L)
        hb = _prefix_windows(sb, pb, L)
        return np.intersect1d(ha, hb).size > 0

    if not common_at(max(lo, 1)):
        return 0
    best, lo_, hi_ = max(lo, 1), max(lo, 1), hi
    while lo_ <= hi_:
        mid = (lo_ + hi_) // 2
        if common_at(mid):
            best, lo_ = mid, mid + 1
        else:
            hi_ = mid - 1
    return best


def batch_anchors(
    docs: list[str | None], cap: int, mod: int, w: int = 64
) -> tuple[np.ndarray, np.ndarray]:
    """Distinct span anchors of every doc in ONE vectorized pass: the mixed
    hashes of the ``w``-byte windows of ``py_normalize(doc)[:cap]`` that are
    ≡ 0 mod ``mod``, ascending per doc. Docs shorter than ``w`` emit none.

    Returns (counts, hashes): doc i's anchors are the next counts[i] values
    of ``hashes`` (int64).
    """
    from dedup.minhash import batch_window_hashes, batch_ws_normalize_bytes

    normed = batch_ws_normalize_bytes(docs, cap)
    n = len(normed)
    if n == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    H, _starts, counts = batch_window_hashes(normed, w)
    lens = np.fromiter((len(b) for b in normed), dtype=np.int64, count=n)
    doc_idx = np.repeat(np.arange(n, dtype=np.int64), counts)
    # a doc shorter than the window has one whole-text hash in H, which
    # must not leak through as an anchor
    m = np.repeat(lens >= w, counts) & (H % np.uint64(mod) == 0)
    d_sel, h_sel = doc_idx[m], H[m].astype(np.int64)
    order = np.lexsort((h_sel, d_sel))
    d_s, h_s = d_sel[order], h_sel[order]
    keep = np.ones(d_s.size, dtype=bool)
    keep[1:] = (d_s[1:] != d_s[:-1]) | (h_s[1:] != h_s[:-1])
    return np.bincount(d_s[keep], minlength=n), h_s[keep]


def doc_anchors(conversations: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """(conv_id, doc) → (conv_id, anchor_hash), one row per distinct anchor,
    through the fingerprint boundary with only the anchor kernel."""
    from dedup.fingerprint import with_fingerprints

    return with_fingerprints(conversations, cfg, ("anchors",)).select(
        "conv_id", F.explode("anchors").alias("anchor_hash")
    )


def span_candidate_pairs(
    anchors: DataFrame, cfg: DedupConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """(conv_id, anchor_hash) → anchor-join candidates: pairs sharing
    ≥ min_span_len/(4·mod) anchors.

    Returns (pairs, overflow_metrics). The shared-anchor minimum keeps the
    pair table small: a true L-span shares ≈ L/mod anchors, so the threshold
    is conservative by 4× (alignment/normalization slack).

    ``bucketed_pairs`` reads the anchor rows from two subtrees (bucket stats
    + the s>2 membership join), so ``anchors`` must be materialized or a
    narrow pass over a materialized table — the pipeline passes the explode
    of its ``signatures`` stage; a ``doc_anchors`` caller checkpoints it, or
    the anchor UDF runs once per subtree.
    """
    from dedup.lsh import bucketed_pairs

    cfg = cfg or DedupConfig()
    min_shared = max(2, cfg.min_span_len // (4 * cfg.span_anchor_mod))

    # bucket pairing (see lsh.bucketed_pairs); hot anchors (boilerplate)
    # emit star edges + overflow rows instead of O(n²) pairs — a star edge
    # counts toward shared_anchors like any other co-occurrence
    raw, overflow = bucketed_pairs(
        anchors,
        ["anchor_hash"],
        ["conv_id"],
        cfg.band_bucket_cap,
    )
    pairs = (
        raw.select(
            F.col("a.conv_id").alias("conv_a"), F.col("b.conv_id").alias("conv_b")
        )
        .groupBy("conv_a", "conv_b")
        .agg(F.count(F.lit(1)).alias("shared_anchors"))
        .where(F.col("shared_anchors") >= F.lit(min_shared))
        .select("conv_a", "conv_b", F.lit("span").alias("source"))
    )
    return pairs, overflow


def verify_span_pairs(
    pairs: DataFrame,
    conversations: DataFrame,
    cfg: DedupConfig | None = None,
) -> DataFrame:
    """Exact LCS verification of span candidates; keeps pairs with a common
    substring ≥ min_span_len chars. Returns (conv_a, conv_b, source,
    span_len)."""
    cfg = cfg or DedupConfig()
    docs = conversations.select("conv_id", "doc")
    joined = (
        pairs.join(docs.withColumnsRenamed({"conv_id": "conv_a", "doc": "doc_a"}), "conv_a")
        .join(docs.withColumnsRenamed({"conv_id": "conv_b", "doc": "doc_b"}), "conv_b")
        # LCS cost ∝ candidate rows; AQE coalesces this small join output to
        # a few byte-sized partitions, which would serialize the UDF
        .repartition(conversations.sparkSession.sparkContext.defaultParallelism)
    )
    cap, min_len = cfg.span_doc_cap, cfg.min_span_len

    @F.pandas_udf(T.IntegerType())
    def lcs_udf(doc_a: pd.Series, doc_b: pd.Series) -> pd.Series:
        from dedup.minhash import batch_ws_normalize_bytes

        na_l = batch_ws_normalize_bytes(list(doc_a), cap)
        nb_l = batch_ws_normalize_bytes(list(doc_b), cap)
        out = np.zeros(len(doc_a), dtype=np.int32)
        for i, (na, nb) in enumerate(zip(na_l, nb_l)):
            out[i] = longest_common_substring_len(na, nb)
        return pd.Series(out)

    return (
        joined.withColumn("span_len", lcs_udf("doc_a", "doc_b"))
        .where(F.col("span_len") >= F.lit(min_len))
        .select("conv_a", "conv_b", "source", "span_len")
    )
