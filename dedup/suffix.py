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
from dedup.minhash import _ROLL_BASE, _mix64

_B = _ROLL_BASE
_BINV = np.uint64(pow(int(_B), -1, 1 << 64))


def _prefix_arrays(arr_u64: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """S, P arrays such that hash of window [i, i+L) = (S[i+L]-S[i]) * P[i']
    for a fixed per-L factor; see _window_hashes."""
    from dedup.minhash import _pow_series

    n = arr_u64.size
    with np.errstate(over="ignore"):
        binv_pow = _pow_series(_BINV, n)  # BINV^i (process-cached series)
        c = arr_u64 * binv_pow
        s = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(c, out=s[1:])  # wraparound cumsum
        b_pow = _pow_series(_B, n)  # B^i
    return s, b_pow


def _window_hashes(s: np.ndarray, b_pow: np.ndarray, L: int) -> np.ndarray:
    """Mixed hashes of every L-char window, O(n). hash_i = (S[i+L]-S[i])·B^?:
    window poly = sum_{j=0..L-1} a[i+j]·B^{L-1-j} = (S[i+L]-S[i])·B^{L-1+i'}
    with the BINV^i factors cancelled by multiplying back B^i — constant
    offset per i, absorbed by multiplying (S[i+L]-S[i]) by B^(n-1-i)."""
    n = b_pow.size
    if L > n:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        diff = s[L:] - s[: n - L + 1]
        # multiply by B^i to cancel BINV^i inside diff → alignment-free value
        h = diff * b_pow[: n - L + 1]
    return _mix64(h)


def longest_common_substring_len(a: str, b: str, lo: int = 1) -> int:
    """Length of the longest common substring of a and b (normalized
    upstream), via binary search + rolling-hash set intersection.

    Hash-based: collision odds per probe ≈ n·m/2^64 — negligible.
    """
    if isinstance(a, str):
        a = a.encode("utf-8", "surrogatepass")
    if isinstance(b, str):
        b = b.encode("utf-8", "surrogatepass")
    xa = np.frombuffer(a, dtype=np.uint8).astype(np.uint64)
    xb = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
    if xa.size == 0 or xb.size == 0:
        return 0
    sa, pa = _prefix_arrays(xa)
    sb, pb = _prefix_arrays(xb)
    hi = int(min(xa.size, xb.size))

    def common_at(L: int) -> bool:
        ha = _window_hashes(sa, pa, L)
        hb = _window_hashes(sb, pb, L)
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


def doc_anchors(
    conversations: DataFrame,
    cfg: DedupConfig | None = None,
    input_materialized: bool = False,
) -> DataFrame:
    """(conv_id, doc) → (conv_id, anchor_hash), one row per distinct anchor.

    Anchors are ``anchor_w``-char windows with mixed hash ≡ 0 mod
    span_anchor_mod, computed in a pandas UDF over the normalized doc.
    """
    from dedup.util import spread_for_udf

    cfg = cfg or DedupConfig()
    w, mod, cap = 64, cfg.span_anchor_mod, cfg.span_doc_cap
    # spread rows for the UDF; a checkpointed input that is already wide
    # skips the full-doc-text shuffle (see util.spread_for_udf)
    conversations = spread_for_udf(conversations, materialized=input_materialized)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def anchors_udf(docs: pd.Series) -> pd.Series:
        # ONE vectorized pass for the whole batch (was a per-doc loop of
        # ~10 small numpy calls — fixed overhead dominated at ~2 KB/doc).
        # batch_window_hashes window values are position-independent and
        # use the same base + mix64 as the per-doc _window_hashes, so the
        # emitted anchor hashes are bit-identical to the loop's. The
        # normalize pass is vectorized too (regex-parity pinned by test).
        from dedup.minhash import batch_window_hashes, batch_ws_normalize_bytes

        normed = batch_ws_normalize_bytes(list(docs), cap)
        n = len(normed)
        if n == 0:
            return pd.Series([], dtype=object)
        H, _starts, counts = batch_window_hashes(normed, w)
        lens = np.fromiter((len(b) for b in normed), dtype=np.int64, count=n)
        doc_idx = np.repeat(np.arange(n, dtype=np.int64), counts)
        # docs shorter than the window emit no anchors (their single
        # whole-text hash from batch_window_hashes must not leak through)
        m = np.repeat(lens >= w, counts) & (H % np.uint64(mod) == 0)
        d_sel, h_sel = doc_idx[m], H[m].astype(np.int64)
        order = np.lexsort((h_sel, d_sel))
        d_s, h_s = d_sel[order], h_sel[order]
        keep = np.ones(d_s.size, dtype=bool)
        keep[1:] = (d_s[1:] != d_s[:-1]) | (h_s[1:] != h_s[:-1])
        d_s, h_s = d_s[keep], h_s[keep]
        bounds = np.searchsorted(d_s, np.arange(n + 1))
        return pd.Series([h_s[bounds[i] : bounds[i + 1]] for i in range(n)])

    return conversations.select(
        "conv_id", F.explode(anchors_udf(F.col("doc"))).alias("anchor_hash")
    )


def span_candidate_pairs(
    conversations: DataFrame,
    cfg: DedupConfig | None = None,
    input_materialized: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Anchor-join candidates: pairs sharing ≥ min_span_len/(4·mod) anchors.

    Returns (pairs, overflow_metrics). The shared-anchor minimum keeps the
    pair table small: a true L-span shares ≈ L/mod anchors, so the threshold
    is conservative by 4× (alignment/normalization slack).

    The anchor table is checkpointed: ``bucketed_pairs`` reads the anchor
    rows from two subtrees (bucket stats + the s>2 membership join), and
    without a cut the anchor pandas UDF — the expensive part of this tier —
    runs once per subtree (measured 58 s vs 14.5 s checkpointed at sf0.1
    local[32]). ``input_materialized`` is passed on to ``doc_anchors``.
    """
    from dedup.lsh import bucketed_pairs

    cfg = cfg or DedupConfig()
    min_shared = max(2, cfg.min_span_len // (4 * cfg.span_anchor_mod))
    anchors = doc_anchors(conversations, cfg, input_materialized).localCheckpoint()

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
