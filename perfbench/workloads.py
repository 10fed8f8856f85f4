"""Seeded benchmark inputs and the duplicate pairs planted in them.

Every input is a function of the seed alone. The program under test only
receives the transcripts table written here; the truth pairs stay on the
benchmark side and are used to score the clusters it returns.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

#: full_run corpus: conversations before planting (about 49k turns). The
#: size is set by the time budget: one cold run takes 25-40 s on a 4-core
#: host, and an evaluation makes 4 + 22 invocations per workload. At this
#: size most of run_s does not grow with the input. In one session on that
#: host, warm runs took about 16 s on 4.6k turns and 21 s on 49k turns, and
#: the cold first run 39 s: per-row work is about a sixth of a cold run.
#: A traced run puts about 55% of its self wall in the minhash, lsh,
#: simhash and suffix layers, but in about 160 stages that leave the cores
#: idle two thirds of the time, so much of that is per-stage cost too.
FULL_RUN_CONVS = 3000

#: edit_chains: chains x links. The chain length sets the CC depth: min-label
#: propagation needs about one hop per link, 3 hops per round, and the loop
#: raises after cc_max_iters=25 rounds (a 200-link chain crashes today), so
#: 40 links (14 rounds) stays inside the converging range. With these
#: sizes cc is the largest layer of a traced run on a 4-core host: about
#: 40% of its self wall and two thirds of its stages.
CHAINS = 60
CHAIN_LINKS = 40
#: turns per conversation and words per turn. With 6 turns, neighbours
#: share 5 turns (SimHash coverage 5/6 >= 0.8) and links two apart share 4
#: (4/6 < 0.8; shingle Jaccard ~0.5 < 0.7), so only neighbours pair.
CHAIN_TURNS = 6
CHAIN_WORDS = 14
_CHAIN_VOCAB = 4000


def full_run_truth(n_convs: int) -> list[tuple[str, str]]:
    """Pairs planted by ``dedup.synth_spark.generate_transcripts``.

    Every 10th conversation has an exact copy (``_xd``), every 9th an
    edited copy (``_nd``), and every 17th a span partner pair (``_spa``
    holds one long turn, ``_sp`` holds three short turns and the same
    long turn). Defaults of that function are assumed.
    """
    pairs = []
    for seq in range(n_convs):
        cid = f"c{seq:08d}"
        if seq % 10 == 0:
            pairs.append((cid, cid + "_xd"))
        if seq % 9 == 0:
            pairs.append((cid, cid + "_nd"))
        if seq % 17 == 0:
            pairs.append((cid + "_spa", cid + "_sp"))
    return pairs


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, from the file footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def write_full_run(spark, path: str, seed: int, files: int) -> tuple[int, list[tuple[str, str]]]:
    """Write the generate_transcripts corpus as ``files`` parquet files
    (coalesced, no shuffle); return (turn rows, truth)."""
    from dedup.synth_spark import generate_transcripts

    generate_transcripts(spark, FULL_RUN_CONVS, seed).coalesce(files).write.parquet(path)
    return parquet_rows(path), full_run_truth(FULL_RUN_CONVS)


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=_CHAIN_VOCAB)
    return np.array(["".join(rng.choice(letters, size=n)) for n in lens])


def edit_chains(seed: int) -> tuple[pd.DataFrame, list[tuple[str, str]]]:
    """Chains of short conversations, each link one turn away from the last.

    Link 0 of a chain has CHAIN_TURNS fresh turns; link j+1 is link j with
    turn ``j % CHAIN_TURNS`` replaced by a fresh turn. Truth: neighbouring
    links of one chain.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    base_ts = pd.Timestamp("2024-03-01T00:00:00", tz="UTC")
    rows: dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    truth = []

    def fresh_turn() -> str:
        return " ".join(vocab[rng.integers(0, _CHAIN_VOCAB, size=CHAIN_WORDS)])

    for c in range(CHAINS):
        turns = [fresh_turn() for _ in range(CHAIN_TURNS)]
        for j in range(CHAIN_LINKS):
            if j:
                turns[(j - 1) % CHAIN_TURNS] = fresh_turn()
                truth.append((f"e{c:05d}_{j - 1:03d}", f"e{c:05d}_{j:03d}"))
            cid = f"e{c:05d}_{j:03d}"
            for t, text in enumerate(turns):
                rows["conv_id"].append(cid)
                rows["turn_idx"].append(t)
                rows["role"].append("user" if t % 2 == 0 else "assistant")
                rows["text"].append(text)
                rows["tool"].append("")
                rows["ts"].append(base_ts + pd.Timedelta(seconds=c * 1000 + j * 10 + t))
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df, truth


def write_edit_chains(path: str, seed: int, files: int) -> tuple[int, list[tuple[str, str]]]:
    """Write the edit-chain corpus as ``files`` parquet files (parallel scan)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df, truth = edit_chains(seed)
    schema = pa.schema(
        [
            pa.field("conv_id", pa.string(), False),
            pa.field("turn_idx", pa.int32(), False),
            pa.field("role", pa.string()),
            pa.field("text", pa.string()),
            pa.field("tool", pa.string()),
            pa.field("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    os.makedirs(path, exist_ok=True)
    # whole conversations per file, so no file boundary splits one
    conv_no = df["conv_id"].factorize()[0]
    for i in range(files):
        part = df[conv_no % files == i]
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )
    return len(df), truth
