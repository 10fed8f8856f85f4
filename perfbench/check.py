"""Output checks: cluster fingerprint and pair recall/precision vs truth."""

from __future__ import annotations

import hashlib
from collections import defaultdict


def read_clusters(path: str) -> list[tuple[str, str, bool]]:
    """(conv_id, cluster_id, is_representative) rows of a clusters parquet."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["conv_id", "cluster_id", "is_representative"])
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def fingerprint(rows: list[tuple[str, str, bool]]) -> str:
    """Row count + xor of hashed (conv_id, cluster_id): order-independent."""
    acc = 0
    for conv_id, cluster_id, _rep in rows:
        h = hashlib.blake2b(f"{conv_id}\x00{cluster_id}".encode(), digest_size=8)
        acc ^= int.from_bytes(h.digest(), "little")
    return f"{len(rows)}:{acc:016x}"


def _components(pairs: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
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


def score(rows: list[tuple[str, str, bool]], truth: list[tuple[str, str]]) -> dict:
    """Pair recall and precision of the clusters against planted truth.

    recall: planted pairs whose ends share a cluster, over planted pairs.
    precision: co-clustered pairs whose ends are joined by a path of
    planted pairs, over co-clustered pairs.
    """
    cluster = {conv_id: cid for conv_id, cid, _ in rows}
    found = sum(1 for a, b in truth if a in cluster and cluster.get(a) == cluster.get(b))
    comp = _components(truth)
    members: dict[str, list[str]] = defaultdict(list)
    for conv_id, cid, _ in rows:
        members[cid].append(conv_id)
    co = implied = 0
    for ms in members.values():
        co += len(ms) * (len(ms) - 1) // 2
        by_comp: dict[str, int] = defaultdict(int)
        for m in ms:
            if m in comp:
                by_comp[comp[m]] += 1
        implied += sum(k * (k - 1) // 2 for k in by_comp.values())
    reps = sum(1 for *_, rep in rows if rep)
    return {
        "recall": found / len(truth),
        "precision": implied / co if co else 0.0,
        "planted_pairs": len(truth),
        "coclustered_pairs": co,
        "clusters": len(members),
        "one_rep_per_cluster": reps == len(members),
    }
