"""The fingerprint boundary (dedup/fingerprint.py): one Arrow UDF over the
conversations stage must reproduce each per-doc kernel exactly, on any text
the input can hold."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dedup.assemble import assemble_conversations
from dedup.config import DedupConfig
from dedup.fingerprint import with_fingerprints
from dedup.minhash import _normalize_expr, minhash_signature, py_normalize, shingle_hashes
from dedup.simhash import py_simhash

TURNS_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
#: anchors every other window and caps the normalized doc, so short
#: hypothesis docs exercise both the anchor filter and the cap slice
CFG = DedupConfig(span_anchor_mod=2, span_doc_cap=150)

TEXT = st.one_of(
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=120,
    ),
    st.text(alphabet="ab \xa0 \x1e\x0bC", max_size=160),
    st.sampled_from(["", "x\x1ey", "\x1e", "A\xa0B C\x0bD " * 8]),
)
CONVERSATION = st.lists(st.one_of(st.none(), TEXT), min_size=1, max_size=5)


def _ref_anchors(doc: str) -> list[int]:
    """The span tier's anchors of one doc, from the per-doc shingle path."""
    s = py_normalize(doc)[: CFG.span_doc_cap]
    if len(s.encode("utf-8", "surrogatepass")) < 64:
        return []
    h = shingle_hashes(s, 64)
    return sorted(int(x) for x in h[h % np.uint64(CFG.span_anchor_mod) == 0].astype(np.int64))


@settings(max_examples=10, deadline=None)
@given(st.lists(CONVERSATION, min_size=1, max_size=6), st.booleans())
def test_boundary_matches_per_doc_kernels(spark, convs, null_idx_row):
    rows = [
        (f"c{c}", i, "user", text, "", None)
        for c, texts in enumerate(convs)
        for i, text in enumerate(texts)
    ]
    if null_idx_row:  # dropped by assembly, so it must reach no kernel
        rows.append(("c0", None, "user", "a turn without a position " * 4, "", None))
    conv = assemble_conversations(spark.createDataFrame(rows, TURNS_DDL), CFG)
    got = {
        r.conv_id: r
        for r in with_fingerprints(conv, CFG)
        .withColumn("norm_doc", _normalize_expr(F.col("doc")))
        .collect()
    }
    kept = {f"c{c}" for c, texts in enumerate(convs) if sum(len(t or "") for t in texts)}
    assert set(got) == kept
    for c, texts in enumerate(convs):
        r = got.get(f"c{c}")
        if r is None:
            continue
        want_sig = minhash_signature(
            shingle_hashes(r.norm_doc, CFG.shingle_k), CFG.num_perm, CFG.seed
        )
        assert np.array_equal(np.array(r.minhash, dtype=np.int32), want_sig)
        assert list(r.anchors) == _ref_anchors(r.doc)
        want_turns = [(i, py_simhash(t)) for i, t in enumerate(texts) if t]
        assert [(t.turn_idx, t.simhash) for t in r.turns] == want_turns


def test_single_kernel_callers_ship_only_their_input(spark):
    """with_minhash (bench.py's minhash_signatures leaf) runs the MinHash
    kernel alone: one Arrow UDF whose only input is the JVM-normalized doc,
    and no other kernel's column."""
    from dedup.minhash import with_minhash

    conv = spark.createDataFrame([("a", "Some  Text")], "conv_id string, doc string")
    out = with_minhash(conv)
    assert out.columns == ["conv_id", "doc", "minhash"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    udf_nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(udf_nodes) == 1, plan
    assert "regexp_replace(lower(doc#" in udf_nodes[0], plan
    assert udf_nodes[0].count("doc#") == 1, plan  # the raw doc is not shipped
