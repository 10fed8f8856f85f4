"""SimHash near-exact-turn tier + shared-span tier (FIXTURES.md
``near_exact_turn`` and ``shared_span``)."""

from __future__ import annotations

import datetime as dt

import numpy as np

from dedup.assemble import assemble_conversations
from dedup.config import DedupConfig
from dedup.fingerprint import with_fingerprints
from dedup.pipeline import DedupPipeline
from dedup.schema import TRANSCRIPTS_SCHEMA
from dedup.simhash import (
    py_simhash,
    simhash_conv_pairs,
    simhash_turn_pairs,
    with_turn_simhash,
)
from dedup.suffix import (
    doc_anchors,
    longest_common_substring_len,
    span_candidate_pairs,
    verify_span_pairs,
)

TS = dt.datetime(2024, 1, 1)


def _conv(cid, texts):
    return [(cid, i, "user", t, "", TS) for i, t in enumerate(texts)]


def turn_simhash(turns):
    """(conv_id, turn_idx, simhash) of the turns, as the pipeline derives
    them: assembly, then the fingerprint boundary's per-turn kernel."""
    conv = assemble_conversations(turns)
    return with_turn_simhash(with_fingerprints(conv, kernels=("turns",)))


def test_spark_simhash_matches_python(spark, turns_df):
    rows = (
        turn_simhash(turns_df)
        .join(turns_df, ["conv_id", "turn_idx"])
        .select("text", "simhash")
        .limit(30)
        .collect()
    )
    assert len(rows) == 30
    for r in rows:
        assert r.simhash == py_simhash(r.text), r.text[:40]


def test_near_exact_turn_pairs(spark):
    """B = A with one turn's whitespace/punctuation normalized ⇒ the SimHash
    path pairs the turns (and the conversations, since all turns match)."""
    a = ["Hello,   World! How are you doing today my friend?" * 3,
         "I am fine; thanks for asking about it all the time." * 3]
    b = ["hello world how are you doing today my friend " * 3,
         "i am fine thanks for asking about it all the time " * 3]
    rows = _conv("a", a) + _conv("b", b) + _conv(
        "z", ["completely different content about databases and query plans" * 3,
              "another unrelated turn talking about sorting algorithms at scale" * 3])
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    sh = turn_simhash(df)
    tp = {(r.conv_a, r.turn_a, r.conv_b, r.turn_b) for r in simhash_turn_pairs(sh)[0].collect()}
    assert ("a", 0, "b", 0) in tp
    assert ("a", 1, "b", 1) in tp
    assert not any("z" in (x[0], x[2]) for x in tp)
    cp = {(r.conv_a, r.conv_b) for r in simhash_conv_pairs(sh).collect()}
    assert cp == {("a", "b")}


def test_single_shared_turn_does_not_merge_convs(spark):
    """One shared boilerplate turn in otherwise-unrelated conversations must
    not produce a conversation candidate pair (min_shared_turn_frac)."""
    boiler = "standard tool output header row col " * 5
    rows = _conv("a", [boiler, "unique turn one two three four five six seven" * 4,
                       "more unique content here entirely different words" * 4,
                       "yet another unique turn with different content words" * 4])
    rows += _conv("b", [boiler, "совершенно other things happen in this conversation" * 4,
                        "unrelated second turn of conversation b talking sql" * 4,
                        "unrelated third turn of conversation b talking joins" * 4])
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    sh = turn_simhash(df)
    tp = {(r.conv_a, r.conv_b) for r in simhash_turn_pairs(sh)[0].collect()}
    assert ("a", "b") in tp  # the turn pair IS found
    cp = {(r.conv_a, r.conv_b) for r in simhash_conv_pairs(sh).collect()}
    assert cp == set()  # but the conversations are NOT candidates


def test_lcs_binary_search_exact():
    assert longest_common_substring_len("abcXYZdef", "qqXYZpp") == 3
    assert longest_common_substring_len("", "abc") == 0
    s = "S" * 5000
    assert longest_common_substring_len("aa" + s + "bb", "cc" + s) == 5000


def test_shared_span_pipeline(spark, turns_df, corpus):
    """Planted shared-span pairs (≥4k-char common substring) are found by
    anchor blocking + LCS verification; unrelated convs are not."""
    truth = {
        (a, b) for a, b, k in corpus.truth_pairs.itertuples(index=False) if k == "span"
    }
    assert truth
    conv = assemble_conversations(turns_df)
    cfg = DedupConfig()
    cand, _overflow = span_candidate_pairs(doc_anchors(conv, cfg).localCheckpoint(), cfg)
    verified = verify_span_pairs(cand, conv, cfg)
    got = {(r.conv_a, r.conv_b) for r in verified.collect()}
    missing = truth - got
    assert not missing, f"span pairs missed: {missing}"
    # every reported pair really shares a >=min_span_len substring: verified
    # by construction (LCS is exact), so just sanity-check span lengths
    for r in verified.collect():
        assert r.span_len >= cfg.min_span_len


def test_null_turn_idx_row_stays_out_of_simhash_tier(spark):
    """A row with a null turn_idx is dropped by assembly (and counted in
    ingest_rejects); the SimHash tier must not see it either. C's only
    assembled turn matches D's up to case and punctuation, so C and D
    cluster — they would not if the dropped row counted as a second,
    unmatched turn of C (turn coverage 1/2)."""
    t1 = "the quick brown fox jumps over the lazy dog while seven wizards hex a jovial boxer"
    t1_variant = ", ".join(w.upper() + "!" for w in t1.split())
    rows = [
        ("C", 0, "user", t1, "", TS),
        ("C", None, "user", "a second turn that assembly drops for lack of a position", "", TS),
        ("D", 0, "user", t1_variant, "", TS),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    res = DedupPipeline(spark, DedupConfig(), enable_span=False).run(turns)
    m = {r.conv_id: r.cluster_id for r in res.clusters.collect()}
    assert m.get("C") is not None and m.get("C") == m.get("D"), m
    assert res.metrics["ingest_rejects"]["null_turn_idx"] == 1
