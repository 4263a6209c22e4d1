"""Distributed BPE trainer (gdal_spark/bpe.py) — brute-force replica
parity, SQL-twin parity, and apply round-trip."""

from collections import Counter

import duckdb
import pandas as pd
import pytest

from gdal_spark.bpe import bpe_apply, bpe_train, bpe_train_sql


def ref_bpe(texts, n):
    """Sequential reference: word-frequency BPE, greedy left-to-right
    merge, ties (count desc, left asc, right asc)."""
    freq = Counter()
    for t in texts:
        for w in t.split():
            freq[w] += 1
    words = {tuple(w): f for w, f in freq.items()}
    merges = []
    for _ in range(n):
        pc = Counter()
        for wt, f in words.items():
            for a, b in zip(wt, wt[1:]):
                pc[(a, b)] += f
        if not pc:
            raise ValueError("exhausted")
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, cnt))
        new = {}
        for wt, f in words.items():
            out, i = [], 0
            while i < len(wt):
                if i + 1 < len(wt) and wt[i] == l and wt[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(wt[i])
                    i += 1
            t = tuple(out)
            new[t] = new.get(t, 0) + f
        words = new
    return merges


TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest low new",
    "the lowly newly widely the the",
]


def _docs(spark, texts=TEXTS):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


class TestBpeTrain:
    def test_matches_reference(self, spark):
        got = bpe_train(_docs(spark), 10)
        assert got == ref_bpe(TEXTS, 10)

    def test_overlapping_run_merges_left_to_right(self, spark):
        # 'aaaa': first merge (a,a) occurs 3 times in pair counts but
        # applies non-overlapping left-to-right -> 'aa aa'
        got = bpe_train(_docs(spark, ["aaaa aaaa b"]), 2)
        assert got == ref_bpe(["aaaa aaaa b"], 2)
        assert got[0][:2] == ("a", "a")
        assert got[1][:2] == ("aa", "aa")

    def test_exhaustion_raises(self, spark):
        with pytest.raises(ValueError, match="exhausted"):
            bpe_train(_docs(spark, ["a b c"]), 1)

    def test_sql_twin(self, spark):
        got = bpe_train(_docs(spark), 8)
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(
            [(i, t) for i, t in enumerate(TEXTS)], columns=["doc_id", "text"]))
        want = con.execute(bpe_train_sql(8) + " ORDER BY step").df()
        assert [(r.left_sym, r.right_sym, int(r.pair_freq))
                for r in want.itertuples()] == got


class TestBpeApply:
    def test_round_trip_and_tokens(self, spark):
        merges = bpe_train(_docs(spark), 10)
        out = bpe_apply(_docs(spark), merges).collect()
        assert len(out) == len(TEXTS)
        for r in out:
            # concatenating a doc's BPE tokens re-spells its words
            assert "".join(r.bpe_tokens) == TEXTS[r.doc_id].replace(" ", "")

    def test_apply_matches_training_segmentation(self, spark):
        # training then applying with the full merge table reproduces
        # the trainer's final word segmentation
        merges = bpe_train(_docs(spark, ["banana bananas banana"]), 4)
        out = {r.doc_id: list(r.bpe_tokens) for r in bpe_apply(
            _docs(spark, ["banana bananas banana"]), merges).collect()}
        # reference final segmentation
        ref = ref_bpe(["banana bananas banana"], 4)
        words = {tuple("banana"): 2, tuple("bananas"): 1}
        for l, r, _c in ref:
            new = {}
            for wt, f in words.items():
                o, i = [], 0
                while i < len(wt):
                    if i + 1 < len(wt) and wt[i] == l and wt[i + 1] == r:
                        o.append(l + r)
                        i += 2
                    else:
                        o.append(wt[i])
                        i += 1
                new[tuple(o)] = new.get(tuple(o), 0) + f
            words = new
        segs = {w: list(w2) for w2, f in words.items()
                for w in ["".join(w2)]}
        expect = segs["banana"] + segs["bananas"] + segs["banana"]
        assert out[0] == expect

    def test_null_column_keeps_tokens_without_id_col(self, spark):
        # without id_col the regroup keys on every doc column; a NULL in
        # a non-text column must still match its own grouped tokens
        docs = spark.createDataFrame(
            [(0, None, "low lower"), (1, "en", "new newer"), (2, None, "")],
            "doc_id long, lang string, text string",
        )
        merges = bpe_train(docs, 3)
        out = {r.doc_id: r for r in bpe_apply(docs, merges).collect()}
        assert len(out) == 3
        assert "".join(out[0].bpe_tokens) == "lowlower"
        assert out[0].lang is None
        assert "".join(out[1].bpe_tokens) == "newnewer"
        assert list(out[2].bpe_tokens) == []
