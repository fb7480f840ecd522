"""functions/shingles.py against plain-Python references: the k-gram
window (incl. the short-document guard), in-row pairs, the stop list,
the rarity-order prefix and the pair-count Jaccard."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pinot_pulsar_plugin_spark.functions.shingles import (
    _SHINGLE_K,
    _STOP_MAX_DF,
    doc_freq,
    drop_stop,
    in_row_pairs,
    jaccard_pairs,
    kgram_window,
    prefix_rows,
    rarity_prefix,
)

K = _SHINGLE_K
# lengths 0, 1, k-1, k, and longer arrays with repeated tokens (so a
# gram repeats within a row and array_distinct has work to do)
_TOKENS = [
    [],
    ["a"],
    ["a"] * (K - 1),
    [f"t{i}" for i in range(K)],
    ["x", "y", "x", "y", "x", "y", "x"],
    ["a", "a", "a", "a", "a"],
    ["p", "q", "r", "s", "p", "q", "r"],
]


def _grams(tk, k):
    return [" ".join(tk[i : i + k]) for i in range(len(tk) - k + 1)]


def _tokens_frame(spark):
    return spark.createDataFrame(
        [(i, tk) for i, tk in enumerate(_TOKENS)], "id int, tk array<string>"
    )


@pytest.mark.parametrize("k", [1, 2, K, 5])
@pytest.mark.parametrize("distinct", [False, True])
def test_kgram_window_matches_python(spark, k, distinct):
    rows = (
        _tokens_frame(spark)
        .select("id", F.expr(kgram_window(k=k, distinct=distinct)).alias("g"))
        .collect()
    )
    for r in rows:
        want = _grams(_TOKENS[r.id], k)
        if distinct:
            want = list(dict.fromkeys(want))
        assert r.g == want, (r.id, k)
    # below k tokens the window is empty, never the descending sequence
    assert all(r.g == [] for r in rows if len(_TOKENS[r.id]) < k)


@pytest.mark.parametrize("distinct", [False, True])
def test_kgram_window_hashed_is_xxhash64_of_each_gram(spark, distinct):
    got = {
        r.id: r.h
        for r in _tokens_frame(spark)
        .select("id", F.expr(kgram_window(hashed=True, distinct=distinct)).alias("h"))
        .collect()
    }
    for i, tk in enumerate(_TOKENS):
        grams = _grams(tk, K)
        if distinct:
            grams = list(dict.fromkeys(grams))
        want = [
            spark.range(1).select(F.xxhash64(F.lit(g))).first()[0] for g in grams
        ]
        assert got[i] == want, i


def test_kgram_window_takes_k_from_a_column_and_any_array_sql(spark):
    df = spark.createDataFrame(
        [(2, "A b c d"), (3, "a b c d"), (5, "a b c d")], "k int, text string"
    ).withColumn("tk", F.split("text", " "))
    got = {
        r.k: (r.g, r.g2)
        for r in df.select(
            "k",
            F.expr(kgram_window(k="k", distinct=True)).alias("g"),
            F.expr(kgram_window("split(lower(text), ' ')", k=2)).alias("g2"),
        ).collect()
    }
    assert got[2] == (["A b", "b c", "c d"], ["a b", "b c", "c d"])
    assert got[3] == (["a b c", "b c d"], ["a b", "b c", "c d"])
    assert got[5] == ([], ["a b", "b c", "c d"])


def test_in_row_pairs_are_every_i_lt_j_pair_in_order(spark):
    arrays = [list(range(10, 10 + n)) for n in range(6)]
    df = spark.createDataFrame([(n, a) for n, a in enumerate(arrays)], "n int, vs array<int>")
    got = {
        r.n: [(p.a, p.b) for p in r.ps]
        for r in df.select("n", F.expr(in_row_pairs("vs", "a", "b")).alias("ps")).collect()
    }
    for n, a in enumerate(arrays):
        assert got[n] == [(a[i], a[j]) for i in range(n) for j in range(i + 1, n)], n


@pytest.mark.parametrize("tau", [0.5, 0.8])
def test_rarity_prefix_order_and_length(spark, tau):
    # doc d holds shingles 1..d+1 (a distinct hash each), so shingle h
    # has df = number of docs d >= h - 1: higher h is rarer
    rows = [(d, h) for d in range(8) for h in range(1, d + 2)]
    sh = spark.createDataFrame(rows, "doc_id long, h long")
    docs = {r.doc_id: r for r in rarity_prefix(sh, doc_freq(sh), tau).collect()}
    df = {h: sum(1 for _, x in rows if x == h) for h in range(1, 9)}
    for d in range(8):
        hs = list(range(1, d + 2))
        want = sorted(hs, key=lambda h: (df[h], h))
        n = len(hs)
        assert docs[d].hs == want
        assert docs[d].n == n
        assert docs[d].p == n - math.ceil(n * tau) + 1
    pref = {}
    for r in prefix_rows(rarity_prefix(sh, doc_freq(sh), tau), "d_id").collect():
        pref.setdefault(r.d_id, []).append(r.h)
    for d in range(8):
        assert sorted(pref[d]) == sorted(docs[d].hs[: docs[d].p])


def test_drop_stop_bound_is_strictly_greater(spark):
    # 20 docs; key 7 in 3 of them (15% > 10%) is a stop key, key 8 in
    # exactly 2 (10%, not above the bound) survives
    docs = spark.range(20).withColumnRenamed("id", "doc_id")
    n_at_bound = int(20 * _STOP_MAX_DF)
    rows = [(d, 7) for d in range(n_at_bound + 1)] + [(d, 8) for d in range(n_at_bound)]
    sh = spark.createDataFrame(rows, "doc_id long, h long")
    kept = drop_stop(sh, doc_freq(sh), docs)
    assert sorted(r.h for r in kept.collect()) == [8] * n_at_bound


def test_jaccard_pairs_match_python(spark):
    sets = {0: {1, 2, 3}, 1: {2, 3, 4}, 2: {9}, 3: {1, 2, 3}}
    rows = [(d, f) for d, s in sets.items() for f in s]
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in jaccard_pairs(
            spark.createDataFrame(rows, "doc_id long, f long"), 0.4, key="f"
        ).collect()
    }
    want = {}
    for a in sets:
        for b in sets:
            nc = len(sets[a] & sets[b])
            if a < b and nc:
                j = nc / (len(sets[a]) + len(sets[b]) - nc)
                if j >= 0.4:
                    want[(a, b)] = (nc, j)
    assert got == want
