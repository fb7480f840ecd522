"""The shared text-feature layer: k-gram windows, the document-frequency
stop list, the rarity-order prefix and in-row pair generation.

The dedup, text and pipeline operators all build on the same few
devices; each is written once here, and the module owns these
decisions:

- **Window form.** A k-gram window over a token array ``tk`` is
  ``transform(sequence(1, size(tk) - k + 1), i -> concat_ws(' ',
  slice(tk, i, k)))``, guarded by ``size(tk) >= k``: Spark's
  ``sequence(1, n)`` DESCENDS when n < 1, so without the guard a
  document shorter than k would yield grams at positions 1, 0, -1…
  where DuckDB's ``generate_series`` yields none. Grams are
  optionally hashed (``xxhash64``, 8-byte shuffle keys) and optionally
  de-duplicated in-row (``array_distinct`` inside the guard, a free
  narrow map instead of a shuffle). The window is a SQL fragment, not a
  Column: callers embed it in larger expressions (t62 folds it) and
  the whole expression parses in the JVM in one py4j hop.
- **_SHINGLE_K**, the word-shingle width of the dedup family.
- **_STOP_MAX_DF**, the stop-list bound: a shingle present in more than
  this fraction of all documents is boilerplate and is dropped before
  any pair join, because its collision count is quadratic in its
  document frequency.
- **Rarity order.** A document's shingles sort by ascending
  (document frequency, shingle hash) — a total order, since a hash is
  distinct within a document — and its prefix is the first
  ``p = n - ceil(n * tau) + 1`` of its n shingles: two sets with
  Jaccard >= tau share an element inside both prefixes (d52's
  docstring holds the proof).
- **Pair orientation.** Pairs are always ``(a, b)`` with a before b:
  ``doc_a < doc_b`` in the shingle self-join, and for in-row pairs of an
  array, element i with every later element j > i, in array order.

Helpers never persist: whether and how a relation is cached is the
caller's choice (d44 repartitions and materializes its shingle table,
d52 does not persist it, d53 persists once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SHINGLE_K = 3
_STOP_MAX_DF = 0.10  # drop shingles present in >10% of documents


def kgram_window(tk: str = "tk", k: int | str = _SHINGLE_K, *,
                 hashed: bool = False, distinct: bool = False) -> str:
    """SQL for the array of k-grams of token array ``tk`` (``[]`` when
    it has fewer than k tokens). ``k`` is a literal width or the name
    of an int column."""
    last = f"size({tk}) - {k - 1}" if isinstance(k, int) else f"size({tk}) - {k} + 1"
    gram = f"concat_ws(' ', slice({tk}, i, {k}))"
    if hashed:
        gram = f"xxhash64({gram})"
    grams = f"transform(sequence(1, {last}), i -> {gram})"
    if distinct:
        grams = f"array_distinct({grams})"
    return f"CASE WHEN size({tk}) >= {k} THEN {grams} ELSE array() END"


def doc_freq(rows: DataFrame, key: str = "h") -> DataFrame:
    """(key, df): documents per key of a distinct (doc, key) relation."""
    return rows.groupBy(key).agg(F.count(F.lit(1)).alias("df"))


def drop_stop(rows: DataFrame, dfreq: DataFrame, docs: DataFrame,
              key: str = "h") -> DataFrame:
    """``rows`` without the keys whose df in ``dfreq`` exceeds
    _STOP_MAX_DF of the ``docs`` count. The stop list is small by
    construction, so it is broadcast to a left-anti join."""
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    stop = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") > F.col("n_docs") * _STOP_MAX_DF)
        .select(key)
    )
    return rows.join(F.broadcast(stop), key, "left_anti")


def rarity_prefix(rows: DataFrame, dfreq: DataFrame, tau: float) -> DataFrame:
    """(doc_id, hs, n, p): each document's shingle hashes ``hs`` in rarity
    order, their count n and the prefix length p for threshold tau.
    ``rows`` is (doc_id, h), ``dfreq`` is (h, df); a shingle missing
    from ``dfreq`` is dropped."""
    return (
        rows.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("arr"))
        .select(
            "doc_id",
            F.expr("transform(arr, x -> x.h)").alias("hs"),
            F.size("arr").alias("n"),
        )
        .withColumn("p", (F.col("n") - F.ceil(F.col("n") * F.lit(tau)) + 1).cast("int"))
    )


def prefix_rows(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id_col, h): one row per prefix shingle of a rarity_prefix frame."""
    return docs.select(
        F.col("doc_id").alias(id_col), F.explode(F.expr("slice(hs, 1, p)")).alias("h")
    )


def prefix_verified(cand: DataFrame, docs: DataFrame, tau: float,
                    a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """(a, b, n_common, jaccard) for the candidate pairs (a, b) whose
    exact Jaccard over the full rarity_prefix sets reaches tau: one
    in-row array_intersect per candidate, no second shingle shuffle."""
    da = docs.select(F.col("doc_id").alias(a), F.col("hs").alias("hs_a"), F.col("n").alias("na"))
    db = docs.select(F.col("doc_id").alias(b), F.col("hs").alias("hs_b"), F.col("n").alias("nb"))
    nc = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        cand.join(da, a)
        .join(db, b)
        .withColumn("n_common", nc.cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= tau)
        .select(a, b, "n_common", "jaccard")
    )


def overlap_counts(rows: DataFrame, key: str = "h") -> DataFrame:
    """(doc_a, doc_b, n_common) for doc_a < doc_b: shared keys of two
    documents, by an equi-join on the key (never a cross join)."""
    a, b = rows.alias("a"), rows.alias("b")
    return (
        a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def jaccard_pairs(rows: DataFrame, jaccard_min: float, key: str = "h") -> DataFrame:
    """(doc_a, doc_b, n_common, jaccard) for every pair of documents of
    the distinct (doc_id, key) relation ``rows`` with Jaccard >=
    jaccard_min."""
    counts = rows.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ca, cb = counts.alias("ca"), counts.alias("cb")
    jac = F.col("n_common").cast("double") / (F.col("ca.n") + F.col("cb.n") - F.col("n_common"))
    return (
        overlap_counts(rows, key)
        .join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_min)
    )


def in_row_pairs(arr: str, a: str, b: str) -> str:
    """SQL for ``array<struct<a, b>>``: every pair (arr[i], arr[j]) with
    i < j, in order. On a sorted distinct array this is each unordered
    pair once with a < b. ``slice`` starts past element i and its length
    stops at the array end."""
    return (
        f"flatten(transform({arr}, (x, i) -> "
        f"transform(slice({arr}, i + 2, size({arr}) - i - 1), "
        f"y -> struct(x AS {a}, y AS {b}))))"
    )
