"""Deduplication operators for training-data pipelines.

Five strategies, each a ``queries()`` entry over ``documents`` /
``embeddings`` (BASELINE.json north star):

- d43 exact dedup           — hash-groupBy on content digest (oracle)
- d44 n-gram Jaccard        — exact shingle-overlap pairs (oracle)
- d45 MinHash + LSH banding — probabilistic near-dup candidates
- d46 SimHash + band bucket — Hamming-distance near-dup candidates
- d47 embedding cosine      — exact pairwise semantic near-dups (oracle)

Scale design (100 TB): the exact pairwise ops (d44 inner join on
shingles, d47 self-join) are written so their joins key on content
(shingle / bucket), never a cross join: candidate generation is
``explode → shuffle on key → join within key`` whose cost tracks the
number of *colliding* pairs, not n². MinHash/SimHash are the designed
scale path — signatures are fixed-width (64 mins / 48 bits) regardless
of document size, bands shuffle by (band, signature) so only true
collisions ever meet, and thresholds are tunable per corpus.

Thresholds here are tuned DOWN for the driver's synthetic corpus (500
near-orthogonal docs, mean pairwise Jaccard ≈ 0.005) so the operators
emit non-trivial output; a real near-dup pipeline would run bands=8x8
and jaccard ≥ 0.8.
"""

from __future__ import annotations

from pinot_pulsar_plugin_spark.caching import persist_materialized, persist_once

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinot_pulsar_plugin_spark.functions.exact import fold_dot, fold_dot_sql
from pinot_pulsar_plugin_spark.functions.shingles import (
    _SHINGLE_K,
    _STOP_MAX_DF,
    doc_freq,
    drop_stop,
    in_row_pairs,
    jaccard_pairs,
    kgram_window,
    overlap_counts,
    prefix_rows,
    prefix_verified,
    rarity_prefix,
)
from pinot_pulsar_plugin_spark.operators.common import make_registry, t

QUERIES, ORACLE, query = make_registry()


@query(
    "d43_dedup_exact",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def d43_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize (lower, collapse whitespace) → md5 →
    group. The canonical representative is min(doc_id) — deterministic,
    unlike dropDuplicates. At 100 TB this is one shuffle on a 16-byte
    digest with map-side partial aggregation."""
    d = t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        d.groupBy(F.md5(norm).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_JACCARD_MIN = 0.01  # tuned for the near-orthogonal synthetic corpus


@query(
    "d44_ngram_jaccard_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    sh_idx AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk) - {_SHINGLE_K - 1})) AS i
      FROM toks),
    shingles AS (
      SELECT DISTINCT doc_id,
             tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' ||
             tk[CAST(i AS INT) + 2] AS s
      FROM sh_idx),
    stop AS (
      SELECT s FROM shingles GROUP BY s
      HAVING COUNT(*) > (SELECT COUNT(*) FROM documents) * {_STOP_MAX_DF}),
    kept AS (
      SELECT * FROM shingles WHERE s NOT IN (SELECT s FROM stop)),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b, i.n_common,
           CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.doc_a
    JOIN counts cb ON cb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= {_JACCARD_MIN}
    """,
)
def d44_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs over stop-filtered
    shingle sets.

    Candidate pairs come from an equi-join on the shingle itself (never
    a cross join): cost scales with shingle collisions. Hot shingles
    (boilerplate) are THE skew risk at 100 TB — a shingle present in a
    large fraction of documents is a single join key whose collision
    count is quadratic in its document frequency, and AQE skew-split
    alone still has to materialize those pairs. So stop-shingles are
    dropped by document frequency BEFORE the self-join: one map-side-
    combinable aggregation over the shingle table finds shingles with
    df > {_STOP_MAX_DF:.0%} of the corpus, and a broadcast anti-join
    removes them from the sets (semantics: Jaccard over stop-filtered
    shingle sets, identically on the oracle side). The stop list is
    tiny by construction (few shingles can exceed a corpus-fraction
    bound), so the anti-join never shuffles the shingle table.

    Shuffle-width optimization: every downstream key is the 8-byte
    xxhash64 of the shingle, never the ~25-byte shingle string — the
    distinct, the stop-list aggregation, and both self-join sides
    shuffle (doc_id bigint, h bigint) rows only. Exact modulo 64-bit
    hash collisions (a spurious intersection needs two distinct
    co-occurring shingles to collide: P ≈ pairs·2⁻⁶⁴); the oracle stays
    string-exact, so parity itself verifies collision-freedom on the
    scored corpus."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
    # the distinct shingle-hash set feeds four consumers (stop-list agg,
    # both join sides, per-doc counts): persist so it computes once.
    # Per-(doc,shingle) distinct happens INSIDE the row via
    # array_distinct before the explode — a free narrow map — so no
    # shuffle is ever spent on deduplication.
    shingles = (
        toks.select(
            "doc_id", F.explode(F.expr(kgram_window(hashed=True, distinct=True))).alias("h")
        )
        # r13: cache the shingle table PRE-PARTITIONED on the shingle
        # hash — the stop-list aggregate and both self-join legs all
        # require hashpartitioning(h), so the cached partitioning is
        # reused and the corpus-sized relation shuffles ONCE at cache
        # build instead of per consumer (plan: 11 → 9 exchanges; warm
        # exec flat locally at sf0.1, 2 fewer corpus shuffles at
        # scale — this is what materializing a signature table
        # partitioned by key does in a 100 TB pipeline)
        .repartition("h")
        .transform(persist_materialized)
    )
    # materialized at persist (owned-only count, r13): the stop-list
    # aggregate, the per-doc counts and both join sides otherwise race
    # the cache fill and re-run the tokenize+xxhash explode (r8 rule)
    kept = drop_stop(shingles, doc_freq(shingles), d)
    return jaccard_pairs(kept, _JACCARD_MIN)


_MINHASH_PERMS = 64
_MERSENNE = (1 << 31) - 1
_rng = random.Random(42)
_PERM_A = [_rng.randrange(1, _MERSENNE) for _ in range(_MINHASH_PERMS)]
_PERM_B = [_rng.randrange(0, _MERSENNE) for _ in range(_MINHASH_PERMS)]
_BAND_ROWS = 2  # 32 bands of 2 — tuned for the low-similarity corpus


@query("d45_minhash_lsh_candidates")  # probabilistic → rows-only check
def d45_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (64 perms) + LSH banding near-dup candidates.

    Pipeline: shingle → xxhash64 → 64 universal-hash mins per doc →
    band signatures → explode bands → self-join on (band, signature) →
    estimated Jaccard = matching mins / 64. This is the designed scale
    path for near-dedup at 100 TB: signatures are constant-width, and
    the only shuffle keys are band signatures, so work tracks true
    collisions. No SQL oracle (hash-seed specific); determinism is
    guaranteed by fixed seeds and checked by the rows-only gate.
    """
    d = t(spark, sf_dir, "documents")
    # Hash each token once, then combine token hashes arithmetically per
    # shingle — no per-shingle string materialization (k× cheaper than
    # concat_ws+hash at every position). No distinct either: min over a
    # multiset equals min over its set, so a dedup shuffle is overhead.
    toks = d.select(
        "doc_id",
        F.expr(
            f"transform(split(lower(text), ' '), w -> pmod(xxhash64(w), {_MERSENNE}L))"
        ).alias("th"),
    )
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(th) >= {_SHINGLE_K} THEN "
                f"transform(sequence(1, size(th) - {_SHINGLE_K - 1}), "
                f"i -> pmod(th[i-1] * 1000003L + th[i] * 8191L + th[i+1], {_MERSENNE}L)) "
                f"ELSE array() END"
            )
        ).alias("h"),
    )
    # The 64 per-permutation MIN aggregates and the band structs are
    # emitted as ONE SQL string each (r13): building them as nested
    # pyspark Column calls cost ~5,000 py4j round trips (~1s of driver
    # time PER BUILD, measured via cProfile — the bench pays it on
    # every sample, and a real pipeline pays it per job submission);
    # one F.expr parses in the JVM in one hop. The parsed expression
    # tree — and therefore the arithmetic and the result — is identical
    # (pmod/xxhash64 over the same operand types and order).
    mins_sql = "array(" + ", ".join(
        f"min(pmod(h * {_PERM_A[i]}L + {_PERM_B[i]}L, {_MERSENNE}L))"
        for i in range(_MINHASH_PERMS)
    ) + ")"
    # Signatures are referenced four times (both sides of the band
    # self-join + both verification rejoins); persist so the 64-way
    # min-agg runs once — the local analog of materializing a signature
    # table, which is what a 100 TB pipeline does between stages.
    sig = (
        shingles.groupBy("doc_id")
        .agg(F.expr(mins_sql).alias("mh"))
        .transform(persist_once)
    )
    n_bands = _MINHASH_PERMS // _BAND_ROWS
    # band join carries only (doc_id, band, sig) — the 64-wide signature
    # arrays rejoin AFTER pair dedup, so the shuffle stays narrow and
    # the verification cost tracks the (few) candidates, not the corpus
    bands_sql = "array(" + ", ".join(
        "struct({i} AS band, xxhash64({i}, {els}) AS sig)".format(
            i=i,
            els=", ".join(
                f"element_at(mh, {i * _BAND_ROWS + j + 1})"
                for j in range(_BAND_ROWS)
            ),
        )
        for i in range(n_bands)
    ) + ")"
    bands = sig.select(
        "doc_id", F.explode(F.expr(bands_sql)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ma = sig.select(F.col("doc_id").alias("doc_a"), F.col("mh").alias("mh_a"))
    mb = sig.select(F.col("doc_id").alias("doc_b"), F.col("mh").alias("mh_b"))
    est = F.aggregate(
        F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / float(_MINHASH_PERMS)
    return (
        cand.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
    )


_SIMHASH_BITS = 48
_SIM_BANDS = 4  # 4 bands of 12 bits
_HAMMING_MAX = 20  # tuned for the near-orthogonal corpus


@query("d46_simhash_candidates")  # hash-seed specific → rows-only check
def d46_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 48-bit fingerprint from token hashes, banded
    into 4×12-bit buckets for candidate generation, verified by Hamming
    distance (xor + bit_count). Fixed-width state, bucket-keyed joins —
    same scale shape as MinHash-LSH."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).withColumn("h", F.xxhash64("w"))
    # per bit: sum(+1 if bit set else -1); fingerprint bit = sign
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(_SIMHASH_BITS)
        ]
    )
    fp = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(0)
                for i in range(_SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("fp"),
    )
    band_bits = _SIMHASH_BITS // _SIM_BANDS
    bands = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("fp", i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("key"),
                    )
                    for i in range(_SIM_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "fp", "bs.band", "bs.key")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= _HAMMING_MAX)
    )


_COS_MIN = 0.30  # tuned: random 64-dim vectors, max pairwise cos ≈ 0.38


@query(
    "d47_embedding_neardup",
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt({fold_dot_sql("embedding", "embedding")}) AS nrm
      FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {fold_dot_sql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {fold_dot_sql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= {_COS_MIN}
    """,
)
def d47_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (the correctness baseline
    the LSH paths approximate). Dot products are sequential double
    folds — bit-identical to the DuckDB oracle.

    Scale note: this O(n²) form is the small-SF verification oracle
    ONLY — its nested-loop self-join must never run at scale. The
    production path is :func:`d48_embedding_neardup_lsh`, which runs
    the identical exact cosine but only on LSH bucket-mates; d48 is the
    bench-tracked entry, d47 stays at oracle duty (sf<=0.01)."""
    em = t(spark, sf_dir, "embeddings")
    n = em.select(
        "vec_id", "embedding", F.sqrt(fold_dot("embedding", "embedding")).alias("nrm")
    )
    a = n.alias("a")
    b = n.alias("b")
    cos = fold_dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= _COS_MIN)
    )


_D48_TABLES = 4  # independent bit-sampling tables
_D48_BITS = 5  # 32 buckets per table; table t samples dims t*5 .. t*5+4


def _d48_bucket_sql(tbl: int) -> str:
    terms = " + ".join(
        f"CASE WHEN embedding[{tbl * _D48_BITS + j + 1}] > 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(_D48_BITS)
    )
    return f"SELECT vec_id, {tbl} AS tbl, ({terms}) AS bucket FROM embeddings"


@query(
    "d48_embedding_neardup_lsh",
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt({fold_dot_sql("embedding", "embedding")}) AS nrm
      FROM embeddings),
    buck AS ({" UNION ALL ".join(_d48_bucket_sql(t) for t in range(_D48_TABLES))}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buck a JOIN buck b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT c.vec_a, c.vec_b,
           {fold_dot_sql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
    FROM cand c
    JOIN n a ON a.vec_id = c.vec_a
    JOIN n b ON b.vec_id = c.vec_b
    WHERE {fold_dot_sql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= {_COS_MIN}
    """,
)
def d48_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed exact-rerank near-dup: the scale companion to d47.

    Candidates come from multi-table bit-sampling LSH — table ``t``'s
    5-bit signature is the sign pattern of dimensions ``5t..5t+4``
    (axis-aligned hyperplanes; for isotropic embeddings these behave
    like random planes, and unlike s49's sampled gaussian planes the
    bucket function is plain SQL, so the WHOLE pipeline is
    oracle-checked, not rows-only). The exact sequential-fold cosine —
    the same expression as d47 — runs only on bucket-mates.

    Scale shape (100 TB): signature computation is a per-row map (no
    shuffle); candidate generation shuffles (vec_id, tbl, bucket) only
    — signatures are 5 bits, never the 64-dim vectors; the embedding
    vectors rejoin AFTER pair-dedup, so the wide rows move only for
    true candidates. Recall/selectivity tune with tables x bits (more
    bits → smaller buckets → fewer exact cosines), never an all-pairs
    product. d47 remains the exhaustive-recall oracle at sf<=0.01."""
    em = t(spark, sf_dir, "embeddings")
    n = em.select(
        "vec_id", "embedding", F.sqrt(fold_dot("embedding", "embedding")).alias("nrm")
    )
    buck = em.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ti).alias("tbl"),
                        sum(
                            [
                                F.when(
                                    F.element_at("embedding", ti * _D48_BITS + j + 1) > 0,
                                    F.lit(1 << j),
                                ).otherwise(0)
                                for j in range(_D48_BITS)
                            ],
                            F.lit(0),
                        ).alias("bucket"),
                    )
                    for ti in range(_D48_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    # r14 (guide §2, the q109 device): candidate pairs are generated
    # IN-ROW per (tbl, bucket) group — sorted vec_id list, (i < j)
    # struct pairs — instead of the bucket self-join. The join form
    # broadcast-hashed 20k bucket rows against themselves and streamed
    # ~1.5M matched rows through the probe; the in-row form reaches the
    # same raw pairs from one 128-group aggregate, and sort_array keeps
    # the (vec_a < vec_b) orientation identical. Pair dedup across
    # tables stays the same combinable aggregate. Bucket width is
    # bounded by the bits/tables dials (more bits → smaller buckets),
    # so the per-group pair fan-out scales with the TUNING, not the
    # corpus — same contract the self-join form relied on for its
    # bucket sizes. Measured at sf0.1 (with the mapInArrow rerank
    # below): 1.24 → 1.13 s, frame-equal.
    grp = buck.groupBy("tbl", "bucket").agg(
        F.sort_array(F.collect_list("vec_id")).alias("vs")
    )
    cand = (
        grp.select(
            F.explode(F.expr(in_row_pairs("vs", "vec_a", "vec_b"))).alias("p")
        )
        .select("p.vec_a", "p.vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    na = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    nb = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    # r13: the exact rerank is the same sequential-fold cosine,
    # vectorized ACROSS pairs through Arrow (guide §4). r14: the
    # pandas_udf became a mapInArrow kernel — the per-row Python list
    # conversion is gone (ListArray.flatten reads the float buffer
    # directly) and a zero-norm pair now yields NULL cosine exactly
    # like the SQL divide it replaced (ADVICE r13 #1). Bit-identical
    # fold order preserved; see functions/vectorized.py.
    from pinot_pulsar_plugin_spark.functions.vectorized import cos_rerank

    wide = (
        cand.join(na, "vec_a")
        .join(nb, "vec_b")
        .select("vec_a", "vec_b", "emb_a", "emb_b", "nrm_a", "nrm_b")
    )
    return cos_rerank(wide).filter(F.col("cosine") >= _COS_MIN)

_D52_TAU = 0.5


@query(
    "d52_prefix_filter_jaccard",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    sh_idx AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk) - {_SHINGLE_K - 1})) AS i
      FROM toks),
    shingles AS (
      SELECT DISTINCT doc_id,
             tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' ||
             tk[CAST(i AS INT) + 2] AS s
      FROM sh_idx),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b, i.n_common,
           CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.doc_a
    JOIN counts cb ON cb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= {_D52_TAU}
    """,
)
def d52_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-threshold exact Jaccard join via PREFIX FILTERING (the
    AllPairs / PPJoin family: Bayardo et al. WWW'07, Xiao et al.
    WWW'08) — the production-scale companion to d44.

    d44 indexes EVERY shingle, so its candidate volume tracks total
    shingle collisions; correct at any threshold but wasteful at the
    high thresholds real near-dup dedup runs at. Prefix filtering uses
    the threshold itself to prune: under a global rarity order
    (ascending document frequency, shingle-hash tiebreak — a total
    order), two sets with J >= tau MUST share an element inside their
    first n - ceil(tau*n) + 1 elements. Proof (min shared element s:
    if s were outside a's prefix, a would have >= n_a - ceil(tau*n_a)
    + 1 non-shared elements, capping overlap at ceil(tau*n_a) - 1 <
    tau*n_a <= overlap — contradiction; symmetric for b). So indexing
    ONLY prefixes has full recall — this is exact pruning, not an
    approximation, which is why the oracle is the plain exact join at
    the same threshold.

    Scale shape (100 TB): at tau=0.5 only the rarest ~half of each
    document's shingles are indexed, and because the order is
    rarity-first, the indexed tokens are precisely the ones with the
    FEWEST collisions — boilerplate hot shingles land in suffixes and
    never generate candidates (they did in d44, which needed the
    stop-list for the same reason). The prefix join carries bare
    (doc_id, h) pairs; full shingle-hash arrays rejoin only for
    deduplicated candidate pairs, and the exact intersection is a
    per-row array_intersect — no second shingle-level shuffle. One
    groupBy(h) for document frequencies, one groupBy(doc_id) for the
    sorted arrays, one prefix equi-join: three narrow shuffles total.
    """
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
    sh = toks.select(
        "doc_id", F.explode(F.expr(kgram_window(hashed=True, distinct=True))).alias("h")
    )
    docs = rarity_prefix(sh, doc_freq(sh), _D52_TAU).transform(persist_once)
    pref = prefix_rows(docs)
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "h")
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return prefix_verified(cand, docs, _D52_TAU)


_SPAN_K = 8  # tokens per span — Lee et al. use 50 BPE tokens at corpus
# scale; 8 keeps the synthetic sf corpora (10-99 token docs) meaningful


@query(
    "d53_dup_span_fraction",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    sp AS (
      SELECT doc_id,
             array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + {_SPAN_K - 1}], ' ') AS s
      FROM toks, unnest(generate_series(1, len(tk) - {_SPAN_K - 1})) AS u(i)),
    tot AS (SELECT s, COUNT(*) AS c FROM sp GROUP BY s),
    dup AS (
      SELECT doc_id, COUNT(*) AS n_dup
      FROM sp JOIN tot USING (s) WHERE c >= 2
      GROUP BY doc_id),
    base AS (
      SELECT doc_id,
             CAST(GREATEST(len(tk) - {_SPAN_K - 1}, 0) AS BIGINT) AS n_spans
      FROM toks)
    SELECT b.doc_id, b.n_spans,
           COALESCE(d.n_dup, 0) AS n_dup_spans,
           CASE WHEN b.n_spans > 0
                THEN CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / b.n_spans
                ELSE 0.0 END AS dup_frac
    FROM base b LEFT JOIN dup d USING (doc_id)
    """,
)
def d53_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection, the document-level form of
    suffix-array training-data dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): a k-token span is
    duplicated if it occurs ≥2 times ANYWHERE in the corpus (another
    document or a repeat within the same one), and each document is
    scored by the fraction of its spans that are duplicated — the
    signal used to strip boilerplate/templated text before training.

    Unlike d44/d52 (set-similarity between document PAIRS) this is a
    per-occurrence corpus frequency problem, so the plan never forms
    pairs and has no quadratic term anywhere: a hot boilerplate span
    contributes its occurrence count linearly.

    Scale shape: spans hash to 8 bytes in the row (xxhash64 over the token
    slice, multiplicity preserved — no array_distinct, occurrences ARE
    the signal); one combinable count on h; the span table rejoins the
    count on h (both sides exchange on h, AQE skew-split covers hot
    spans); one combinable per-doc count; broadcast-size left join back
    to the doc spine for zero-span docs. Every shuffled row is ≤16
    bytes. The string-exact oracle doubles as the hash-collision check
    (same argument as d44)."""
    return span_dup_fractions(t(spark, sf_dir, "documents"), _SPAN_K)


def span_dup_fractions(d: DataFrame, k: int) -> DataFrame:
    """d53's span-frequency scoring over any (doc_id, text) frame —
    factored out so the property suite can drive it on adversarial
    boilerplate corpora against a brute-force reference."""
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
    spans = toks.select(
        "doc_id", F.explode(F.expr(kgram_window(k=k, hashed=True))).alias("h")
    ).transform(persist_once)
    tot = spans.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    dup = (
        spans.join(tot.where(F.col("c") >= 2), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    base = toks.select(
        "doc_id",
        F.greatest(F.expr(f"size(tk) - {k - 1}"), F.lit(0)).cast("long").alias("n_spans"),
    )
    return base.join(dup, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce("n_dup", F.lit(0)).alias("n_dup_spans"),
        F.when(
            F.col("n_spans") > 0,
            F.coalesce("n_dup", F.lit(0)).cast("double") / F.col("n_spans"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


_WINNOW_JACCARD_MIN = 0.25


@query(
    "d54_winnow_neardup_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    vals AS (
      SELECT doc_id, list_transform(tk,
               t -> (CAST(ascii(t) AS BIGINT) * 65599
                     + CAST(length(t) AS BIGINT) * 31
                     + CAST(ascii(reverse(t)) AS BIGINT)) % 1000003) AS v
      FROM toks),
    roll AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 list_zip(list_transform(list_zip(v, v[2:]),
                     p -> CASE WHEN p[2] IS NULL THEN NULL
                          ELSE p[1] * 256 + p[2] END), v[3:]),
                 q -> CASE WHEN q[1] IS NULL OR q[2] IS NULL THEN NULL
                      ELSE (q[1] * 256 + q[2]) % 1000003 END),
               x -> x IS NOT NULL) AS h
      FROM vals),
    winnow AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 list_zip(
                   list_transform(list_zip(h, h[2:]),
                     p -> CASE WHEN p[2] IS NULL THEN NULL
                          ELSE least(p[1], p[2]) END),
                   list_transform(list_zip(h, h[2:]),
                     p -> CASE WHEN p[2] IS NULL THEN NULL
                          ELSE least(p[1], p[2]) END)[3:]),
                 q -> CASE WHEN q[1] IS NULL OR q[2] IS NULL THEN NULL
                      ELSE least(q[1], q[2]) END),
               x -> x IS NOT NULL) AS m
      FROM roll),
    fp AS (SELECT DISTINCT doc_id, unnest(list_distinct(m)) AS f FROM winnow),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM fp GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b, i.n_common,
           CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.doc_a
    JOIN counts cb ON cb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common)
            >= {_WINNOW_JACCARD_MIN}
    """,
)
def d54_winnow_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over WINNOWED fingerprint sets (MOSS scheme) —
    the sampled complement to d44's exhaustive shingle Jaccard: the
    winnowing selection keeps ~1/(w/2) of the rolling hashes yet
    guarantees any shared token run of length ≥ k+w-1 still yields a
    shared fingerprint, so long-plagiarism pairs survive sampling while
    the join input shrinks ~2-4× (10.1k fingerprints vs 22.6k raw
    shingles on the sf0.01 corpus).

    Plan shape is d44's with the sampling applied before any shuffle:
    the selection is a pure in-row array expression (t59's
    winnow_selection, zero explode until the fingerprint table), then
    per-doc counts, a fingerprint equi-join (never a cross join), and
    the Jaccard filter. Fingerprint document frequency is winnow-
    bounded (max df 6 on this corpus); a boilerplate-heavy corpus
    would add d44's stop-list broadcast anti-join unchanged.

    Scale shape: only narrow keys (f, doc_id, doc_a) are exchanged,
    and the sampling shrinks the join input before the first one."""
    return winnow_pairs(t(spark, sf_dir, "documents"), _WINNOW_JACCARD_MIN)


def winnow_pairs(d: DataFrame, jaccard_min: float) -> DataFrame:
    """d54's fingerprint pair join over any (doc_id, text) frame —
    factored out so the property suite can drive it on planted
    edit-mutated near-duplicates (the winnowing guarantee: one token
    edit destroys only the fingerprints whose window covers it)."""
    from pinot_pulsar_plugin_spark.operators.textops import winnow_selection

    _, m = winnow_selection(F.split(F.lower("text"), " "))
    fp = d.select("doc_id", F.explode(F.array_distinct(m)).alias("f")).transform(persist_once)
    return jaccard_pairs(fp, jaccard_min, key="f")


_INC_JACCARD_MIN = 0.5  # incremental ingest drops only near-identical docs


@query(
    "d55_incremental_dedup",
    f"""
    WITH delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
    corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    exacts AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        AS sig FROM corpus),
    toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    sh_idx AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk) - {_SHINGLE_K - 1})) AS i
      FROM toks),
    shingles AS (
      SELECT DISTINCT doc_id,
             tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' ||
             tk[CAST(i AS INT) + 2] AS s
      FROM sh_idx),
    stop AS (
      SELECT s FROM shingles GROUP BY s
      HAVING COUNT(*) > (SELECT COUNT(*) FROM documents) * {_STOP_MAX_DF}),
    kept AS (SELECT * FROM shingles WHERE s NOT IN (SELECT s FROM stop)),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d_id, b.doc_id AS c_id, COUNT(*) AS n_common
      FROM kept a JOIN kept b ON a.s = b.s
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      GROUP BY 1, 2),
    near AS (
      SELECT DISTINCT i.d_id FROM inter i
      JOIN counts ca ON ca.doc_id = i.d_id
      JOIN counts cb ON cb.doc_id = i.c_id
      WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common)
            >= {_INC_JACCARD_MIN})
    SELECT d.doc_id,
           md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')))
             IN (SELECT sig FROM exacts) AS exact_dup,
           d.doc_id IN (SELECT d_id FROM near) AS near_dup,
           md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')))
             NOT IN (SELECT sig FROM exacts)
             AND d.doc_id NOT IN (SELECT d_id FROM near) AS keep
    FROM delta d
    """,
)
def d55_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: screen a DELTA of incoming documents
    (odd doc_ids stand in for the new batch) against the EXISTING corpus
    (even doc_ids) — exact content hash first, then word-3-gram Jaccard
    >= {_INC_JACCARD_MIN} — emitting a per-document verdict
    (exact_dup / near_dup / keep). This is the op a continuously-fed
    training pipeline actually runs: at 100 TB you never re-dedup the
    corpus, you join the (small) delta against it.

    Scale shape, and why it beats rerunning d44: every join is
    DELTA-driven and asymmetric — the shingle equi-join pairs only
    delta x corpus (never corpus x corpus, which is the quadratic term
    a full rerun pays); in production the corpus side (the per-doc
    sorted prefix index below) is the precomputed persisted index, so
    the incremental cost is |delta| prefixes joined into it.
    The shared stop list (functions/shingles.py ``drop_stop``, the
    same skew guard d44 and t87 use, identical semantics on both
    engines) caps hot-key collisions; all shingle keys are 8-byte
    xxhash64 (d44's shuffle-width argument; the string-exact oracle
    doubles as the collision check). The window, the rarity order, the
    prefix and the in-row verification are the shared helpers d52
    uses (``kgram_window``, ``rarity_prefix``, ``prefix_rows``,
    ``prefix_verified``).

    r14 (guide §2/§3, VERDICT r13 #1): the delta×corpus collision join
    now runs under d52's PREFIX FILTER — exact pruning, not an
    approximation, legal here because the verdict threshold is high
    (tau = {_INC_JACCARD_MIN}). Per-doc shingle sets are sorted by the
    global rarity order (ascending document frequency, hash tiebreak —
    a total order), and only each document's first
    n - ceil(tau*n) + 1 shingles are indexed: any pair with
    J >= tau MUST collide inside both prefixes (d52's docstring holds
    the proof), so recall is complete by construction. Candidates are
    then verified by an in-row array_intersect over the full sorted
    sets — the per-pair intersection count is computed once per
    CANDIDATE instead of counting every shingle collision through a
    pair-keyed aggregate. At tau=0.5 only ~half of each document's
    shingles are indexed, and they are precisely the LEAST colliding
    ones, so the join input and the pair fanout both collapse
    (measured at sf0.1: 632,754 delta×corpus collision rows -> 214,880
    prefix-collision rows, and the pair-keyed count aggregate over
    them is replaced by one in-row intersect per distinct candidate;
    min-of-4 exec 1.24-1.32 s -> 0.71 s; frame-equal, oracle parity
    green). The former pair-count aggregate (n_common via
    groupBy(d_id, c_id)) is gone entirely."""
    d = t(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % 2 == 1
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    sig = F.md5(norm)

    corpus_sigs = (
        d.filter(~is_delta).select(sig.alias("sig")).distinct()
    )
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
    shingles = (
        toks.select(
            "doc_id", F.explode(F.expr(kgram_window(hashed=True, distinct=True))).alias("h")
        )
        # r13 (the d44 rule): cache pre-partitioned on the shingle hash
        # — the df aggregate and the df-attach join both hash-partition
        # on h, so the cached partitioning is reused and the shingle
        # relation shuffles once at cache build, not per consumer
        .repartition("h")
        .transform(persist_materialized)
    )
    # materialized at persist (owned-only count, r13): the df aggregate
    # and the df-attach join otherwise race the cache fill and re-run
    # the tokenize+xxhash explode (r8 rule). The shared stop filter
    # folds into the document-frequency relation — kept shingles carry
    # their df so the rarity sort needs no second pass
    dfreq = doc_freq(shingles)
    keep_freq = drop_stop(dfreq, dfreq, d)
    # per-doc shingle array in the shared rarity order, with n and the
    # prefix bound p. Both join inputs are h-partitioned (cache +
    # derived aggregate), so the df-attach join needs no exchange.
    docs = rarity_prefix(shingles, keep_freq, _INC_JACCARD_MIN).transform(
        persist_materialized
    )
    pref_d = prefix_rows(docs.filter(F.col("doc_id") % 2 == 1), "d_id")
    pref_c = prefix_rows(docs.filter(F.col("doc_id") % 2 == 0), "c_id")
    cand = pref_d.join(pref_c, "h").select("d_id", "c_id").dropDuplicates()
    # exact verification: |A ∩ B| over the full stop-filtered sets —
    # identical to the former collision-count aggregate (the arrays
    # hold exactly the kept distinct shingle hashes per doc)
    near = (
        prefix_verified(cand, docs, _INC_JACCARD_MIN, "d_id", "c_id")
        .select("d_id")
        .distinct()
    )
    delta = d.filter(is_delta).select("doc_id", sig.alias("d_sig"))
    flagged = (
        delta.join(
            F.broadcast(corpus_sigs.withColumn("_e", F.lit(True))),
            F.col("d_sig") == F.col("sig"),
            "left",
        )
        .join(
            near.withColumn("_n", F.lit(True)),
            F.col("doc_id") == F.col("d_id"),
            "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("_e"), F.lit(False)).alias("exact_dup"),
            F.coalesce(F.col("_n"), F.lit(False)).alias("near_dup"),
            (F.col("_e").isNull() & F.col("_n").isNull()).alias("keep"),
        )
    )
    return flagged


# ---------------------------------------------------------------------------
# d56: chunk-level exact dedup with document REWRITE
# ---------------------------------------------------------------------------
#
# d53 measures how much of a document is duplicated; this operator
# actually removes it — the "exact substring deduplication" rewrite of
# Lee et al. at fixed-chunk granularity (the form ExactSubstr dedup
# takes when the corpus is chunked instead of suffix-array indexed):
# split every document into consecutive W-token chunks, keep only the
# corpus-wide FIRST occurrence of each distinct chunk (first = smallest
# (doc_id, chunk_pos)), and re-emit each document as the concatenation
# of its surviving chunks in original order.

_CHUNK_W = 20  # tokens per rewrite chunk


@query(
    "d56_chunk_rewrite_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    chunks AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos,
             array_to_string(
               list_slice(tk, CAST(i AS INTEGER) * {_CHUNK_W} + 1,
                              CAST(i AS INTEGER) * {_CHUNK_W} + {_CHUNK_W}),
               ' ') AS chunk
      FROM toks,
           unnest(generate_series(
             0, CAST(CEIL(len(tk) / {_CHUNK_W}.0) AS BIGINT) - 1)) AS u(i)),
    ranked AS (
      SELECT doc_id, pos, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk
                                ORDER BY doc_id, pos) AS rn
      FROM chunks),
    kept AS (SELECT doc_id, pos, chunk FROM ranked WHERE rn = 1),
    rebuilt AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id),
    spine AS (
      SELECT doc_id,
             CAST(CEIL(len(tk) / {_CHUNK_W}.0) AS BIGINT) AS n_chunks
      FROM toks)
    SELECT s.doc_id, s.n_chunks,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.clean_text, '') AS clean_text
    FROM spine s LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def d56_chunk_rewrite_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup that REWRITES documents: every W-token
    chunk that already occurred earlier in the corpus (smaller doc_id,
    or same doc at an earlier position) is deleted, and the document is
    re-emitted as its surviving chunks joined in order — the operator a
    training pipeline runs to strip repeated boilerplate while keeping
    the novel remainder of each page, where d43 (whole-doc) would drop
    or keep documents wholesale.

    Shape, designed so chunk TEXT crosses the wire the minimum number of
    times: winner election runs on narrow (xxhash64(chunk), doc_id, pos)
    triples — ≤24-byte rows through the hash exchange, min(struct) is a
    map-side-combinable aggregate (NOT a row_number window, which would
    shuffle whole chunk rows); the winner set joins back to the chunk
    rows on (doc_id, pos); the rebuild groups on doc_id with an in-row
    sorted array_join. Chunk text is shuffled exactly twice (join +
    rebuild) — at 100 TB those are the unavoidable data-motion steps of
    any rewriting dedup; everything else is metadata. A hot boilerplate
    chunk costs one counter in the combinable min, never a pair
    explosion. The string-exact oracle doubles as the hash-collision
    check (same argument as d44/d53)."""
    return chunk_rewrite(t(spark, sf_dir, "documents"), _CHUNK_W)


def chunk_rewrite(d: DataFrame, w: int) -> DataFrame:
    """d56's rewrite over any (doc_id, text) frame — factored out so
    the property suite can drive it on adversarial boilerplate corpora
    against a brute-force reference."""
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    n_chunks = F.ceil(F.size("tk") / float(w)).cast("long")
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
                lambda i: F.array_join(
                    F.slice(F.col("tk"), i * w + 1, w), " "
                ),
            )
        ).alias("pos", "chunk"),
    )
    narrow = chunks.select(
        F.xxhash64("chunk").alias("h"), F.struct("doc_id", "pos").alias("occ")
    )
    winners = (
        narrow.groupBy("h")
        .agg(F.min("occ").alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"), F.col("w.pos").alias("pos"))
    )
    kept = chunks.join(winners, ["doc_id", "pos"])
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    spine = toks.select("doc_id", n_chunks.alias("n_chunks"))
    return spine.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# --- d57: MinHash Jaccard ESTIMATOR with exact ground truth ---------
#
# d45 is the production MinHash+LSH candidate generator — rows-only
# checkable because its xxhash64 permutations have no DuckDB
# counterpart. d57 is the missing instrument: the SAME estimator
# built on a PORTABLE hash family (h_i(s) = first 60 bits of
# md5(i || '#' || shingle), the q141 trick), so both engines compute
# bit-identical signatures AND the estimate is oracle-checked —
# together with the exact Jaccard in-row, the entry is the accuracy
# report that justifies d45's band thresholds. Probe-scoped (doc_id
# < 40, ≤780 pairs at any SF): an estimator audit samples pairs; the
# corpus-wide candidate path stays d45's.
#
# Estimate: Ĵ = |{i : sig_a[i] = sig_b[i]}| / H with H = 32
# signature slots; E[Ĵ] = J (Broder '97), σ = sqrt(J(1-J)/H).
# All-integer mins and match counts; the two divisions are single
# double ops on exact integers.

_D57_MAX_DOC = 40
_D57_H = 32

_D57 = f"""
    WITH probe AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk
      FROM documents WHERE doc_id < {_D57_MAX_DOC}),
    sh_idx AS (
      SELECT doc_id, tk,
             unnest(generate_series(1, len(tk) - {_SHINGLE_K - 1})) AS i
      FROM probe),
    sh AS (
      SELECT DISTINCT doc_id,
             tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' ||
             tk[CAST(i AS INT) + 2] AS s
      FROM sh_idx),
    hs AS (
      SELECT doc_id, hi,
             CAST('0x' || substr(md5(CAST(hi AS VARCHAR) || '#' || s), 1, 15)
                  AS BIGINT) AS h
      FROM (SELECT doc_id, s, unnest(generate_series(0, {_D57_H - 1})) AS hi
            FROM sh)),
    sig AS (SELECT doc_id, hi, MIN(h) AS m FROM hs GROUP BY doc_id, hi),
    est AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match
      FROM sig a JOIN sig b ON b.hi = a.hi AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT e.doc_a, e.doc_b, e.n_match,
           CAST(e.n_match AS DOUBLE) / {_D57_H}.0 AS est_jaccard,
           COALESCE(i.n_common, 0) AS n_common,
           CAST(COALESCE(i.n_common, 0) AS DOUBLE)
             / CAST(ca.n + cb.n - COALESCE(i.n_common, 0) AS DOUBLE)
             AS exact_jaccard
    FROM est e
    JOIN counts ca ON ca.doc_id = e.doc_a
    JOIN counts cb ON cb.doc_id = e.doc_b
    LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    WHERE e.n_match > 0 OR COALESCE(i.n_common, 0) > 0
"""


@query("d57_minhash_estimate", _D57)
def d57_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed MinHash Jaccard estimator over a probe pair set,
    exact Jaccard alongside (see block comment — the accuracy audit
    for d45's rows-only scale path).

    Scale shape: everything is probe-bounded (≤{maxdoc} docs → ≤780
    pairs × {h} slots); on the full corpus the identical signature
    plan is constant-width per doc (H int64 mins) and pair costs move
    to d45's band join. The signature build is one combinable
    min-aggregate keyed (doc, slot); no window, no cartesian — the
    pair joins are equi-joins on slot / shingle."""
    d = t(spark, sf_dir, "documents")
    probe = d.where(F.col("doc_id") < _D57_MAX_DOC).select(
        "doc_id", F.split(F.lower("text"), " ").alias("tk")
    )
    sh = probe.select(
        "doc_id", F.explode(F.expr(kgram_window(distinct=True))).alias("s")
    ).transform(persist_once)
    hs = sh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_D57_H - 1))).alias("hi"),
        F.col("s"),
    ).select(
        "doc_id",
        "hi",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("hi").cast("string"), F.lit("#"), F.col("s"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    sig = hs.groupBy("doc_id", "hi").agg(F.min("h").alias("m")).transform(persist_once)
    sa, sb = sig.alias("a"), sig.alias("b")
    est = (
        sa.join(
            sb,
            (F.col("b.hi") == F.col("a.hi"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.sum(
                F.when(F.col("a.m") == F.col("b.m"), 1).otherwise(0)
            ).alias("n_match")
        )
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = overlap_counts(sh, "s")
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    out = (
        est.join(F.broadcast(ca), "doc_a")
        .join(F.broadcast(cb), "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "n_match",
            (F.col("n_match").cast("double") / float(_D57_H)).alias("est_jaccard"),
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            (
                F.coalesce("n_common", F.lit(0)).cast("double")
                / (
                    F.col("na") + F.col("nb") - F.coalesce("n_common", F.lit(0))
                ).cast("double")
            ).alias("exact_jaccard"),
        )
        .where((F.col("n_match") > 0) | (F.col("n_common") > 0))
    )
    return out


# --- d58: LSH band-configuration precision/recall sweep ---------------
#
# The instrument that justifies d45's (bands, rows) choice: over the
# planted-duplicate probe cohort (docs containing the 'dup' marker —
# present at every SF, unlike id-window probes which miss the
# scattered dup pairs), build H=32 portable MinHash signatures (d57's
# md5 family) and measure, for each banding of the SAME signature —
# 16 bands x 2 rows, 8 x 4, 4 x 8 — the candidate-pair precision and
# recall against exact shingle Jaccard >= 0.5. Fewer rows per band =
# more permissive (P[candidate] = 1-(1-J^r)^b), so recall falls and
# precision rises down the config list — the curve d45 sits on.
#
# Everything is integer/string-deterministic: the hash family is
# md5-derived int64 (q141/d57 portability trick), band values are md5
# over the ','-joined mins IN SLOT ORDER (ordered aggregation, q51
# idiom), and the ppm metrics are floor divisions of exact counts.

_D58_H = 32
_D58_TAU = 0.5  # exact-Jaccard relevance threshold

_D58 = f"""
    WITH probe AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk
      FROM documents WHERE text LIKE '%dup%'),
    sh_idx AS (
      SELECT doc_id, tk,
             unnest(generate_series(1, len(tk) - {_SHINGLE_K - 1})) AS i
      FROM probe),
    sh AS (
      SELECT DISTINCT doc_id,
             tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' ||
             tk[CAST(i AS INT) + 2] AS s
      FROM sh_idx),
    hs AS (
      SELECT doc_id, hi,
             CAST('0x' || substr(md5(CAST(hi AS VARCHAR) || '#' || s), 1, 15)
                  AS BIGINT) AS h
      FROM (SELECT doc_id, s, unnest(generate_series(0, {_D58_H - 1})) AS hi
            FROM sh)),
    sig AS (SELECT doc_id, hi, MIN(h) AS m FROM hs GROUP BY doc_id, hi),
    configs AS (
      SELECT * FROM (VALUES ('b16r2', 2), ('b8r4', 4), ('b4r8', 8))
        AS v(label, r)),
    bands AS (
      SELECT s.doc_id, c.label, s.hi // c.r AS bi,
             md5(string_agg(CAST(s.m AS VARCHAR), ',' ORDER BY s.hi))
               AS band_h
      FROM sig s CROSS JOIN configs c
      GROUP BY s.doc_id, c.label, s.hi // c.r),
    cand AS (
      SELECT DISTINCT a.label, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON b.label = a.label AND b.bi = a.bi AND b.band_h = a.band_h
       AND a.doc_id < b.doc_id),
    counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM sh GROUP BY doc_id),
    rel AS (
      SELECT i.doc_a, i.doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2) i
      JOIN counts ca ON ca.doc_id = i.doc_a
      JOIN counts cb ON cb.doc_id = i.doc_b
      WHERE CAST(i.n_common AS DOUBLE)
              / CAST(ca.n + cb.n - i.n_common AS DOUBLE) >= {_D58_TAU}),
    nrel AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_relevant FROM rel),
    cagg AS (
      SELECT c.label,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN r.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_true
      FROM cand c LEFT JOIN rel r
        ON r.doc_a = c.doc_a AND r.doc_b = c.doc_b
      GROUP BY c.label)
    SELECT cf.label, CAST(cf.r AS BIGINT) AS rows_per_band,
           COALESCE(g.n_candidates, 0) AS n_candidates,
           COALESCE(g.n_true, 0) AS n_true,
           n.n_relevant,
           CASE WHEN COALESCE(g.n_candidates, 0) > 0
                THEN g.n_true * 1000000 // g.n_candidates END
             AS precision_ppm,
           CASE WHEN n.n_relevant > 0
                THEN COALESCE(g.n_true, 0) * 1000000 // n.n_relevant END
             AS recall_ppm
    FROM configs cf LEFT JOIN cagg g ON g.label = cf.label
    CROSS JOIN nrel n
"""


@query("d58_lsh_band_sweep", _D58)
def d58_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of three LSH band configurations of one H=32
    MinHash signature against exact Jaccard >= {TAU} over the planted-
    duplicate probe cohort (see block comment).

    Scale shape: probe-bounded audit (the marker filter pushes to the
    scan). On the full corpus the identical banding plan is what d45
    ships: signatures are a (doc, slot)-keyed combinable MIN, band
    values a (doc, config, band)-keyed ordered hash, and candidates an
    equi-join on (config, band, band_hash) — never all-pairs; this
    operator's job is to put oracle-checked numbers on that design's
    quality knob."""
    d = t(spark, sf_dir, "documents")
    probe = d.where(F.col("text").contains("dup")).select(
        "doc_id", F.split(F.lower("text"), " ").alias("tk")
    )
    # r13 NEGATIVE RESULT (the shingle explode stays deliberately): an
    # in-row variant computed sig+bands as nested transforms over the
    # per-doc shingle array — 2 exchanges fewer on paper — but nested
    # HOFs evaluate INTERPRETED while this explode form runs md5 in
    # WholeStageCodegen. Warm A/B at sf0.1: explode 1.19-1.35s vs
    # in-row 1.44-1.63s. The codegen boundary beats the exchange count.
    sh = probe.select(
        "doc_id", F.explode(F.expr(kgram_window(distinct=True))).alias("s")
    ).transform(persist_once)
    # r14 (guide §2.4): the signature is ONE wide row per doc — the 32
    # portable hashes are computed in-row per shingle (a flat md5
    # projection, still WholeStageCodegen — NOT the reverted nested-HOF
    # form above) and reduced by 32 combinable MIN aggregates keyed on
    # doc_id alone. This replaces the ×32 hi-explode + (doc, hi)-keyed
    # exchange with a doc-keyed one, turns the band hashes into a pure
    # in-row projection (the configs crossJoin + ordered collect_list
    # ObjectHashAggregate are gone), and the persisted 250-row wide
    # relation stops the band self-join legs from recomputing the
    # signature pipeline twice. Band bytes are identical: md5 over the
    # ','-joined mins in ascending slot order, exactly what the former
    # array_sort(collect_list(struct(hi, m))) aggregate emitted.
    # Measured at sf0.1: 1.26-1.31 s → 0.68-0.82 s min-of-4 (A/B ×2,
    # frame-equal; oracle parity green).
    harr = "array(" + ", ".join(
        f"cast(conv(substr(md5(concat('{i}#', s)), 1, 15), 16, 10) as bigint)"
        for i in range(_D58_H)
    ) + ")"
    mins = ", ".join(
        f"min(element_at(ha, {i + 1})) AS m{i}" for i in range(_D58_H)
    )
    sig_wide = (
        sh.select("doc_id", F.expr(harr).alias("ha"))
        .groupBy("doc_id")
        .agg(F.expr(f"struct({mins})").alias("m"))
        .select("doc_id", "m.*")
        .transform(persist_once)
    )
    band_structs = []
    for label, r in (("b16r2", 2), ("b8r4", 4), ("b4r8", 8)):
        for bi in range(_D58_H // r):
            joined = ", ".join(
                f"cast(m{bi * r + j} as string)" for j in range(r)
            )
            band_structs.append(
                f"struct('{label}' AS label, {bi} AS bi, "
                f"md5(concat_ws(',', {joined})) AS band_h)"
            )
    bands = sig_wide.select(
        "doc_id",
        F.explode(F.expr("array(" + ", ".join(band_structs) + ")")).alias("b"),
    ).select("doc_id", "b.label", "b.bi", "b.band_h")
    configs = spark.createDataFrame(
        [("b16r2", 2), ("b8r4", 4), ("b4r8", 8)], "label string, r int"
    )
    ba, bb = bands.alias("a"), bands.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("b.label") == F.col("a.label"))
            & (F.col("b.bi") == F.col("a.bi"))
            & (F.col("b.band_h") == F.col("a.band_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.label").alias("label"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = overlap_counts(sh, "s")
    rel = (
        inter.join(
            F.broadcast(counts.select(F.col("doc_id").alias("doc_a"),
                                      F.col("n").alias("na"))), "doc_a")
        .join(
            F.broadcast(counts.select(F.col("doc_id").alias("doc_b"),
                                      F.col("n").alias("nb"))), "doc_b")
        .where(
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
            >= _D58_TAU
        )
        .select("doc_a", "doc_b")
        .transform(persist_once)
    )
    nrel = rel.agg(F.count(F.lit(1)).alias("n_relevant"))
    cagg = (
        cand.join(rel.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_true"),
        )
    )
    return (
        configs.join(cagg, "label", "left")
        .crossJoin(F.broadcast(nrel))
        .select(
            "label",
            F.col("r").cast("long").alias("rows_per_band"),
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
            "n_relevant",
            F.when(
                F.coalesce("n_candidates", F.lit(0)) > 0,
                F.expr("n_true * 1000000 div n_candidates"),
            ).alias("precision_ppm"),
            F.when(
                F.col("n_relevant") > 0,
                F.expr("coalesce(n_true, 0) * 1000000 div n_relevant"),
            ).alias("recall_ppm"),
        )
    )


# --- d59: dedup savings report ------------------------------------------
#
# The accounting readout a curation run publishes after d43: how much
# does exact dedup actually save, by duplicate-group size? Groups use
# d43's byte-identical normalization (lower → collapse whitespace →
# md5) and min-doc_id keeper; savings are the characters of every
# NON-keeper copy (exact int64 sums of the stored n_chars). Histogram
# grain (one row per group size) keeps the report constant-size no
# matter the corpus.

_D59 = """
    WITH g AS (
      SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
             doc_id, n_chars
      FROM documents),
    grp AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS sz,
             CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
             MIN(doc_id) AS keeper
      FROM g GROUP BY h),
    withk AS (
      SELECT grp.sz, grp.tot_chars - k.n_chars AS saved
      FROM grp JOIN g k ON k.h = grp.h AND k.doc_id = grp.keeper)
    SELECT sz AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(saved) AS BIGINT) AS chars_saved
    FROM withk GROUP BY sz
"""


@query("d59_dedup_savings", _D59)
def d59_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group-size histogram with exact characters saved by
    keeping one copy per group (see block comment).

    Scale shape: d43's digest aggregate (16-byte shuffle keys,
    map-side combinable) plus ONE equi-join back on (digest, keeper)
    to price the kept copy, then a #distinct-sizes-row histogram. The
    text column itself never moves — only digests and n_chars ride
    the exchanges."""
    d = t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    g = d.select(F.md5(norm).alias("h"), "doc_id", "n_chars").transform(persist_once)
    grp = g.groupBy("h").agg(
        F.count(F.lit(1)).alias("sz"),
        F.sum("n_chars").alias("tot_chars"),
        F.min("doc_id").alias("keeper"),
    )
    withk = grp.join(
        g.select(F.col("h").alias("kh"), F.col("doc_id").alias("kid"),
                 F.col("n_chars").alias("k_chars")),
        (F.col("kh") == F.col("h")) & (F.col("kid") == F.col("keeper")),
    ).select("sz", (F.col("tot_chars") - F.col("k_chars")).alias("saved"))
    return withk.groupBy(F.col("sz").alias("group_size")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("sz").alias("n_docs"),
        F.sum("saved").alias("chars_saved"),
    )


# --- d60: shingle-size sensitivity audit -----------------------------------
#
# The k-knob instrument next to d58's banding sweep: over the planted-
# duplicate probe cohort, how do near-dup pair counts and similarity
# mass move as the shingle width k goes 2 → 3 → 5? Larger k sharpens
# specificity (fewer, higher-confidence pairs), and this audit prices
# that trade exactly — per k: pairs with exact Jaccard ≥ 0.5, their
# floored-ppm mean Jaccard (per-pair floor BEFORE the mean — ratchet
# rule), and the distinct-shingle volume the index would carry. All
# three k values ride ONE plan: k joins in as a 3-row broadcast
# relation and the shingle slice/sequence take k as a runtime value.

_D60_KS = (2, 3, 5)
_D60_TAU = 0.5

_D60 = f"""
    WITH probe AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk
      FROM documents WHERE text LIKE '%dup%'),
    ks AS (SELECT * FROM (VALUES (2), (3), (5)) v(k)),
    sh AS (
      SELECT DISTINCT ks.k, p.doc_id,
             array_to_string(p.tk[CAST(i AS INT):CAST(i AS INT) + ks.k - 1],
                             ' ') AS s
      FROM probe p CROSS JOIN ks,
           unnest(generate_series(1, len(p.tk) - ks.k + 1)) t(i)),
    cnt AS (SELECT k, doc_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM sh GROUP BY 1, 2),
    inter AS (
      SELECT a.k, a.doc_id AS da, b.doc_id AS db,
             CAST(COUNT(*) AS BIGINT) AS nc
      FROM sh a JOIN sh b
        ON b.k = a.k AND b.s = a.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3),
    pairs AS (
      SELECT i.k,
             i.nc * 1000000 // (ca.n + cb.n - i.nc) AS j_ppm
      FROM inter i
      JOIN cnt ca ON ca.k = i.k AND ca.doc_id = i.da
      JOIN cnt cb ON cb.k = i.k AND cb.doc_id = i.db
      WHERE CAST(i.nc AS DOUBLE)
              / CAST(ca.n + cb.n - i.nc AS DOUBLE) >= {_D60_TAU}),
    vol AS (SELECT k, CAST(COUNT(DISTINCT s) AS BIGINT) AS n_shingles
            FROM sh GROUP BY k)
    SELECT v.k, v.n_shingles,
           CAST(COALESCE(COUNT(p.j_ppm), 0) AS BIGINT) AS n_pairs,
           CASE WHEN COUNT(p.j_ppm) > 0
                THEN CAST(SUM(p.j_ppm) // COUNT(p.j_ppm) AS BIGINT) END
             AS mean_jaccard_ppm
    FROM vol v LEFT JOIN pairs p ON p.k = v.k
    GROUP BY v.k, v.n_shingles
"""


@query("d60_shingle_k_sensitivity", _D60)
def d60_shingle_k_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts, mean Jaccard, and index volume at shingle
    widths k = 2/3/5 over the dup-probe cohort (see block comment).

    Scale shape: probe-bounded like d58; the x3 k fan-out is a
    broadcast product on the CONFIG relation (the q86/q151 bounded-
    explode budget); the pair join keys on (k, shingle) so widths
    never cross-collide. On the full corpus the per-k plan is d44's."""
    d = t(spark, sf_dir, "documents")
    probe = d.where(F.col("text").contains("dup")).select(
        "doc_id", F.split(F.lower("text"), " ").alias("tk")
    )
    ks = spark.createDataFrame([(k,) for k in _D60_KS], "k int")
    sh = (
        probe.crossJoin(F.broadcast(ks))
        .select(
            "k",
            "doc_id",
            F.explode(F.expr(kgram_window(k="k", distinct=True))).alias("s"),
        )
        .transform(persist_once)
    )
    cnt = sh.groupBy("k", "doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("b.k") == F.col("a.k"))
            & (F.col("b.s") == F.col("a.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.k").alias("k"),
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
        )
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    ca = cnt.select(F.col("k").alias("ka"), F.col("doc_id").alias("da"),
                    F.col("n").alias("na"))
    cb = cnt.select(F.col("k").alias("kb"), F.col("doc_id").alias("db"),
                    F.col("n").alias("nb"))
    pairs = (
        inter.join(F.broadcast(ca), (F.col("ka") == F.col("k")) & (ca["da"] == inter["da"]))
        .join(F.broadcast(cb), (F.col("kb") == F.col("k")) & (cb["db"] == inter["db"]))
        .where(
            F.col("nc").cast("double")
            / (F.col("na") + F.col("nb") - F.col("nc")).cast("double")
            >= _D60_TAU
        )
        .select("k", F.expr("nc * 1000000 div (na + nb - nc)").alias("j_ppm"))
    )
    vol = sh.groupBy("k").agg(F.countDistinct("s").alias("n_shingles"))
    agg = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("sum(j_ppm) div count(1)").alias("mean_jaccard_ppm"),
    )
    return vol.join(agg, "k", "left").select(
        "k",
        "n_shingles",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        "mean_jaccard_ppm",
    )
