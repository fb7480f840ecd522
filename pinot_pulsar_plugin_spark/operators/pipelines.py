"""Training-data pipeline composites (north-star scope, SURVEY.md §2.B
LLM-pipeline row): the steps that turn per-doc operators into a usable
corpus pipeline.

- d49 near-dup components — connected components over d44's near-dup
  pairs: the pairs → clusters → survivors step every dedup pipeline
  needs (emitting pairs alone doesn't dedup anything).
- q74 train/val/test split — deterministic multiplicative-hash
  bucketing; reproducible across engines and runs, no RNG state.
- q75 sequence packing — token counts packed into budget-bounded
  shards, the shaping step before LLM training; packing is
  partition-local so it scales embarrassingly.
- t55 BPE-ish token count — regex word-piece counting (letters runs /
  digits / other-symbol), the cheap proxy for tokenizer cost used in
  corpus budgeting.
- d50 contamination — fraction of each training doc's shingles found
  in the benchmark/eval set (broadcast join against the tiny benchmark
  shingle table): the decontamination gate before training.

All are oracle-checked (the component step via DuckDB's recursive
CTE — transitive closure reaches the same fixpoint as Spark's
iterative min-label propagation).
"""

from __future__ import annotations

from pinot_pulsar_plugin_spark.caching import (
    persist_materialized,
    persist_once,
    persist_scoped,
)
from pinot_pulsar_plugin_spark.functions.hashing import (
    knuth_bucket_sql,
    split_hash32,
)
from pinot_pulsar_plugin_spark.functions.shingles import kgram_window

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pinot_pulsar_plugin_spark.operators.common import make_registry, t
from pinot_pulsar_plugin_spark.operators.dedup import (
    ORACLE as _DEDUP_ORACLE,
    d44_ngram_jaccard_pairs,
)

QUERIES, ORACLE, query = make_registry()

_MAX_CC_ITERS = 30


@query(
    "d49_neardup_components",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_DEDUP_ORACLE["d44_ngram_jaccard_pairs"]}) d44
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      -- delta-iteration min propagation (r13, VERDICT r12 #4): the
      -- recursive term aggregates to ONE candidate label per dst per
      -- round instead of propagating EVERY reachable label (the
      -- all-labels closure is O(component_size^2) rows — 670 s at
      -- sf0.1 vs 0.9 s for this form, outputs proven identical).
      -- Exactness: labels only decrease along propagation paths, the
      -- UNION-dedup working set re-activates a node whenever a
      -- strictly smaller label reaches it, and the outer MIN picks
      -- the component minimum at the fixpoint.
      SELECT e.dst, MIN(r.label) FROM reach r JOIN edges e ON e.src = r.doc_id
      GROUP BY e.dst
    )
    SELECT doc_id,
           MIN(label) AS component,
           CAST(doc_id = MIN(label) AS INTEGER) AS is_keeper
    FROM reach GROUP BY doc_id
    """,
)
def d49_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the d44 near-dup graph: every document
    gets a component id (the min doc_id reachable through near-dup
    edges) and a keeper flag (component representative). This is the
    step that turns pairwise near-dup output into an actual dedup
    decision.

    Algorithm: iterative min-label propagation with pointer-doubling —
    each round, every node takes the min of its own label, its
    neighbors' labels, AND its label's label (path shortcutting, the
    small-star trick), so convergence is O(log diameter) rounds rather
    than O(diameter): a 100-long dup chain closes in ~7 rounds, not
    100. Each round is two distributed joins + an aggregation; the
    driver only coordinates the loop and checks convergence (a count,
    not a collect) — the classic Spark shape for iterative graph
    algorithms. ``localCheckpoint`` truncates lineage per round so
    plans stay flat. The DuckDB oracle computes the same fixpoint via
    a recursive CTE."""
    pairs = d44_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = t(spark, sf_dir, "documents").select("doc_id")
    # symmetric doubling as an in-row explode: a self-union of the
    # unpersisted pair relation re-ran the whole d44 jaccard join per
    # leg inside the cache-fill job (the r8 rule, q105/q145/q149)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a"), F.col("doc_b")),
                    F.struct(
                        F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
                    ),
                )
            ).alias("e")
        )
        .select("e.doc_a", "e.doc_b")
    )
    # persist_scoped: released after convergence below; skip the
    # unpersist if a plan-equivalent cache entry already existed
    # (not ours to evict — ADVICE r9 #2)
    edges, edges_owned = persist_scoped(edges)
    edges.count()  # materialize before the propagation rounds
    labels = docs.select("doc_id", F.col("doc_id").alias("label"))
    for _ in range(_MAX_CC_ITERS):
        prop = edges.join(labels, edges.doc_a == labels.doc_id).select(
            F.col("doc_b").alias("doc_id"), "label"
        )
        stepped = (
            labels.union(prop).groupBy("doc_id").agg(F.min("label").alias("label"))
        )
        # pointer doubling: follow one hop through the label table
        # (labels are doc ids, so the inner self-join always matches)
        x, y = stepped.alias("x"), stepped.alias("y")
        new_labels = (
            x.join(y, F.col("x.label") == F.col("y.doc_id"))
            .select(
                F.col("x.doc_id").alias("doc_id"),
                F.least(F.col("x.label"), F.col("y.label")).alias("label"),
            )
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:  # pragma: no cover - defensive: diameter exceeded the cap
        raise RuntimeError(f"components did not converge in {_MAX_CC_ITERS} rounds")
    if edges_owned:
        edges.unpersist()
    return labels.select(
        "doc_id",
        F.col("label").alias("component"),
        (F.col("doc_id") == F.col("label")).cast("int").alias("is_keeper"),
    )


@query(
    "d51_cluster_keeper_quality",
    f"""
    WITH comp AS ({ORACLE["d49_neardup_components"]})
    SELECT c.doc_id, c.component, d.n_chars,
           CAST(ROW_NUMBER() OVER (PARTITION BY c.component
                ORDER BY d.n_chars DESC, c.doc_id) = 1 AS INTEGER) AS is_keeper
    FROM comp c JOIN documents d USING (doc_id)
    """,
)
def d51_cluster_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster-representative selection: within each d49
    near-dup component, keep the document with the most content
    (n_chars DESC, doc_id tiebreak) instead of d49's min-doc_id
    convention — the policy real dedup pipelines use (FineWeb/Gopher
    keep the longest/highest-quality member of a duplicate cluster,
    not an arbitrary one). The quality signal is pluggable: any
    per-doc score (t52's composite works as-is) slots into the ORDER.

    Scale shape: one equi-join of the component labels against the
    per-doc scores on doc_id, then a component-partitioned row_number —
    shuffle keyed on component, group sizes are dup-cluster sizes
    (small by construction after d44's stop-shingle filter). The
    row_number total order (score DESC, doc_id) is deterministic, so
    the keeper flag hash-matches the oracle exactly."""
    comp = d49_neardup_components(spark, sf_dir).select("doc_id", "component")
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = comp.join(docs, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return joined.select(
        "doc_id",
        "component",
        "n_chars",
        (F.row_number().over(w) == 1).cast("int").alias("is_keeper"),
    )


# Knuth multiplicative hash: deterministic, engine-agnostic, uniform
# enough for split bucketing. 800/100/100. The Spark side computes the
# mod-2^32 product in pure-long 16-bit limbs (functions/hashing.py —
# the raw product overflows int64 past id ~3.47e9); the oracle SQL
# casts to HUGEINT, since DuckDB's BIGINT multiply is overflow-checked
# too. Both are value-identical to the naive product for every id.
_SPLIT_MULT = 2654435761
_SPLIT_MOD = 1 << 32
_SPLIT_HASH_SQL = f"(CAST(doc_id AS HUGEINT) * {_SPLIT_MULT}) % {_SPLIT_MOD}"


@query(
    "q74_train_split",
    f"""
    SELECT doc_id,
           CAST({_SPLIT_HASH_SQL} % 1000 AS INTEGER) AS bucket,
           CASE WHEN {_SPLIT_HASH_SQL} % 1000 < 800 THEN 'train'
                WHEN {_SPLIT_HASH_SQL} % 1000 < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q74_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by multiplicative hash
    of the stable document id: no RNG state, reproducible across
    engines/runs/backfills, and a pure per-row map (no shuffle — the
    property that matters when splitting 100 TB). 80/10/10 by bucket
    ranges; stratification composes by hashing (doc_id, stratum)."""
    d = t(spark, sf_dir, "documents")
    bucket = split_hash32(F.col("doc_id")) % 1000
    return d.select(
        "doc_id",
        bucket.cast("int").alias("bucket"),
        F.when(bucket < 800, "train")
        .when(bucket < 900, "val")
        .otherwise("test")
        .alias("split"),
    )


_PACK_GROUPS = 8  # parallel packing lanes (↑ with cluster size)
_PACK_BUDGET = 2048  # token budget per shard


@query(
    "q75_sequence_packing",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(doc_id % {_PACK_GROUPS} AS INTEGER) AS pack_group
      FROM documents)
    SELECT doc_id, n_tokens, pack_group,
           CAST(pack_group * 100000 +
                FLOOR((SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS shard
    FROM toks
    """,
)
def q75_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: documents are assigned to shards whose
    cumulative token count stays within a budget — the shaping step
    before LLM training (fixed-size sample files / context packing).

    Scale shape: documents hash into {_PACK_GROUPS} independent packing
    lanes, and the running token sum is a window inside each lane — so
    the only shuffle is the lane hash partition, lanes pack in
    parallel, and lane count scales with the cluster (no global sort,
    no single-partition window). A doc lands in the shard where its
    PRECEDING lane total left off, so every shard holds ≥1 doc and at
    most budget+max_doc tokens."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.pmod("doc_id", F.lit(_PACK_GROUPS)).cast("int").alias("pack_group"),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shard = F.col("pack_group") * 100000 + F.floor(
        (F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_BUDGET
    )
    return toks.select(
        "doc_id", "n_tokens", "pack_group", shard.cast("bigint").alias("shard")
    )


_BPE_PATTERN = "[a-z]+|[0-9]|[^a-z0-9 ]"


@query(
    "t55_token_count_bpe",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS DOUBLE)
             / len(string_split(text, ' ')) AS bpe_per_ws
    FROM documents
    """,
)
def t55_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a word-piece regex (letter runs, single
    digits, other symbols) approximates subword tokenizer output ~10x
    cheaper than running one — the standard proxy for corpus token
    budgeting. Pure built-in regexp (JVM-side, codegen'd); the pattern
    uses only character classes so Java and RE2 dialects agree."""
    d = t(spark, sf_dir, "documents")
    n_ws = F.size(F.split("text", " ")).cast("bigint")
    n_bpe = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PATTERN), F.lit(0))
    ).cast("bigint")
    return d.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        (n_bpe.cast("double") / n_ws).alias("bpe_per_ws"),
    )


_BENCH_SET_MAX_ID = 25  # doc_id < 25 stands in for the eval/benchmark set


@query(
    "d50_contamination",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    sh_idx AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks),
    shingles AS (
      SELECT DISTINCT doc_id,
             tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' ||
             tk[CAST(i AS INT) + 2] AS s
      FROM sh_idx),
    bench AS (
      SELECT DISTINCT s FROM shingles WHERE doc_id < {_BENCH_SET_MAX_ID}),
    scored AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated
      FROM shingles sh LEFT JOIN bench b ON sh.s = b.s
      WHERE sh.doc_id >= {_BENCH_SET_MAX_ID}
      GROUP BY sh.doc_id)
    SELECT doc_id, n_shingles, n_contaminated,
           CAST(n_contaminated AS DOUBLE) / n_shingles AS contamination
    FROM scored
    """,
)
def d50_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scoring: for every training document,
    the fraction of its 3-gram shingles that also occur in the
    benchmark/eval set (here: ``doc_id < {_BENCH_SET_MAX_ID}`` as the
    stand-in). Pipelines drop or flag documents above a contamination
    threshold before training.

    Scale shape: the benchmark shingle set is small by definition
    (eval suites are MBs, corpora are TBs) → broadcast LEFT join
    against it; the corpus shingle table streams through map-side, the
    only shuffle is the per-doc count aggregation."""
    d = t(spark, sf_dir, "documents")
    shingles = (
        d.select(
            "doc_id",
            F.explode(F.expr(kgram_window("split(lower(text), ' ')"))).alias("s"),
        )
        .distinct()
    )
    bench = (
        shingles.filter(F.col("doc_id") < _BENCH_SET_MAX_ID)
        .select("s")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        shingles.filter(F.col("doc_id") >= _BENCH_SET_MAX_ID)
        .join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            (F.col("n_contaminated").cast("double") / F.col("n_shingles")).alias(
                "contamination"
            ),
        )
    )


_STRATUM_CAP = 40  # max docs kept per language


@query(
    "q78_stratified_sample",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_SPLIT_HASH_SQL}, doc_id
             ) AS INTEGER) AS pick_rank
      FROM documents)
    SELECT doc_id, lang, pick_rank
    FROM ranked WHERE pick_rank <= {_STRATUM_CAP}
    """,
)
def q78_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced sampling: keep at most {_STRATUM_CAP} documents
    per language, chosen by deterministic hash order (reproducible, no
    RNG state) — the rebalancing step that stops a dominant class from
    swamping a training mix.

    Scale shape: one hash exchange on the stratum key; Spark turns the
    rank-then-filter into WindowGroupLimit, so each map task forwards
    at most K rows per stratum BEFORE the shuffle — the shuffle is
    bounded by K·#strata, not the corpus."""
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    order_hash = split_hash32(F.col("doc_id"))
    w = W.partitionBy("lang").orderBy(order_hash, "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("pick_rank"))
        .filter(F.col("pick_rank") <= _STRATUM_CAP)
    )


# Domain-mixture reweighting: target share per source is derived from a
# deterministic per-source weight ((index mod 4) + 1 — stand-in for the
# curated weights a real mix ships). Downsample-only solution: the
# largest achievable corpus T = min_i(tokens_i / share_i); source i
# keeps share_i * T tokens, i.e. sample_prob_i = share_i * T /
# tokens_i, = 1 for the binding source.
_MIX_SHARES_SQL = """
    toks AS (
      SELECT source,
             CAST(substr(source, 4) AS INTEGER) % 4 + 1 AS w,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    per_src AS (
      SELECT source, MIN(w) AS w, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
      FROM toks GROUP BY source),
    tot AS (
      SELECT CAST(SUM(src_tokens) AS BIGINT) AS corpus_tokens,
             CAST(SUM(w) AS BIGINT) AS w_sum
      FROM per_src),
    shares AS (
      SELECT s.source, s.n_docs, s.src_tokens,
             CAST(s.src_tokens AS DOUBLE) / t.corpus_tokens AS natural_share,
             CAST(s.w AS DOUBLE) / t.w_sum AS target_share
      FROM per_src s CROSS JOIN tot t),
    lim AS (SELECT MIN(src_tokens / target_share) AS t_max FROM shares)
"""


def _mixture_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shares × lim as a DataFrame: one row per source with token
    volume, natural/target share, and the downsample-only sample_prob.
    One map-side-combinable agg over the scan; the per-source table and
    the two scalar totals are broadcast (a handful of rows at any
    corpus size — #domains doesn't grow with data)."""
    d = t(spark, sf_dir, "documents")
    per_src = (
        d.select(
            "source",
            (F.substring("source", 4, 10).cast("int") % 4 + 1).alias("w"),
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.min("w").alias("w"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("src_tokens"),
        )
    )
    tot = per_src.agg(
        F.sum("src_tokens").cast("long").alias("corpus_tokens"),
        F.sum("w").cast("long").alias("w_sum"),
    )
    shares = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "src_tokens",
        (F.col("src_tokens").cast("double") / F.col("corpus_tokens")).alias(
            "natural_share"
        ),
        (F.col("w").cast("double") / F.col("w_sum")).alias("target_share"),
    )
    lim = shares.agg(F.min(F.col("src_tokens") / F.col("target_share")).alias("t_max"))
    return shares.crossJoin(F.broadcast(lim)).withColumn(
        "sample_prob",
        F.least(F.lit(1.0), F.col("target_share") * F.col("t_max") / F.col("src_tokens")),
    )


@query(
    "q79_mixture_weights",
    f"""
    WITH {_MIX_SHARES_SQL}
    SELECT source, n_docs, src_tokens,
           ROUND(natural_share, 6) AS natural_share,
           ROUND(target_share, 6) AS target_share,
           ROUND(LEAST(1.0, target_share * l.t_max / src_tokens), 6) AS sample_prob
    FROM shares CROSS JOIN lim l
    """,
)
def q79_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture plan: per-source token volume, natural vs target
    share, and the downsample-only sampling probability that hits the
    target mix at the largest achievable corpus size."""
    return _mixture_shares(spark, sf_dir).select(
        "source",
        "n_docs",
        "src_tokens",
        F.round("natural_share", 6).alias("natural_share"),
        F.round("target_share", 6).alias("target_share"),
        F.round("sample_prob", 6).alias("sample_prob"),
    )


@query(
    "q80_domain_resample",
    f"""
    WITH {_MIX_SHARES_SQL},
    probs AS (
      SELECT source, LEAST(1.0, target_share * l.t_max / src_tokens) AS sample_prob
      FROM shares CROSS JOIN lim l),
    docs AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             {_SPLIT_HASH_SQL} AS h
      FROM documents)
    SELECT d.doc_id, d.source, d.n_tokens
    FROM docs d JOIN probs p ON p.source = d.source
    WHERE d.h < CAST(FLOOR(p.sample_prob * {_SPLIT_MOD}) AS BIGINT)
    """,
)
def q80_domain_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply q79's mixture plan: keep each document iff its
    multiplicative doc_id hash falls under its source's sampling
    probability — deterministic, reproducible resampling with no RNG
    state. Scale shape: the per-source probability table is broadcast
    (#domains rows), so the corpus is filtered in place with one
    equi-join and zero data shuffles."""
    probs = _mixture_shares(spark, sf_dir).select("source", "sample_prob")
    d = t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
        split_hash32(F.col("doc_id")).alias("h"),
    )
    return (
        docs.join(F.broadcast(probs), "source")
        .filter(
            F.col("h")
            < F.floor(F.col("sample_prob") * _SPLIT_MOD).cast("long")
        )
        .select("doc_id", "source", "n_tokens")
    )


@query(
    "q101_split_balance_audit",
    f"""
    WITH assigned AS (
      SELECT vec_id, label,
             CASE WHEN (CAST(vec_id AS HUGEINT) * {_SPLIT_MULT}) % {_SPLIT_MOD} % 1000 < 800
                    THEN 'train'
                  WHEN (CAST(vec_id AS HUGEINT) * {_SPLIT_MULT}) % {_SPLIT_MOD} % 1000 < 900
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM embeddings),
    cell AS (
      SELECT split, label, COUNT(*) AS n FROM assigned GROUP BY split, label),
    per_split AS (
      SELECT split, CAST(SUM(n) AS BIGINT) AS split_n FROM cell GROUP BY split),
    per_label AS (
      SELECT label, CAST(SUM(n) AS BIGINT) AS label_n FROM cell GROUP BY label),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM assigned)
    SELECT c.split, c.label, c.n,
           CAST(c.n AS DOUBLE) / s.split_n AS share_in_split,
           CAST(l.label_n AS DOUBLE) / t.total AS global_share,
           (CAST(c.n AS DOUBLE) / s.split_n)
             / (CAST(l.label_n AS DOUBLE) / t.total) AS balance_ratio
    FROM cell c
    JOIN per_split s ON s.split = c.split
    JOIN per_label l ON l.label = c.label
    CROSS JOIN tot t
    """,
)
def q101_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance audit: after the q74 deterministic hash split is
    applied to the labeled embeddings, compare each label's share
    WITHIN each split to its global share (balance_ratio ~= 1 means
    the split didn't skew the class mix — the leakage/imbalance check
    every train/val/test cut should pass before training). Ratios are
    divisions of exact integer counts: bit-identical cross-engine.

    Scale shape: one combinable (split, label) count over the
    assignment map (split itself is a pure per-row hash — q74), then
    broadcast joins of the three tiny marginals back onto the
    #splits x #labels cell table. The corpus is touched once."""
    em = t(spark, sf_dir, "embeddings")
    h = F.pmod(split_hash32(F.col("vec_id")), 1000)
    assigned = em.select(
        "vec_id",
        "label",
        F.when(h < 800, "train").when(h < 900, "val").otherwise("test").alias(
            "split"
        ),
    )
    cell = assigned.groupBy("split", "label").agg(F.count(F.lit(1)).alias("n"))
    per_split = cell.groupBy("split").agg(F.sum("n").cast("long").alias("split_n"))
    per_label = cell.groupBy("label").agg(F.sum("n").cast("long").alias("label_n"))
    tot = assigned.agg(F.count(F.lit(1)).cast("long").alias("total"))
    share = F.col("n").cast("double") / F.col("split_n")
    gshare = F.col("label_n").cast("double") / F.col("total")
    return (
        cell.join(F.broadcast(per_split), "split")
        .join(F.broadcast(per_label), "label")
        .crossJoin(F.broadcast(tot))
        .select(
            "split",
            "label",
            "n",
            share.alias("share_in_split"),
            gshare.alias("global_share"),
            (share / gshare).alias("balance_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# q105: PageRank (fixed iterations) over the customer-supplier graph
# ---------------------------------------------------------------------------
#
# The graph centrality a crawl-curation pipeline runs to weight domains
# before sampling (the original use of PageRank in corpus construction:
# quality-weight pages by link structure). No link table exists in the
# testdata, so the graph is the transaction bipartite graph — customer
# c and supplier s are adjacent iff some order of c contains a lineitem
# of s — made symmetric, which is exactly the undirected-PageRank
# formulation.
#
# All rank arithmetic is integer micro-units end to end: r0 = 1e6;
# each contribution is r // deg (integral division, positive operands,
# so DuckDB's floor `//` == Spark's truncating `div`); the damping
# step is 150000 + (85 * sum) div 100. Integer sums are
# order-independent, so two engines (and any shuffle schedule) produce
# bit-identical ranks — the property float PageRank never has.

_PR_ITERS = 2
_PR_R0 = 1_000_000  # rank unit: 1.0 in micro-units

_Q105 = f"""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT 'c:' || c AS src, 's:' || s AS dst FROM e0
      UNION ALL
      SELECT 's:' || s AS src, 'c:' || c AS dst FROM e0),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT src AS node, CAST({_PR_R0} AS BIGINT) AS r FROM deg),
    c1 AS (
      SELECT e.dst AS node, SUM(r0.r // deg.d) AS s
      FROM edges e
      JOIN deg ON deg.src = e.src
      JOIN r0 ON r0.node = e.src
      GROUP BY e.dst),
    r1 AS (SELECT node, 150000 + (85 * s) // 100 AS r FROM c1),
    c2 AS (
      SELECT e.dst AS node, SUM(r1.r // deg.d) AS s
      FROM edges e
      JOIN deg ON deg.src = e.src
      JOIN r1 ON r1.node = e.src
      GROUP BY e.dst),
    r2 AS (SELECT node, 150000 + (85 * s) // 100 AS r FROM c2)
    SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r2
"""


@query("q105_pagerank_transactions", _Q105)
def q105_pagerank_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two damped PageRank iterations (d=0.85, _PR_ITERS) over the
    customer↔supplier co-transaction graph, ranks in exact integer
    micro-units (see module comment — bit-identical across engines and
    shuffle schedules, unlike float PageRank).

    Scale shape: the edge list is built once — the symmetric doubling
    is an IN-ROW explode of a 2-struct array, not a self-union (a
    union of an unpersisted relation recomputes the order⋈lineitem
    distinct per leg — the q182 lesson; the union form cost 12 fact
    scans here, the explode form costs 2) — then the (src, dst, d)
    adjacency is persisted AND materialized so the rank seed and both
    iterations read the cache, never the fact tables. Each iteration
    is one hash join of the rank table onto adj.src followed by one
    combinable SUM keyed on adj.dst; both sides hash-partition on the
    node key, so AQE reuses the edge exchange across iterations
    instead of re-shuffling the graph. Degree rides next to src so the
    per-iteration join touches ONE narrow relation — the standard
    Pregel-on-SQL layout. Rank-table size = #nodes, edges =
    #relationships; nothing quadratic anywhere, and a hub node is an
    AQE skew-split case, not a plan change. Fixed iteration count
    keeps the whole computation one declarative plan
    (iterate-to-convergence is the same loop with a driver-side delta
    check between materialized iterations)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    cnode = F.concat(F.lit("c:"), F.col("c"))
    snode = F.concat(F.lit("s:"), F.col("s"))
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(cnode.alias("src"), snode.alias("dst")),
                F.struct(snode.alias("src"), cnode.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # (src, dst, d) — reused per iter; materialized at persist
    # (owned-only count, r13): seed + iterations read the cache only
    adj = edges.join(deg, "src").transform(persist_materialized)
    rank = (
        adj.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.lit(_PR_R0).cast("long").alias("r"))
    )
    for _ in range(_PR_ITERS):
        contrib = (
            adj.join(rank, adj["src"] == rank["node"])
            .select("dst", F.expr("r div d").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        rank = contrib.select(
            F.col("dst").alias("node"),
            (F.lit(150000) + F.expr("(85 * s) div 100")).cast("long").alias("r"),
        )
    return rank.select("node", F.col("r").alias("rank_micro"))


# --- q123: triangle counting with degree orientation ----------------
_Q123 = """
    WITH ps AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    pair AS (
      SELECT a.s AS u, b.s AS v, CAST(COUNT(*) AS BIGINT) AS shared
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s),
    thr AS (SELECT ROUND(quantile_cont(shared, 0.9), 6) AS med FROM pair),
    e AS (SELECT u, v FROM pair CROSS JOIN thr WHERE shared > med)
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
"""


@query("q123_supplier_triangles", _Q123)
def q123_supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the supplier co-part graph — the graph
    motif beyond connected components (d49) and PageRank (q105).

    Scale mechanics: (1) candidate pairs come from the part-keyed
    self-join, so fanout is (suppliers-per-part)², never suppliers²;
    (2) the edge set is sparsified by a DATA-DRIVEN cutoff (shared
    count above the corpus 90th percentile — a fixed constant cannot
    track scale, and the exact interpolated quantile is
    engine-portable, the q93 pattern) broadcast as a one-row
    threshold. The cutoff is deliberately deep: this co-part graph is
    ~50% dense, and a median cut leaves triangle counting quadratic in
    a still-dense graph (measured 6s at sf0.1); the top-decile cut is
    both the meaningful "strongly co-occurring" analysis and 25×
    less wedge work; (3) every edge is
    oriented u < v, so each triangle is counted exactly once and the
    wedge join e1(a,b)⋈e2(b,c) only extends in one direction —
    the standard orientation trick that keeps wedge counts near
    Σ deg²/2 instead of Σ deg². All three joins are equi-joins on
    supplier keys (plan-gated: no cartesian)."""
    li = t(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    a = ps.alias("a")
    b = ps.alias("b")
    pair = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # Rounded to 6 dp on BOTH engines (the q93 pattern, ADVICE r5):
    # Spark computes (1-f)*lo + f*hi while DuckDB computes
    # lo + f*(hi-lo) — a 1-ulp divergence class; unrounded, a med
    # landing exactly on an integer on one engine but one ulp below
    # on the other would flip `shared > med` edge membership and
    # cascade into n_edges/n_triangles.
    thr = pair.agg(F.round(F.expr("percentile(shared, 0.9)"), 6).alias("med"))
    e = (
        pair.crossJoin(F.broadcast(thr))
        .filter(F.col("shared") > F.col("med"))
        .select("u", "v")
        .transform(persist_once)
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = e1.join(e2, F.col("e2.u") == F.col("e1.v")).join(
        e3,
        (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        "inner",
    )
    # both totals are one-row aggregates of the persisted edge set —
    # no driver-side action anywhere in the plan
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return F.broadcast(n_edges).crossJoin(n_tri)


# --- q145: label-propagation communities (LPA, unrolled rounds) -----
#
# The third member of the graph family (q105 centrality, q123
# triangles, d49 connected components): COMMUNITY detection by
# synchronous label propagation over the same customer↔supplier
# transaction graph — the curation use is grouping customers/suppliers
# into transaction cliques for stratified sampling or leakage-safe
# train/eval splits (CC merges anything touching; LPA finds denser
# sub-groups inside a component).
#
# Raghavan et al.'s LPA is notoriously nondeterministic; this variant
# pins every choice so two engines agree bit-for-bit: synchronous
# updates, init label = node id, new label = the most frequent label
# among neighbors PLUS THE NODE'S OWN current label (self-
# contribution — without it, synchronous LPA on a bipartite graph
# provably oscillates side labels every round and never converges;
# the self-loop damps the flip, the standard fix), ties broken by
# LEXICOGRAPHICALLY SMALLEST label, fixed 2 unrolled rounds (the q105
# fixed-iteration discipline — convergence looping is the same plan
# with a driver delta check).

_LPA_ROUNDS = 2

_Q145 = """
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT 'c:' || c AS src, 's:' || s AS dst FROM e0
      UNION ALL
      SELECT 's:' || s AS src, 'c:' || c AS dst FROM e0),
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
    aug AS (
      SELECT src, dst FROM edges
      UNION ALL
      SELECT node, node FROM l0),
    c1 AS (
      SELECT e.dst AS node, l.lab, COUNT(*) AS cnt
      FROM aug e JOIN l0 l ON l.node = e.src
      GROUP BY e.dst, l.lab),
    l1 AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node
                 ORDER BY cnt DESC, lab) AS rk
        FROM c1) WHERE rk = 1),
    c2 AS (
      SELECT e.dst AS node, l.lab, COUNT(*) AS cnt
      FROM aug e JOIN l1 l ON l.node = e.src
      GROUP BY e.dst, l.lab),
    l2 AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node
                 ORDER BY cnt DESC, lab) AS rk
        FROM c2) WHERE rk = 1)
    SELECT l2.node, l2.lab AS community,
           CAST(COUNT(*) OVER (PARTITION BY l2.lab) AS BIGINT)
             AS community_size
    FROM l2
"""


@query("q145_label_propagation", _Q145)
def q145_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous LPA communities after 2 rounds over
    the transaction graph (see block comment), with each node's final
    community size attached.

    Scale shape: the (src, dst) edge relation is reused by both rounds
    (q105's layout) — the symmetric doubling is an IN-ROW explode and
    the relation is persisted AND MATERIALIZED (r8: the self-union
    form recomputed the order⋈lineitem distinct per leg and the
    unmaterialized cache raced its three consumers — 8 fact scans for
    a 2-table graph build); each round is one node-keyed join, one
    combinable (node, label) count, and an argmax that Spark lowers to
    WindowGroupLimit (map-side partial top-1 per node — the reducer
    sees #nodes rows, not #(node,label) pairs). Label payloads are
    node-id strings (bounded width); a celebrity hub is an AQE
    skew-split case, not a plan change."""
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    cnode = F.concat(F.lit("c:"), F.col("c"))
    snode = F.concat(F.lit("s:"), F.col("s"))
    edges = (
        e0.select(
            F.explode(
                F.array(
                    F.struct(cnode.alias("src"), snode.alias("dst")),
                    F.struct(snode.alias("src"), cnode.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .transform(persist_materialized)
    )
    # one fact read (materialized at persist, owned-only count, r13);
    # nodes + self-loop union read the cache
    nodes = edges.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("lab"))
    # self-contribution: augment the edge relation with self-loops so
    # each node's own label enters its neighbor multiset (see block
    # comment — the bipartite-oscillation fix)
    aug = edges.unionAll(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    ).transform(persist_materialized)
    # materialized at persist (owned-only count, r13) before the two
    # propagation rounds
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("lab"))
    for _ in range(_LPA_ROUNDS):
        counts = (
            aug.join(labels, aug["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node2"), "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumnRenamed("node2", "node")
        )
        labels = (
            counts.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("node", "lab")
        )
    size_w = Window.partitionBy("lab")
    return labels.select(
        "node",
        F.col("lab").alias("community"),
        F.count(F.lit(1)).over(size_w).alias("community_size"),
    )


# --- q149: k-hop BFS reachability from a seed cohort ----------------
#
# The graph family so far covers components (d49), PageRank (q105),
# triangles (q123), and communities (q145); q149 adds the TRAVERSAL
# primitive: minimum hop distance from a seed set, bounded at K hops
# — the "blast radius" query (which customers are within 3 hops of
# the seed suppliers?) that risk/contamination analyses run
# over transaction graphs. Bounded-K is the honest distributed form:
# unbounded shortest path is a convergence loop, while K synchronous
# BFS rounds are K static joins Catalyst can plan as one DAG.
#
# The Spark side is the Pregel-style layered expansion (frontier ⋈
# edges, anti-join against visited, repeat); the DuckDB oracle is the
# textbook recursive CTE with UNION-dedup on (node, hops). Hash
# equality proves the layering: an anti-join bug (revisiting a node
# at a deeper hop) or a lost frontier row changes MIN(hops).
#
# Exactness is trivial (integer hops, string node ids); the content
# being verified is plan correctness, not arithmetic.

_BFS_HOPS = 3

_Q149 = f"""
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT 'c:' || c AS src, 's:' || s AS dst FROM e0
      UNION ALL
      SELECT 's:' || s AS src, 'c:' || c AS dst FROM e0),
    seeds AS (
      SELECT DISTINCT 's:' || s_suppkey AS node
      FROM supplier WHERE s_suppkey % 5 = 0),
    bfs AS (
      SELECT node, CAST(0 AS BIGINT) AS hops FROM seeds
      UNION
      SELECT e.dst AS node, b.hops + 1 AS hops
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.hops < {_BFS_HOPS}),
    dist AS (SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
             FROM bfs GROUP BY node)
    SELECT hops,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN node LIKE 'c:%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_customers,
           MIN(node) AS sample_node
    FROM dist GROUP BY hops
"""


@query("q149_bfs_reachability", _Q149)
def q149_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (≤ _BFS_HOPS) from the seed suppliers
    (s_suppkey ≡ 0 mod 5 — a key-based cohort so the seed set is
    non-empty at every SF; nation-based cohorts are empty at sf0.001)
    over
    the customer↔supplier transaction graph, summarized per hop layer
    (see block comment — Pregel-style layered expansion vs the
    oracle's recursive CTE).

    Scale shape: the symmetric edge list is built once (one distinct
    over the order⋈lineitem key projection, doubled with an IN-ROW
    explode — the r8 rule: a self-union of an unpersisted relation
    recomputes it per leg), PERSISTED and MATERIALIZED — every round
    reuses the cache, hash-partitioned on src, so AQE reuses the edge
    exchange across rounds (the q105 layout). Each round is one
    equi-join frontier⋈edges plus one anti-join against the visited
    set; frontier and visited are node-grain relations (≪ edges).
    K is fixed, so the whole traversal is one declarative DAG — no
    driver-side convergence check. A hub node is an AQE skew-split
    case, not a plan change."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    sup = t(spark, sf_dir, "supplier")
    e0 = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    cnode = F.concat(F.lit("c:"), F.col("c"))
    snode = F.concat(F.lit("s:"), F.col("s"))
    edges = (
        e0.select(
            F.explode(
                F.array(
                    F.struct(cnode.alias("src"), snode.alias("dst")),
                    F.struct(snode.alias("src"), cnode.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .transform(persist_materialized)
    )
    # one fact read (materialized at persist, owned-only count, r13);
    # every BFS round scans the cache
    seeds = (
        sup.where(F.expr("s_suppkey % 5 = 0"))
        .select(F.concat(F.lit("s:"), F.col("s_suppkey")).alias("node"))
        .distinct()
    )
    visited = seeds.select("node", F.lit(0).cast("long").alias("hops")).transform(persist_once)
    frontier = visited.select("node")
    for hop in range(1, _BFS_HOPS + 1):
        nxt = (
            frontier.join(edges, edges["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .transform(persist_once)
        )
        visited = visited.unionByName(
            nxt.select("node", F.lit(hop).cast("long").alias("hops"))
        ).transform(persist_once)
        frontier = nxt
    return visited.groupBy("hops").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.when(F.col("node").startswith("c:"), 1).otherwise(0)).alias(
            "n_customers"
        ),
        F.min("node").alias("sample_node"),
    )


# --- q158: largest-remainder quota allocation (Hamilton method) -----
#
# q79 computes real-valued mixture weights; a sampler needs INTEGER
# document quotas that sum exactly to the batch budget. Naive
# rounding breaks the sum; the largest-remainder (Hamilton) method is
# the standard fix: base_i = floor(N·w_i/W), then the N − Σ base
# leftover slots go to the largest remainders (N·w_i mod W), ties to
# the lexicographically first source. Here each language gets a
# budget of N = 1000 slots allocated across its sources by document
# count — the per-lane quota table a curation run executes against.
#
# Exactness: pure integer arithmetic (floor-div and mod on positive
# int64s — Spark div/pmod ≡ DuckDB /// %); the remainder rank is a
# language-partitioned window. Invariant (asserted in tests and by
# construction): Σ alloc per language = N exactly.

_Q158_N = 1000

_Q158 = f"""
    WITH counts AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang, source),
    tot AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS w FROM counts
            GROUP BY lang),
    quo AS (
      SELECT c.lang, c.source, c.n_docs,
             ({_Q158_N} * c.n_docs) // t.w AS base,
             ({_Q158_N} * c.n_docs) % t.w AS rem
      FROM counts c JOIN tot t ON t.lang = c.lang),
    leftover AS (
      SELECT lang, CAST({_Q158_N} - SUM(base) AS BIGINT) AS extra_slots
      FROM quo GROUP BY lang),
    ranked AS (
      SELECT q.lang, q.source, q.n_docs, q.base, q.rem,
             ROW_NUMBER() OVER (PARTITION BY q.lang
               ORDER BY q.rem DESC, q.source) AS rk,
             l.extra_slots
      FROM quo q JOIN leftover l ON l.lang = q.lang)
    SELECT lang, source, n_docs, CAST(base AS BIGINT) AS base,
           CAST(CASE WHEN rk <= extra_slots THEN 1 ELSE 0 END AS BIGINT)
             AS extra,
           CAST(base + CASE WHEN rk <= extra_slots THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked
"""


@query("q158_largest_remainder_alloc", _Q158)
def q158_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer quota allocation of {n} slots per language across its
    sources by the largest-remainder method (see block comment) —
    floors plus remainder-ranked top-ups, so per-language allocations
    sum EXACTLY to the budget.

    Scale shape: one combinable (lang, source) count over the corpus;
    everything after runs at lane grain (≤ |langs|×|sources| rows)
    with a language-partitioned window and broadcast totals. The
    allocation table then drives per-lane sampling (q95) without any
    further corpus passes."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.groupBy("lang").agg(F.sum("n_docs").alias("w"))
    quo = counts.join(F.broadcast(tot), "lang").select(
        "lang",
        "source",
        "n_docs",
        F.expr(f"({_Q158_N} * n_docs) div w").alias("base"),
        F.expr(f"pmod({_Q158_N} * n_docs, w)").alias("rem"),
    )
    leftover = quo.groupBy("lang").agg(
        (F.lit(_Q158_N) - F.sum("base")).alias("extra_slots")
    )
    wrk = Window.partitionBy("lang").orderBy(F.desc("rem"), F.asc("source"))
    ranked = quo.join(F.broadcast(leftover), "lang").withColumn(
        "rk", F.row_number().over(wrk)
    )
    extra = F.when(F.col("rk") <= F.col("extra_slots"), 1).otherwise(0)
    return ranked.select(
        "lang",
        "source",
        "n_docs",
        "base",
        extra.cast("long").alias("extra"),
        (F.col("base") + extra).cast("long").alias("alloc"),
    )


# --- q165: quota-constrained sample EXECUTION (q158 ∘ q95) ----------
#
# q158 decides per-(lang, source) INTEGER quotas; q165 executes them:
# within each lane, keep exactly min(alloc, lane size) documents by
# the deterministic PPS priority of q95 (Ohlsson sequential Poisson:
# u/n_chars with the Knuth-hash uniform — length-biased, seedless,
# engine-portable). The operator shape that matters: the top-k limit
# is DATA-DEPENDENT (each lane's k comes from the quota table), so
# the static WindowGroupLimit rewrite doesn't apply — the rank filter
# joins the broadcast quota table instead (rank ≤ alloc). Downscaled
# quota: alloc div 10 per lane so the sample is a strict subset at
# every SF.
#
# Exactness: integer quotas (q158 arithmetic), integer hash
# priorities compared as (u * 1e6) div n_chars fixed-point (pure
# int64 — q95 uses a double ratio; the integer form avoids even that
# one IEEE op), ties by doc_id.

from pinot_pulsar_plugin_spark.operators.curation import (  # noqa: E402
    _SP_MOD,
    _SP_MULT,
)

_Q165 = f"""
    WITH counts AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang, source),
    tot AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS w FROM counts
            GROUP BY lang),
    quo AS (
      SELECT c.lang, c.source, c.n_docs,
             (1000 * c.n_docs) // t.w AS base,
             (1000 * c.n_docs) % t.w AS rem
      FROM counts c JOIN tot t ON t.lang = c.lang),
    leftover AS (
      SELECT lang, CAST(1000 - SUM(base) AS BIGINT) AS extra_slots
      FROM quo GROUP BY lang),
    alloc AS (
      SELECT q.lang, q.source,
             CAST((q.base + CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY q.lang ORDER BY q.rem DESC, q.source)
                    <= l.extra_slots THEN 1 ELSE 0 END) // 10 AS BIGINT)
               AS quota
      FROM quo q JOIN leftover l ON l.lang = q.lang),
    pri AS (
      SELECT doc_id, lang, source, n_chars,
             ((((doc_id % {_SP_MOD}) * {_SP_MULT}) % {_SP_MOD} + 1) * 1000000)
               // n_chars AS priority
      FROM documents),
    ranked AS (
      SELECT doc_id, lang, source, n_chars, priority,
             ROW_NUMBER() OVER (PARTITION BY lang, source
               ORDER BY priority, doc_id) AS rk
      FROM pri)
    SELECT r.doc_id, r.lang, r.source, r.n_chars,
           CAST(r.rk AS BIGINT) AS pick_rank, a.quota
    FROM ranked r JOIN alloc a ON a.lang = r.lang AND a.source = r.source
    WHERE r.rk <= a.quota
"""


@query("q165_quota_sample_execution", _Q165)
def q165_quota_sample_execution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the q158 largest-remainder quotas: per (lang, source)
    lane, keep exactly min(quota, lane) docs by the q95 deterministic
    PPS priority (see block comment). The defining plan feature is
    the DATA-DEPENDENT top-k — rank ≤ a per-lane quota joined from
    the allocation table, not a literal WindowGroupLimit.

    Scale shape: quotas compute at lane grain and BROADCAST; the
    corpus pays one lane-keyed sort for the rank and one broadcast
    join for the cutoff. Output size is exactly the summed quotas —
    the sample a training run then reads."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.groupBy("lang").agg(F.sum("n_docs").alias("w"))
    quo = counts.join(F.broadcast(tot), "lang").select(
        "lang",
        "source",
        F.expr("(1000 * n_docs) div w").alias("base"),
        F.expr("pmod(1000 * n_docs, w)").alias("rem"),
    )
    leftover = quo.groupBy("lang").agg(
        (F.lit(1000) - F.sum("base")).alias("extra_slots")
    )
    wrk = Window.partitionBy("lang").orderBy(F.desc("rem"), F.asc("source"))
    alloc = (
        quo.join(F.broadcast(leftover), "lang")
        .withColumn("rk", F.row_number().over(wrk))
        .select(
            "lang",
            "source",
            F.expr(
                "(base + CASE WHEN rk <= extra_slots THEN 1 ELSE 0 END) div 10"
            ).alias("quota"),
        )
    )
    pri = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.expr(
            # r11 audit: ring-reduce before the Knuth multiply (the
            # q95 fix, functions/hashing.py) — exact for every id
            f"({knuth_bucket_sql('doc_id', _SP_MOD)} + 1)"
            " * 1000000 div n_chars"
        ).alias("priority"),
    )
    wlane = Window.partitionBy("lang", "source").orderBy(
        F.asc("priority"), F.asc("doc_id")
    )
    ranked = pri.withColumn("rk", F.row_number().over(wlane))
    return (
        ranked.join(F.broadcast(alloc), ["lang", "source"])
        .where(F.col("rk") <= F.col("quota"))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.col("rk").alias("pick_rank"),
            "quota",
        )
    )


# --- q168: survivorship merge (golden-record construction) ----------
#
# The entity-resolution OUTPUT stage the dedup family feeds: after
# matching decides which records are the same entity (d49's
# components / d51's keeper logic), survivorship merges their FIELDS
# into one golden record under per-field rules. Clusters are injected
# deterministically (entity = c_custkey div 3 — the q148/t60
# pattern); the rules exercised are the three standard shapes:
#   best-record   — name from the record with MAX acctbal
#                   (ties → min custkey): argmax via max(struct(...)),
#   max-value     — acctbal = MAX over the cluster,
#   mode          — mktsegment = most frequent value
#                   (ties → lexicographically first).
# All selections are exact integer/lexicographic comparisons; cents
# presum for the balance.

_Q168 = """
    WITH rec AS (
      SELECT c_custkey // 3 AS entity_id, c_custkey, c_name, c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer),
    best AS (
      SELECT entity_id,
             MAX(bal_cents) AS max_bal_cents,
             CAST(COUNT(*) AS BIGINT) AS n_records
      FROM rec GROUP BY entity_id),
    pick AS (
      SELECT r.entity_id, r.c_name,
             ROW_NUMBER() OVER (PARTITION BY r.entity_id
               ORDER BY r.bal_cents DESC, r.c_custkey) AS rk
      FROM rec r),
    seg AS (
      SELECT entity_id, c_mktsegment,
             ROW_NUMBER() OVER (PARTITION BY entity_id
               ORDER BY COUNT(*) DESC, c_mktsegment) AS rk
      FROM rec GROUP BY entity_id, c_mktsegment)
    SELECT b.entity_id, b.n_records, p.c_name AS golden_name,
           b.max_bal_cents, s.c_mktsegment AS golden_segment
    FROM best b
    JOIN pick p ON p.entity_id = b.entity_id AND p.rk = 1
    JOIN seg s ON s.entity_id = b.entity_id AND s.rk = 1
"""


@query("q168_survivorship_merge", _Q168)
def q168_survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship over injected duplicate clusters:
    best-record, max-value, and mode field rules in one pass (see
    block comment).

    Scale shape: every rule is a combinable aggregate or a
    WindowGroupLimit top-1 on the SAME entity-keyed partitioning —
    one exchange total at cluster grain. Adding a field rule adds a
    column, not a pass; the match stage that produces entity ids is
    d49's component labeling at scale."""
    from pyspark.sql.window import Window

    c = t(spark, sf_dir, "customer")
    rec = c.select(
        F.expr("c_custkey div 3").alias("entity_id"),
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    best = rec.groupBy("entity_id").agg(
        F.max("bal_cents").alias("max_bal_cents"),
        F.count(F.lit(1)).alias("n_records"),
    )
    wp = Window.partitionBy("entity_id").orderBy(
        F.desc("bal_cents"), F.asc("c_custkey")
    )
    pick = (
        rec.withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") == 1)
        .select("entity_id", F.col("c_name").alias("golden_name"))
    )
    ws = Window.partitionBy("entity_id").orderBy(
        F.desc("cnt"), F.asc("c_mktsegment")
    )
    seg = (
        rec.groupBy("entity_id", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rk", F.row_number().over(ws))
        .where(F.col("rk") == 1)
        .select("entity_id", F.col("c_mktsegment").alias("golden_segment"))
    )
    return (
        best.join(pick, "entity_id")
        .join(seg, "entity_id")
        .select(
            "entity_id", "n_records", "golden_name", "max_bal_cents",
            "golden_segment",
        )
    )


# --- q182: bounded cheapest-path cost (weighted Bellman-Ford) --------
#
# q149's weighted sibling: hop count treats a one-order relationship
# and a fifty-order one identically, but supply-chain risk flows more
# easily along STRONG relationships — so edges get an integer cost
# inversely proportional to relationship strength (1e9 // the
# number of lineitems linking the pair),
# and the query asks for the CHEAPEST total cost from the seed
# suppliers within K=3 relaxation rounds (bounded Bellman-Ford, the
# honest distributed form — unbounded SP is a convergence loop).
#
# Both engines run the SAME K synchronous relaxations: dist_{i+1} =
# MIN over (dist_i ∪ dist_i⋈edges). The oracle unrolls the three
# rounds as explicit CTE levels rather than a recursive CTE — path
# enumeration with per-path costs explodes combinatorially on a dense
# bipartite graph, while relaxation stays node-grain at every level.
# Costs are exact int64 sums of integer edge weights, so MIN is
# deterministic cross-engine.

_Q182_K = 3

_Q182 = f"""
    WITH e0 AS (
      SELECT o.o_custkey AS c, l.l_suppkey AS s, COUNT(*) AS cnt
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    edges AS (
      SELECT 'c:' || c AS src, 's:' || s AS dst,
             1000000000 // cnt AS w FROM e0
      UNION ALL
      SELECT 's:' || s AS src, 'c:' || c AS dst,
             1000000000 // cnt AS w FROM e0),
    d0 AS (
      SELECT DISTINCT 's:' || s_suppkey AS node, CAST(0 AS BIGINT) AS cost
      FROM supplier WHERE s_suppkey % 7 = 0),
    d1 AS (
      SELECT node, MIN(cost) AS cost FROM (
        SELECT node, cost FROM d0
        UNION ALL
        SELECT e.dst AS node, d.cost + e.w AS cost
        FROM d0 d JOIN edges e ON e.src = d.node)
      GROUP BY node),
    d2 AS (
      SELECT node, MIN(cost) AS cost FROM (
        SELECT node, cost FROM d1
        UNION ALL
        SELECT e.dst AS node, d.cost + e.w AS cost
        FROM d1 d JOIN edges e ON e.src = d.node)
      GROUP BY node),
    d3 AS (
      SELECT node, MIN(cost) AS cost FROM (
        SELECT node, cost FROM d2
        UNION ALL
        SELECT e.dst AS node, d.cost + e.w AS cost
        FROM d2 d JOIN edges e ON e.src = d.node)
      GROUP BY node)
    SELECT CASE WHEN node LIKE 'c:%' THEN 'customer' ELSE 'supplier' END
             AS node_kind,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(MIN(cost) AS BIGINT) AS min_cost,
           CAST(MAX(cost) AS BIGINT) AS max_cost,
           CAST(SUM(cost) AS BIGINT) AS total_cost
    FROM d3 GROUP BY 1
"""


@query("q182_cheapest_path_cost", _Q182)
def q182_cheapest_path_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest weighted path cost from the seed suppliers within
    {K} Bellman-Ford rounds (see block comment), summarized per node
    kind.

    Scale shape: the weighted symmetric edge list is built by ONE
    (c, s)-keyed aggregate over the order⋈lineitem projection and
    persisted — every relaxation round reuses the same hash layout.
    Each round is one equi-join dist⋈edges plus a node-keyed MIN
    (map-side combinable); dist stays node-grain throughout, so the
    intermediate state never exceeds the vertex set no matter how
    dense the paths are — the property that makes relaxation (not
    path enumeration) the only shape that survives 100 TB."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    sup = t(spark, sf_dir, "supplier")
    e0 = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("w", F.expr("1000000000 div cnt"))
    )
    # both edge directions come from ONE in-row explode, not a unionAll
    # of two e0 projections — union legs are separate stage chains that
    # race the cache and recompute the fact join (measured: the union
    # form cost an extra full join+aggregate pass at sf0.1)
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(
                    F.concat(F.lit("c:"), F.col("c")).alias("src"),
                    F.concat(F.lit("s:"), F.col("s")).alias("dst"),
                    F.col("w"),
                ),
                F.struct(
                    F.concat(F.lit("s:"), F.col("s")).alias("src"),
                    F.concat(F.lit("c:"), F.col("c")).alias("dst"),
                    F.col("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w").repartition("src").transform(persist_once)
    dist = (
        sup.where(F.expr("s_suppkey % 7 = 0"))
        .select(F.concat(F.lit("s:"), F.col("s_suppkey")).alias("node"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
    )
    for _ in range(_Q182_K):
        relaxed = dist.join(edges, edges["src"] == dist["node"]).select(
            F.col("dst").alias("node"), (F.col("cost") + F.col("w")).alias("cost")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .transform(persist_once)
        )
    return dist.groupBy(
        F.when(F.col("node").startswith("c:"), "customer")
        .otherwise("supplier")
        .alias("node_kind")
    ).agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.min("cost").alias("min_cost"),
        F.max("cost").alias("max_cost"),
        F.sum("cost").alias("total_cost"),
    )


# --- q200: curation funnel attrition report -------------------------------
#
# The stage-by-stage attrition table every data-curation run publishes:
# how many documents and tokens survive (0) ingest, (1) the t56
# rule-based quality filter, and (2) exact dedup keeping d43's
# min-doc_id representative — computed over the SAME corpus in one
# operator so the stages reconcile exactly (dedup runs WITHIN the
# quality survivors, as a real pipeline orders it). Reuses t56's
# predicate and d43's normalization byte-for-byte, so this funnel IS
# the composition of those audited operators, not a reimplementation.

_Q200 = f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
      FROM documents),
    b AS (
      SELECT doc_id, tk, h, {{bigram}} AS big FROM toks),
    sig AS (
      SELECT doc_id, h,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS diversity,
             CASE WHEN len(big) > 0
                  THEN 1.0 - CAST(len(list_distinct(big)) AS DOUBLE) / len(big)
                  ELSE 0.0 END AS dupb
      FROM b),
    keepq AS (
      SELECT doc_id, h, n_tokens FROM sig
      WHERE n_tokens >= {{min_tokens}} AND diversity >= {{min_div}}
        AND dupb <= {{max_dupb}}),
    keepd AS (
      SELECT k.doc_id, k.n_tokens
      FROM keepq k
      JOIN (SELECT h, MIN(doc_id) AS keeper FROM keepq GROUP BY h) g
        ON g.h = k.h AND g.keeper = k.doc_id)
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS stage_id, 'raw' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM sig
      UNION ALL
      SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(n_tokens) AS BIGINT) FROM keepq
      UNION ALL
      SELECT 2, 'dedup', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(n_tokens) AS BIGINT) FROM keepd)
"""


def _q200_sql() -> str:
    from pinot_pulsar_plugin_spark.operators.textops import (
        _BIGRAM_SQL,
        _MAX_DUP_BIGRAM,
        _MIN_DIVERSITY,
        _MIN_TOKENS,
    )

    return _Q200.format(
        bigram=_BIGRAM_SQL,
        min_tokens=_MIN_TOKENS,
        min_div=_MIN_DIVERSITY,
        max_dupb=_MAX_DUP_BIGRAM,
    )


@query("q200_curation_funnel", _q200_sql())
def q200_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc/token attrition through ingest → quality → exact dedup
    (see block comment; t56 predicate and d43 normalization reused
    verbatim).

    Scale shape: signals are all in-row array expressions over one
    scan; the quality filter is a predicate; dedup is d43's 16-byte
    digest aggregate within survivors plus one keeper equi-join. The
    three stage rows are unioned scalar aggregates of PERSISTED
    intermediates, so the corpus is scanned once."""
    from pinot_pulsar_plugin_spark.operators.textops import (
        _MAX_DUP_BIGRAM,
        _MIN_DIVERSITY,
        _MIN_TOKENS,
    )

    d = t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    tk = F.split(F.lower("text"), " ")
    big = F.expr(kgram_window(k=2))
    sig = (
        d.select("doc_id", F.md5(norm).alias("h"), tk.alias("tk"))
        .withColumn("big", big)
        .select(
            "doc_id",
            "h",
            F.size("tk").cast("long").alias("n_tokens"),
            (
                F.size(F.array_distinct("tk")).cast("double") / F.size("tk")
            ).alias("diversity"),
            F.when(
                F.size("big") > 0,
                1.0
                - F.size(F.array_distinct("big")).cast("double")
                / F.size("big"),
            )
            .otherwise(0.0)
            .alias("dupb"),
        )
        .transform(persist_once)
    )
    keepq = sig.filter(
        (F.col("n_tokens") >= _MIN_TOKENS)
        & (F.col("diversity") >= _MIN_DIVERSITY)
        & (F.col("dupb") <= _MAX_DUP_BIGRAM)
    ).transform(persist_once)
    keepers = (
        keepq.groupBy("h")
        .agg(F.min("doc_id").alias("keeper"))
        .withColumnRenamed("h", "kh")
    )
    keepd = keepq.join(
        keepers,
        (F.col("kh") == F.col("h")) & (F.col("keeper") == F.col("doc_id")),
    ).select("doc_id", "n_tokens")

    def stage(df, sid, name):
        return df.agg(
            F.lit(sid).cast("long").alias("stage_id"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )

    return (
        stage(sig, 0, "raw")
        .unionByName(stage(keepq, 1, "quality"))
        .unionByName(stage(keepd, 2, "dedup"))
    )
