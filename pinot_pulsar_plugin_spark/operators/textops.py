"""Text analysis operators: stats, language-ID, quality score,
fingerprinting, corpus rollups — all JVM-side expressions (no UDFs), so
they run at scan speed inside whole-stage codegen at any scale.
"""

from __future__ import annotations

from pinot_pulsar_plugin_spark.caching import persist_materialized, persist_once
from pinot_pulsar_plugin_spark.functions.arrays import runs_expr
from pinot_pulsar_plugin_spark.functions.shingles import doc_freq, drop_stop, kgram_window

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinot_pulsar_plugin_spark.operators.common import make_registry, t

QUERIES, ORACLE, query = make_registry()

_STOPWORDS = ["the", "a", "of", "and", "to", "in"]
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"


@query(
    "t50_text_stats",
    f"""
    WITH toks AS (
      SELECT doc_id, text, string_split(lower(text), ' ') AS tk FROM documents)
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len(tk) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(tk)) AS INTEGER) AS n_distinct_tokens,
           CAST(length(text) - (len(tk) - 1) AS DOUBLE) / len(tk) AS avg_token_len,
           CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS DOUBLE)
             / length(text) AS punct_ratio,
           CAST(len(list_intersect(list_distinct(tk), {_SW_SQL})) AS INTEGER)
             AS stopword_hits
    FROM toks
    """,
)
def t50_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics (whitespace tokenizer)."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    n_tokens = F.size(tk)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(tk)).alias("n_distinct_tokens"),
        (
            (F.length("text") - (n_tokens - 1)).cast("double") / n_tokens
        ).alias("avg_token_len"),
        (
            F.length(F.regexp_replace("text", r"[^.!?,;]", "")).cast("double")
            / F.length("text")
        ).alias("punct_ratio"),
        F.size(F.array_intersect(F.array_distinct(tk), sw)).alias("stopword_hits"),
    )


_LANG_MARKERS = [("en", "the"), ("de", "der"), ("fr", "le"), ("es", "el")]


def _lang_case_sql() -> str:
    whens = " ".join(
        f"WHEN list_contains(tk, '{w}') THEN '{lang}'" for lang, w in _LANG_MARKERS
    )
    return f"CASE {whens} ELSE 'other' END"


@query(
    "t51_lang_id",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS tk FROM documents)
    SELECT doc_id, lang, {_lang_case_sql()} AS lang_pred,
           CAST(lang = {_lang_case_sql()} AS INTEGER) AS is_match
    FROM toks
    """,
)
def t51_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID (first-match-wins rule chain) — the
    deterministic n-gram-heuristic pattern; a production version swaps
    the rule chain for a char-n-gram profile scorer, same plan shape."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    pred = F
    expr = None
    for lang, w in _LANG_MARKERS:
        cond = F.array_contains(tk, w)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    pred = expr.otherwise("other")
    return d.select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        (F.col("lang") == pred).cast("int").alias("is_match"),
    )


@query(
    "t52_quality_score",
    f"""
    WITH toks AS (
      SELECT doc_id, text, string_split(lower(text), ' ') AS tk FROM documents)
    SELECT doc_id,
           0.4 * LEAST(len(tk) / 200.0, 1.0)
             + 0.4 * (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk))
             + 0.2 * (CASE WHEN len(list_intersect(list_distinct(tk), {_SW_SQL})) > 0
                      THEN 1.0 ELSE 0.0 END) AS quality
    FROM toks
    """,
)
def t52_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length saturation + lexical diversity +
    stopword presence (the classic pre-training quality-filter shape).
    Pure double arithmetic with fixed association order → bit-equal to
    the oracle."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    quality = (
        0.4 * F.least(F.size(tk) / 200.0, F.lit(1.0))
        + 0.4 * (F.size(F.array_distinct(tk)).cast("double") / F.size(tk))
        + 0.2
        * F.when(F.size(F.array_intersect(F.array_distinct(tk), sw)) > 0, 1.0).otherwise(
            0.0
        )
    )
    return d.select("doc_id", quality.alias("quality"))


@query(
    "t53_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 8)
             AS shard_key
    FROM documents
    """,
)
def t53_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint (md5) + an 8-hex shard prefix —
    the partition-key pattern for content-addressed storage."""
    d = t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    fp = F.md5(norm)
    return d.select("doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("shard_key"))


# Duplicate-n-gram fractions (Gopher/C4-style repetition signals).
# Bigrams are built without exploding: zip the token array with its own
# tail (both engines pad the shorter side with NULL; the dangling last
# pair concats to NULL and is filtered), so the whole computation stays
# a per-row expression inside whole-stage codegen — no shuffle, no UDF.
_BIGRAM_SQL = (
    "list_filter(list_transform(list_zip(tk, tk[2:]), "
    "p -> p[1] || '§' || p[2]), x -> x IS NOT NULL)"
)


def _bigrams(tk):
    tails = F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0)))
    joined = F.zip_with(tk, tails, lambda a, b: F.concat(a, F.lit("§"), b))
    return F.array_compact(joined)


@query(
    "t57_repetition_ratio",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    b AS (
      SELECT doc_id, tk, {_BIGRAM_SQL} AS big FROM toks)
    SELECT doc_id,
           CAST(len(tk) AS INTEGER) AS n_tokens,
           ROUND(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6)
             AS dup_word_frac,
           ROUND(CASE WHEN len(big) > 0
                 THEN 1.0 - CAST(len(list_distinct(big)) AS DOUBLE) / len(big)
                 ELSE 0.0 END, 6) AS dup_bigram_frac
    FROM b
    """,
)
def t57_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals: fraction of duplicate words
    and duplicate bigrams (the Gopher repetition-filter family). Pure
    array expressions — runs at scan speed at any scale."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    big = _bigrams(tk)
    dup_w = 1.0 - F.size(F.array_distinct(tk)).cast("double") / F.size(tk)
    dup_b = F.when(
        F.size(big) > 0,
        1.0 - F.size(F.array_distinct(big)).cast("double") / F.size(big),
    ).otherwise(0.0)
    return d.select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        F.round(dup_w, 6).alias("dup_word_frac"),
        F.round(dup_b, 6).alias("dup_bigram_frac"),
    )


# Rule thresholds chosen to split the synthetic corpus non-trivially
# (n_tokens 10-99 median 56; diversity p10 0.32; dup-bigram p90 0.065).
_MIN_TOKENS = 20
_MIN_DIVERSITY = 0.35
_MAX_DUP_BIGRAM = 0.08


@query(
    "t56_quality_filter",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    b AS (
      SELECT doc_id, tk, {_BIGRAM_SQL} AS big FROM toks),
    sig AS (
      SELECT doc_id,
             len(tk) AS n_tokens,
             CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS diversity,
             CASE WHEN len(big) > 0
                  THEN 1.0 - CAST(len(list_distinct(big)) AS DOUBLE) / len(big)
                  ELSE 0.0 END AS dupb
      FROM b)
    SELECT doc_id,
           CAST(n_tokens >= {_MIN_TOKENS} AS INTEGER) AS pass_length,
           CAST(diversity >= {_MIN_DIVERSITY} AS INTEGER) AS pass_diversity,
           CAST(dupb <= {_MAX_DUP_BIGRAM} AS INTEGER) AS pass_repetition,
           CAST(n_tokens >= {_MIN_TOKENS} AND diversity >= {_MIN_DIVERSITY}
                AND dupb <= {_MAX_DUP_BIGRAM} AS INTEGER) AS keep,
           CASE WHEN n_tokens < {_MIN_TOKENS} THEN 'too_short'
                WHEN diversity < {_MIN_DIVERSITY} THEN 'low_diversity'
                WHEN dupb > {_MAX_DUP_BIGRAM} THEN 'repetitive'
                ELSE NULL END AS reject_reason
    FROM sig
    """,
)
def t56_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document quality filter: named pass/fail flags per
    rule plus a first-failing-rule reject reason — the decision operator
    real cleaning pipelines run downstream of signal scoring (t50/t52/
    t57). One pass over the scan, no shuffle; the keep column is the
    pre-training corpus gate."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    big = _bigrams(tk)
    n_tokens = F.size(tk)
    diversity = F.size(F.array_distinct(tk)).cast("double") / n_tokens
    dupb = F.when(
        F.size(big) > 0,
        1.0 - F.size(F.array_distinct(big)).cast("double") / F.size(big),
    ).otherwise(0.0)
    pass_len = n_tokens >= _MIN_TOKENS
    pass_div = diversity >= _MIN_DIVERSITY
    pass_rep = dupb <= _MAX_DUP_BIGRAM
    return d.select(
        "doc_id",
        pass_len.cast("int").alias("pass_length"),
        pass_div.cast("int").alias("pass_diversity"),
        pass_rep.cast("int").alias("pass_repetition"),
        (pass_len & pass_div & pass_rep).cast("int").alias("keep"),
        F.when(~pass_len, "too_short")
        .when(~pass_div, "low_diversity")
        .when(~pass_rep, "repetitive")
        .otherwise(F.lit(None).cast("string"))
        .alias("reject_reason"),
    )


@query(
    "t58_vocab_stats",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    v AS (
      SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT v.token, v.tf, v.df,
           ROUND(ln(n.n_docs / v.df), 6) AS idf
    FROM v CROSS JOIN n
    """,
)
def t58_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: term frequency, document
    frequency, and idf per token — the input to tokenizer/BPE training
    and stop-list derivation. One explode + one hash aggregate keyed on
    token (map-side combinable; the shuffle carries one row per
    distinct term per task, not per occurrence); the corpus doc count
    is a broadcast scalar."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    vocab = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return vocab.crossJoin(F.broadcast(n_docs)).select(
        "token",
        "tf",
        "df",
        F.round(F.log(F.col("n_docs") / F.col("df")), 6).alias("idf"),
    )


# PII redaction. The synthetic corpus contains no PII, so the operator
# injects deterministic synthetic PII (email/phone/IPv4 derived from
# doc_id — pure string/modulo arithmetic, identical in both engines)
# and then redacts it: an inject-then-redact differential that proves
# the redaction regexes and replacement semantics match the oracle
# engine exactly, which is the part that matters for a real corpus.
# Patterns avoid lookarounds/backreferences so Java regex (Spark) and
# RE2 (DuckDB) agree; counts are taken on the pre-redaction text (the
# three pattern families are disjoint by construction: emails are
# redacted first, phones use dashes where IPs require dots).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
_IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


@query(
    "t60_pii_redaction",
    f"""
    WITH dirty AS (
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 3 = 0
             THEN ' contact ' || source || '.' || CAST(doc_id AS VARCHAR)
                  || '@example.com' ELSE '' END
        || CASE WHEN doc_id % 5 = 0
             THEN ' call +1-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
             ELSE '' END
        || CASE WHEN doc_id % 7 = 0
             THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                  || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) ELSE '' END AS dt
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(dt, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(dt, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
           CAST(len(regexp_extract_all(dt, '{_IP_RE}')) AS INTEGER) AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(dt, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g'),
             '{_IP_RE}', '<IP>', 'g') AS redacted
    FROM dirty
    """,
)
def t60_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails, phone numbers, and IPv4
    addresses with placeholder tokens — the privacy gate every
    training-data pipeline runs before the corpus leaves the cleaning
    stage. Pure JVM-side ``regexp_count``/``regexp_replace`` (no UDFs),
    so it runs at scan speed inside whole-stage codegen at any corpus
    size. The synthetic corpus has no PII, so the operator injects
    deterministic doc_id-derived PII first and redacts it — proving
    redaction semantics differentially against the oracle engine.

    Scale shape: one codegen'd scan projection — no UDF, no shuffle,
    no driver involvement at any corpus size."""
    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" contact "), F.col("source"), F.lit("."), did.cast("string"),
        F.lit("@example.com"),
    )
    phone = F.concat(
        F.lit(" call +1-"),
        F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(((did * 7) % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(((did * 13) % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit(" host 10."), (did % 256).cast("string"),
        F.lit("."), ((did * 7) % 256).cast("string"),
        F.lit("."), ((did * 13) % 256).cast("string"),
    )
    dirty = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, email).otherwise(""),
        F.when(did % 5 == 0, phone).otherwise(""),
        F.when(did % 7 == 0, ip).otherwise(""),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(dirty, _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE, "<PHONE>",
        ),
        _IP_RE, "<IP>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(dirty, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(dirty, F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_count(dirty, F.lit(_IP_RE)).alias("n_ips"),
        redacted.alias("redacted"),
    )


@query(
    "t54_corpus_stats_by_lang",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def t54_corpus_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup per language (doc counts, char/token volume,
    source diversity) — integer sums, exactly reproducible."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


# t59 winnowing: polynomial rolling hash over token 3-grams, then the
# MOSS winnowing selection (min hash per sliding window of 4) — the
# rolling-hash fingerprint family, as pure array expressions via the
# same zip-with-tail idiom as the bigram builder (no explode, no UDF).
_WIN_MOD = 1_000_003
_WIN_BASE = 256


def _rolling_hashes(tk):
    """k=3 rolling hashes of the token-value sequence (valid entries
    only; the two dangling tail positions are dropped)."""
    v = F.transform(
        tk,
        lambda s: (
            F.ascii(s).cast("long") * 65599
            + F.length(s).cast("long") * 31
            + F.ascii(F.reverse(s)).cast("long")
        ) % _WIN_MOD,
    )
    t2 = F.slice(v, 2, F.greatest(F.size(v) - 1, F.lit(0)))
    t3 = F.slice(v, 3, F.greatest(F.size(v) - 2, F.lit(0)))
    pair = F.zip_with(v, t2, lambda a, b: F.when(b.isNull(), None).otherwise(a * _WIN_BASE + b))
    return F.array_compact(
        F.zip_with(
            pair,
            t3,
            lambda ab, c: F.when(ab.isNull() | c.isNull(), None).otherwise(
                (ab * _WIN_BASE + c) % _WIN_MOD
            ),
        )
    )


@query(
    "t59_winnow_fingerprint",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    vals AS (
      SELECT doc_id, list_transform(tk,
               t -> (CAST(ascii(t) AS BIGINT) * 65599
                     + CAST(length(t) AS BIGINT) * 31
                     + CAST(ascii(reverse(t)) AS BIGINT)) % {_WIN_MOD}) AS v
      FROM toks),
    roll AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 list_zip(list_transform(list_zip(v, v[2:]),
                     p -> CASE WHEN p[2] IS NULL THEN NULL
                          ELSE p[1] * {_WIN_BASE} + p[2] END), v[3:]),
                 q -> CASE WHEN q[1] IS NULL OR q[2] IS NULL THEN NULL
                      ELSE (q[1] * {_WIN_BASE} + q[2]) % {_WIN_MOD} END),
               x -> x IS NOT NULL) AS h
      FROM vals),
    winnow AS (
      SELECT doc_id, h,
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
      FROM roll)
    SELECT doc_id,
           CAST(len(h) AS INTEGER) AS n_hashes,
           CAST(len(list_distinct(m)) AS INTEGER) AS n_fingerprints,
           md5(array_to_string(list_sort(list_distinct(m)), ',')) AS fp_digest
    FROM winnow
    """,
)
def t59_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting with winnowing (the MOSS
    scheme): k=3 token-gram polynomial rolling hashes, then the minimum
    hash of every sliding window of 4 is selected; the sorted distinct
    selection digests to the document fingerprint. Guarantees of the
    scheme: any shared token run of length >= k+3 yields a shared
    selected hash, so near-duplicate documents share fingerprint
    members. Entirely per-row array expressions (the zip-with-tail
    idiom) — no explode, no shuffle, scan-speed at any corpus size;
    complement to t53's whole-content md5 (robust to local edits where
    md5 is not)."""
    return winnow_fingerprints(t(spark, sf_dir, "documents"))


def winnow_selection(tk):
    """The winnowed min-hash array (with repeats) for a token-array
    column — the shared core of t59's digest and d54's pair join."""
    h = _rolling_hashes(tk)
    min2 = F.zip_with(
        h,
        F.slice(h, 2, F.greatest(F.size(h) - 1, F.lit(0))),
        lambda a, b: F.when(b.isNull(), None).otherwise(F.least(a, b)),
    )
    # min2[i] = min(h[i], h[i+1]); pairing it with min2 at offset 2
    # gives m[i] = min(h[i..i+3]) — the true minimum of every sliding
    # window of 4 (offset 3 skipped h[i+2]; ADVICE r2 medium).
    m = F.array_compact(
        F.zip_with(
            min2,
            F.slice(min2, 3, F.greatest(F.size(min2) - 2, F.lit(0))),
            lambda a, b: F.when(a.isNull() | b.isNull(), None).otherwise(
                F.least(a, b)
            ),
        )
    )
    return h, m


def winnow_fingerprints(d: DataFrame) -> DataFrame:
    """Winnowing selection over any (doc_id, text) frame — factored out
    of t59 so the property suite can drive it on adversarial token
    streams against a brute-force min-of-window reference
    (tests/test_textops_semantics.py)."""
    h, m = winnow_selection(F.split(F.lower("text"), " "))
    fps = F.array_sort(F.array_distinct(m))
    return d.select(
        "doc_id",
        F.size(h).alias("n_hashes"),
        F.size(F.array_distinct(m)).alias("n_fingerprints"),
        F.md5(F.array_join(F.transform(fps, lambda x: x.cast("string")), ",")).alias(
            "fp_digest"
        ),
    )


@query(
    "t61_token_surprisal",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    v AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(ROUND(ln(n.n_docs / v.df) * 1000000) AS BIGINT))
                // COUNT(*) AS DOUBLE) / 1000000.0 AS mean_surprisal
    FROM tok t JOIN v USING (token) CROSS JOIN n
    GROUP BY t.doc_id
    """,
)
def t61_token_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token surprisal (mean idf of its tokens) — the
    cheap perplexity proxy: documents of globally-rare tokens score
    high (gibberish/noise candidates), boilerplate scores low. The
    per-token idf is rounded to fixed-point BEFORE the per-doc sum so
    the aggregation is an order-independent integer sum (double sums
    reassociate differently per engine — functions/exact.py pattern),
    and the mean is an integer micro-unit division (never ROUND on a
    quotient — the t63 half-boundary rule; the sf0.1 sweep caught the
    ROUND form diverging on 3 of 5000 docs).

    Scale shape: one explode, a map-side-combinable df aggregate keyed
    on token, an equi-join back on token, and the per-doc aggregate —
    every exchange is keyed and combinable, nothing quadratic."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf_fp = F.round(F.log(F.col("n_docs") / F.col("df")) * 1000000).cast("long")
    return (
        tok.join(vocab, "token")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(idf_fp).alias("_s_fp"),
        )
        # integer micro-unit division (the t63 rule): ROUND(x, 6) on a
        # quotient that can land exactly on a 5e-7 boundary rounds
        # differently per engine — sf0.1 sweep caught 3 such docs
        .select(
            "doc_id",
            "n_tokens",
            (F.expr("CAST(_s_fp div n_tokens AS DOUBLE)") / 1000000.0).alias(
                "mean_surprisal"
            ),
        )
    )

_T62_MAX_TOP3_FRAC = 0.18  # Gopher cut: chars in the top 3-gram


@query(
    "t62_top_ngram_coverage",
    f"""
    WITH toks AS (
      SELECT doc_id, length(text) AS n_chars,
             string_split(lower(text), ' ') AS tk
      FROM documents),
    grams AS (
      SELECT doc_id, n_chars,
             unnest(CASE WHEN len(tk) >= 3 THEN
               list_transform(generate_series(1, len(tk) - 2),
                 i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1]
                      || ' ' || tk[CAST(i AS INT) + 2])
             ELSE [] END) AS gram
      FROM toks),
    counts AS (
      SELECT doc_id, n_chars, gram, COUNT(*) AS cnt
      FROM grams GROUP BY doc_id, n_chars, gram),
    ranked AS (
      SELECT doc_id, n_chars, gram, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY cnt * length(gram) DESC, gram) AS rn
      FROM counts)
    SELECT t.doc_id, t.n_chars, r.gram AS top_gram,
           CAST(COALESCE(r.cnt, 0) AS BIGINT) AS top_count,
           CASE WHEN r.cnt >= 2 THEN
             CAST(r.cnt * length(r.gram) AS DOUBLE) / t.n_chars
           ELSE 0.0 END AS top_char_frac,
           CASE WHEN r.cnt >= 2 THEN
             CAST(r.cnt * length(r.gram) AS DOUBLE) / t.n_chars
           ELSE 0.0 END <= {_T62_MAX_TOP3_FRAC} AS keep_top_ngram
    FROM toks t LEFT JOIN ranked r ON r.doc_id = t.doc_id AND r.rn = 1
    """,
)
def t62_top_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top n-gram character coverage — the Gopher repetition rule t57
    does NOT capture: the fraction of a document's characters covered
    by its single most frequent 3-gram (count × gram length / chars),
    cut at 0.18. t57's duplicate-fraction treats ten copies of one long
    slogan the same as ten scattered short dups; this rule weights by
    the characters the repeated phrase actually occupies, which is how
    looping boilerplate dominates a page. Tie-break: highest char
    coverage, then lexicographically smallest gram — deterministic for
    the oracle. Documents under 3 tokens keep NULL top_gram, 0.0
    coverage, keep=true; a top gram occurring once scores 0 (unique
    text is not repetition).

    Scale shape (100 TB): the whole computation is PER-DOCUMENT, so it
    runs as a ZERO-SHUFFLE narrow map (r13): each row's 3-gram array is
    sorted and a single linear fold finds the best (count × length)
    run — the explode → (doc_id, gram) count exchange → per-doc window
    → spine join of the previous form all collapse into the scan
    projection. Tie-break is preserved structurally: runs are visited
    in ascending gram order and only a STRICTLY greater score replaces
    the champion, which is exactly ORDER BY cnt*length(gram) DESC,
    gram ASC rank 1. (Measured at sf0.1: 1.21s → 0.94s; plan 2
    exchanges + window + join → 0 exchanges.)"""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars"), F.split(F.lower("text"), " ").alias("tk")
    )
    # in-row champion fold over the sorted gram array: acc carries the
    # current run (prev, run) and the best-so-far (bs=score, bc=count,
    # bg=gram); a run is scored when the next run starts and once more
    # at finish
    top = F.expr(
        "aggregate("
        f"  array_sort({kgram_window(k=3)}),"
        "  named_struct('prev', CAST(NULL AS STRING), 'run', 0L,"
        "               'bs', -1L, 'bc', 0L, 'bg', CAST(NULL AS STRING)),"
        "  (acc, g) -> IF(g <=> acc.prev,"
        "    named_struct('prev', acc.prev, 'run', acc.run + 1L,"
        "                 'bs', acc.bs, 'bc', acc.bc, 'bg', acc.bg),"
        "    IF(acc.prev IS NOT NULL AND acc.run * length(acc.prev) > acc.bs,"
        "      named_struct('prev', g, 'run', 1L,"
        "                   'bs', acc.run * length(acc.prev), 'bc', acc.run, 'bg', acc.prev),"
        "      named_struct('prev', g, 'run', 1L,"
        "                   'bs', acc.bs, 'bc', acc.bc, 'bg', acc.bg))),"
        "  acc -> IF(acc.prev IS NOT NULL AND acc.run * length(acc.prev) > acc.bs,"
        "    named_struct('cnt', acc.run, 'gram', acc.prev),"
        "    named_struct('cnt', acc.bc, 'gram', acc.bg)))"
    )
    withtop = d.select(
        "doc_id", "n_chars",
        top.getField("gram").alias("top_gram"),
        top.getField("cnt").alias("cnt"),
    )
    # a gram seen once is not repetition: coverage only counts when the
    # top gram actually repeats (count >= 2) — otherwise every short
    # document fails the cut on its own unique words
    frac = F.when(
        F.col("cnt") >= 2,
        (F.col("cnt") * F.length("top_gram")).cast("double") / F.col("n_chars"),
    ).otherwise(F.lit(0.0))
    return withtop.select(
        "doc_id",
        "n_chars",
        "top_gram",
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("top_count"),
        frac.alias("top_char_frac"),
        (frac <= F.lit(_T62_MAX_TOP3_FRAC)).alias("keep_top_ngram"),
    )


@query(
    "t63_bigram_surprisal",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    tok AS (SELECT unnest(tk) AS w FROM toks),
    uni AS (SELECT w, COUNT(*) AS c_a FROM tok GROUP BY w),
    v AS (SELECT COUNT(DISTINCT w) AS vs FROM tok),
    bg AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) >= 2 THEN
               list_transform(generate_series(1, len(tk) - 1),
                 i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1])
             ELSE [] END) AS b
      FROM toks),
    cb AS (SELECT b, COUNT(*) AS c_ab FROM bg GROUP BY b)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(ROUND(
               ln((CAST(u.c_a AS DOUBLE) + CAST(v.vs AS DOUBLE))
                  / (CAST(cb.c_ab AS DOUBLE) + 1.0)) * 1000000) AS BIGINT))
             // COUNT(*) AS DOUBLE) / 1000000.0 AS mean_surprisal
    FROM bg g
    JOIN cb ON cb.b = g.b
    JOIN uni u ON u.w = split_part(g.b, ' ', 1)
    CROSS JOIN v
    GROUP BY g.doc_id
    """,
)
def t63_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus's own
    add-one-smoothed bigram LM: -ln P(w_i | w_{i-1}) with
    P(b|a) = (c(ab)+1)/(c(a)+V), averaged over the document. The
    step beyond t61's unigram idf: a document of common words in
    UNCOMMON order (shuffled/templated/spun text) now scores high —
    the cheap fluency proxy a quality pipeline runs where a neural LM
    is too expensive. Per-term values are fixed-pointed BEFORE the
    per-doc sum (order-independent integer aggregation, the t61/
    functions/exact.py pattern).

    Scale shape: bigrams form in-row (transform over the token array,
    no explode until the count tables), both count tables are map-side-
    combinable aggregates, the rejoin keys are the bigram/token strings
    (the same keyed-equi-join shape as t61), and V broadcasts as one
    row. Nothing quadratic, no Python. r13: the per-doc surprisal sum
    re-joins DISTINCT (doc, bigram) rows weighted by their in-doc count
    — occurrence volume never crosses the count-table joins (integer
    identity: Σ_occurrences fp ≡ Σ_distinct c·fp) — and V is |uni| (the
    unigram group count), dropping the second full token pass that
    COUNT(DISTINCT w) cost."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
    tok = toks.select(F.explode("tk").alias("w"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_a"))
    v = uni.agg(F.count(F.lit(1)).alias("vs"))
    bg = toks.select("doc_id", F.explode(F.expr(kgram_window(k=2))).alias("b"))
    bgc = bg.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c_doc"))
    cb = bgc.groupBy("b").agg(F.sum("c_doc").alias("c_ab"))
    term_fp = F.round(
        F.log(
            (F.col("c_a").cast("double") + F.col("vs").cast("double"))
            / (F.col("c_ab").cast("double") + 1.0)
        )
        * 1000000
    ).cast("long")
    return (
        bgc.join(cb, "b")
        .join(uni, F.col("w") == F.substring_index("b", " ", 1))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.sum("c_doc").alias("n_bigrams"),
            F.sum(F.col("c_doc") * term_fp).alias("_s_fp"),
        )
        # integer micro-units division — no ROUND boundary for the
        # engines to disagree on (S/n landed exactly on a 1e-6
        # half-boundary at sf0.1; round() semantics differ there)
        .select(
            "doc_id",
            "n_bigrams",
            (F.expr("CAST(_s_fp div n_bigrams AS DOUBLE)") / 1000000.0).alias(
                "mean_surprisal"
            ),
        )
    )


_CHUNK_LEN = 200  # chars per chunk
_CHUNK_STRIDE = 150  # start-to-start distance -> 50-char overlap


@query(
    "t64_doc_chunking",
    f"""
    SELECT d.doc_id,
           CAST((s.start - 1) / {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
           CAST(s.start AS INTEGER) AS chunk_start,
           substr(d.text, CAST(s.start AS INTEGER), {_CHUNK_LEN}) AS chunk_text,
           length(substr(d.text, CAST(s.start AS INTEGER), {_CHUNK_LEN}))
             AS chunk_len
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(1, CAST(d.n_chars AS INTEGER),
                                                {_CHUNK_STRIDE})) AS start) s
    """,
)
def t64_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking ({_CHUNK_LEN}-char windows every
    {_CHUNK_STRIDE} chars): the retrieval/embedding preprocessing step
    that turns documents into context-window-sized passages with enough
    overlap that no boundary sentence is lost. Offsets are emitted so
    chunks remain traceable to their source span (provenance — required
    for dedup-after-chunking and citation).

    Scale shape: pure narrow map — sequence() + posexplode inside
    whole-stage codegen, zero shuffles, no UDF; output size is
    chars/stride per doc, streamed straight to the sink. Both engines
    use 1-based, end-clipped substr so chunk text is byte-identical."""
    d = t(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1), F.col("n_chars").cast("int"), F.lit(_CHUNK_STRIDE)
    )
    ex = d.select(
        "doc_id", "text", F.posexplode(starts).alias("chunk_id", "chunk_start")
    )
    chunk = F.substring(F.col("text"), F.col("chunk_start"), _CHUNK_LEN)
    return ex.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        chunk.alias("chunk_text"),
        F.length(chunk).alias("chunk_len"),
    )


_VOCAB_K = 100  # corpus-wide top-K bigrams kept


@query(
    "t65_top_bigrams",
    f"""
    WITH toks AS (
      SELECT string_split(lower(text), ' ') AS tk FROM documents),
    bg AS (
      SELECT unnest(CASE WHEN len(tk) >= 2 THEN
               list_transform(generate_series(1, len(tk) - 1),
                 i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1])
             ELSE [] END) AS bigram
      FROM toks)
    SELECT bigram, COUNT(*) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT {_VOCAB_K}
    """,
)
def t65_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-{_VOCAB_K} word bigrams — the frequency table a
    BPE/WordPiece merge step or collocation miner starts from (t58's
    vocab stats are unigram; this is the n>1 companion). Deterministic
    lexicographic tie-break so the cut is stable.

    Scale shape: in-row bigram construction (transform over the token
    array — no shuffle), one map-side-combinable count keyed on the
    bigram, then global top-K via sort+limit which compiles to
    TakeOrderedAndProject: each task forwards only its local top-K, the
    driver merges K-sized heaps — no global sort, no partition-less
    window, no full result materialization at any corpus size."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.slice(tk, 1, F.size(tk) - 1),
            lambda w, i: F.concat_ws(" ", w, F.element_at(tk, i + 2)),
        ),
    ).otherwise(F.array())
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(_VOCAB_K)
    )


_FH_BUCKETS = 512  # hashed feature space (Weinberger et al. hashing trick)


@query(
    "t66_feature_hashing",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents),
    h AS (
      SELECT doc_id,
             CAST(CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT)
                  % {_FH_BUCKETS} AS INTEGER) AS bucket,
             CASE WHEN CAST(concat('0x', substr(md5(w), 9, 1)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM tok)
    SELECT doc_id, bucket,
           CAST(SUM(sgn) AS BIGINT) AS signed_count,
           COUNT(*) AS n_tokens
    FROM h GROUP BY doc_id, bucket
    """,
)
def t66_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): project each
    document's token counts into a fixed {_FH_BUCKETS}-bucket feature
    space with a sign hash, so collisions cancel in expectation — the
    vocabulary-free featurization a linear classifier or quality model
    trains on without a vocab-build pass (no global state, new tokens
    never resize anything).

    Cross-engine hash portability: Spark xxhash64 has no DuckDB
    counterpart, so the bucket/sign derive from md5 hex prefixes parsed
    as integers — identical on both engines (conv(,16,10) ≡ '0x' cast),
    proven by the exact oracle.

    Scale shape: per-row hashing (no vocabulary broadcast, no
    dictionary shuffle), one map-side-combinable aggregate keyed
    (doc_id, bucket) — output is bounded by docs x buckets and the
    sparse form ships straight to training."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    bucket = F.expr(
        f"CAST(CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT)"
        f" % {_FH_BUCKETS} AS INT)"
    )
    sgn = F.expr(
        "CASE WHEN CAST(conv(substr(md5(w), 9, 1), 16, 10) AS BIGINT) % 2 = 0"
        " THEN 1 ELSE -1 END"
    )
    return (
        tok.select("doc_id", bucket.alias("bucket"), sgn.alias("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.sum("sgn").cast("long").alias("signed_count"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# t67: in-row token entropy — information-density quality signal
# ---------------------------------------------------------------------------
#
# Shannon entropy of the document's own token distribution,
# H = ln(n) - (1/n) * sum_i c_i * ln(c_i) — the information-theoretic
# complement to t52's diversity ratio and t57's repetition fractions:
# near 0 for looped boilerplate (one dominant token), near ln(n) for
# fully diverse text; the standard gibberish/template screen.
#
# Everything happens INSIDE the row (whole-stage codegen, zero
# shuffle): per-token counts come from filtering the token array
# against its own sorted distinct list, each term is fixed-pointed as
# c * ROUND(ln(c) * 1e6) (the t61 presum pattern — integer sums are
# order-independent), and the final value is an integer micro-unit
# subtraction/division (the t63 rule — never ROUND on a quotient).
# Per-row cost is O(distinct x tokens) string compares, bounded by the
# document length — compute-local, scale-free.


@query(
    "t67_token_entropy",
    """
    WITH per AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk
      FROM documents),
    c AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
             list_transform(
               list_sort(list_distinct(tk)),
               t -> CAST(len(list_filter(tk, x -> x = t)) AS BIGINT)) AS cnts
      FROM per)
    SELECT doc_id, n_tokens,
           CAST(len(cnts) AS BIGINT) AS n_distinct,
           CAST(ROUND(ln(n_tokens) * 1000000) AS BIGINT)
             - (list_reduce(
                  list_transform(
                    cnts,
                    c -> c * CAST(ROUND(ln(c) * 1000000) AS BIGINT)),
                  (a, b) -> a + b) // n_tokens) AS entropy_micro
    FROM c
    """,
)
def t67_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy in integer micro-nats
    (see block comment). Zero-shuffle pure-codegen scan; fixed-point
    term sums keep it bit-equal to the oracle.

    Scale shape: an in-row expression over a column-pruned scan;
    per-token counts come from the sorted-run fold (O(n log n) per
    row), with one integer division at the end. Zero exchanges at any
    corpus size."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    base = d.select("doc_id", tk.alias("tk"))
    # r13: counts from the sorted-run fold (functions/arrays.py) —
    # O(n log n) per row instead of the O(distinct × n)
    # filter-per-distinct-token scan; runs are emitted in ascending
    # token order, exactly the order array_sort(array_distinct(tk))
    # produced, so the fixed-point entropy fold sees identical values
    # in the identical sequence. Measured at sf0.1: 0.61 → 0.36 s.
    c = base.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.expr(f"transform({runs_expr('tk')}, r -> r.c)").alias("cnts"),
    )
    sum_micro = F.aggregate(
        F.transform(
            "cnts",
            lambda cc: cc * F.round(F.log(cc.cast("double")) * 1000000).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sums = c.select(
        "doc_id",
        "n_tokens",
        F.size("cnts").cast("long").alias("n_distinct"),
        sum_micro.alias("_s"),
    )
    return sums.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (
            F.round(F.log(F.col("n_tokens").cast("double")) * 1000000).cast("long")
            - F.expr("_s div n_tokens")
        ).alias("entropy_micro"),
    )


# ---------------------------------------------------------------------------
# t68: top-k TF-IDF keywords per document
# ---------------------------------------------------------------------------
#
# Keyword extraction — the labeling/routing step (RAG metadata, topic
# tags, index keys) downstream of t58's corpus vocabulary: score every
# (doc, term) by tf x idf and keep each document's top 3. Scores are
# integer micro-units, tf * ROUND(ln(n_docs/df) * 1e6) — the t61
# presum pattern, so ranking compares exact integers and the (score
# DESC, token ASC) tiebreak is deterministic cross-engine.

_TFIDF_TOP_K = 3


@query(
    "t68_top_keywords",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok GROUP BY doc_id, token),
    v AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             tf.tf * CAST(ROUND(ln(n.n_docs / v.df) * 1000000) AS BIGINT)
               AS score_micro
      FROM tf JOIN v USING (token) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, token, score_micro,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score_micro DESC, token) AS rank
      FROM scored)
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, token, score_micro
    FROM ranked WHERE rank <= {_TFIDF_TOP_K}
    """,
)
def t68_top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TFIDF_TOP_K} TF-IDF keywords per document (see block
    comment).

    Scale shape: one (doc_id, token) combinable aggregate, one
    token-keyed df aggregate + equi-join back (both map-side
    combinable; the token join key is the only vocabulary-sized
    exchange), and the per-doc top-k lowers to WindowGroupLimit so
    each map task forwards at most k candidate rows per document
    before the doc_id exchange. The corpus doc count is a broadcast
    one-row relation — a bounded product, never data x data."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(vocab, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf")
                * F.round(F.log(F.col("n_docs") / F.col("df")) * 1000000).cast("long")
            ).alias("score_micro"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_micro"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TFIDF_TOP_K)
        .select("doc_id", "rank", "token", "score_micro")
    )


# ---------------------------------------------------------------------------
# t69: BM25 full-text search (the TEXT_MATCH serving surface)
# ---------------------------------------------------------------------------
#
# Pinot serves TEXT_MATCH from a Lucene index; the Spark-native form is
# the same inverted-index computation declared relationally: tokenize →
# per-(doc, term) tf restricted to the query terms → df-based idf →
# BM25 score → top-k. The Okapi BM25 parameters are the standard
# k1=1.2, b=0.75; idf is the Robertson-Sparck-Jones form
# ln(1 + (N - df + 0.5)/(df + 0.5)).
#
# Exactness: the per-(doc, term) score is one double expression with a
# fixed operation order (identical IEEE result both engines), then
# fixed-pointed (presum) so the per-doc sum is an order-free integer
# sum; ranking ties break on doc_id.

_BM25_QUERY = ("spark", "stream", "window")  # fixed query term set
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOP_K = 20

_BM25_TERMS_SQL = "('" + "', '".join(_BM25_QUERY) + "')"


@query(
    "t69_bm25_search",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    dl AS (
      SELECT doc_id, COUNT(*) AS dlen FROM tok GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dlen) AS DOUBLE) / COUNT(*)
               AS avg_len
      FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tok WHERE term IN {_BM25_TERMS_SQL}
      GROUP BY doc_id, term),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      -- every fractional literal is e-notation (0.5e0, 1.2e0, 0.75e0):
      -- DuckDB types bare 0.5/1.2 as DECIMAL and evaluates the inner
      -- arithmetic exactly, converting to double LATER than Spark's
      -- all-double pipeline — confirmed 1-ulp divergence (tf*2.2:
      -- 6.6000000000000005 vs 6.5999999999999996), the t61
      -- half-boundary hazard class
      SELECT tf.doc_id,
             CAST(ROUND(
               ln(1 + (stats.n_docs - dfreq.df + 0.5e0) / (dfreq.df + 0.5e0))
               * (tf.tf * ({_BM25_K1}e0 + 1))
               / (tf.tf + {_BM25_K1}e0
                  * (1 - {_BM25_B}e0 + {_BM25_B}e0 * dl.dlen / stats.avg_len))
               * 1000000) AS BIGINT) AS s_micro
      FROM tf
      JOIN dfreq ON dfreq.term = tf.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats),
    ranked AS (
      SELECT doc_id, CAST(SUM(s_micro) AS BIGINT) AS score_micro
      FROM scored GROUP BY doc_id)
    SELECT doc_id, score_micro FROM ranked
    ORDER BY score_micro DESC, doc_id LIMIT {_BM25_TOP_K}
    """,
)
def t69_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked full-text search for a fixed term set (see block
    comment) — the TEXT_MATCH-style serving query, top-{_BM25_TOP_K}
    documents.

    Scale shape: the term filter lands BEFORE the tf aggregate, so the
    only (doc, term) rows that exist are matches — at an inverted
    index's cost, not the corpus vocabulary's; doc lengths are one
    combinable aggregate; df and corpus stats are tiny broadcasts; the
    final ranking lowers to TakeOrderedAndProject (each task keeps
    {_BM25_TOP_K} rows, the driver merges — no global sort)."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avg_len"),
    )
    tf = (
        tok.filter(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    s_micro = F.round(
        F.log(
            1
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * (F.col("tf") * (_BM25_K1 + 1))
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avg_len"))
        )
        * 1000000
    ).cast("long")
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s_micro.alias("s_micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("s_micro").cast("long").alias("score_micro"))
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(_BM25_TOP_K)
    )


# --- t70: cross-source vocabulary overlap ---------------------------
_T70 = """
    WITH vocab AS (
      SELECT DISTINCT source, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM vocab
      GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM vocab a JOIN vocab b ON b.term = a.term AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT i.source_a, i.source_b, i.n_shared,
           na.n AS vocab_a, nb.n AS vocab_b,
           CAST(i.n_shared * 1000000
                // (na.n + nb.n - i.n_shared) AS BIGINT) AS jaccard_ppm
    FROM inter i
    JOIN sizes na ON na.source = i.source_a
    JOIN sizes nb ON nb.source = i.source_b
"""


@query("t70_source_vocab_overlap", _T70)
def t70_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus SOURCES — the
    domain-mixing diagnostic a pre-training pipeline runs before
    choosing mixture weights (q79): two sources with near-identical
    vocabularies contribute redundant coverage; an outlier source
    signals a domain (or a contamination) worth inspecting.

    Scale shape: the corpus collapses to its per-source VOCABULARY
    first (distinct terms — orders of magnitude smaller than token
    count), and sources meet through a TERM-keyed equi-join, so cost
    is Σ_term (#sources containing term)², never docs² or sources²
    over raw text. Ordering a.source < b.source halves the pairs;
    zero-overlap pairs drop out of the inner join (at pre-training
    scale absent pairs ARE the signal worth alerting on, and a
    full-outer variant is one join-type flip away). Jaccard is exact
    integer ppm (inter·1e6 // union — positive, so Spark div and
    DuckDB // agree)."""
    d = t(spark, sf_dir, "documents")
    vocab = (
        d.select("source", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .distinct()
        .transform(persist_once)
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.select(F.col("source").alias("source_a"), "term")
    b = vocab.select(F.col("source").alias("source_b"), F.col("term").alias("tb"))
    inter = (
        a.join(b, (F.col("tb") == F.col("term")) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.select(F.col("source").alias("sa"), F.col("n").alias("vocab_a"))
    nb = sizes.select(F.col("source").alias("sb"), F.col("n").alias("vocab_b"))
    return (
        inter.join(F.broadcast(na), F.col("sa") == F.col("source_a"))
        .join(F.broadcast(nb), F.col("sb") == F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "vocab_a",
            "vocab_b",
            F.expr(
                "(n_shared * 1000000) div (vocab_a + vocab_b - n_shared)"
            ).alias("jaccard_ppm"),
        )
    )


# --- t71: boolean text search (Pinot TEXT_MATCH analog) -------------
_T71_TERMS = ("table", "join", "vector", "slow")

_T71 = f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    hits AS (
      SELECT doc_id,
             MAX(CASE WHEN term = 'table' THEN 1 ELSE 0 END) AS has_table,
             MAX(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS has_join,
             MAX(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS has_vector,
             MAX(CASE WHEN term = 'slow' THEN 1 ELSE 0 END) AS has_slow
      FROM tok
      WHERE term IN ('table', 'join', 'vector', 'slow')
      GROUP BY doc_id)
    SELECT doc_id,
           CAST(has_table = 1 AND has_join = 1 AS INTEGER) AS m_clause_a,
           CAST(has_vector = 1 AND has_slow = 0 AS INTEGER) AS m_clause_b
    FROM hits
    WHERE (has_table = 1 AND has_join = 1)
       OR (has_vector = 1 AND has_slow = 0)
"""


@query("t71_boolean_text_match", _T71)
def t71_boolean_text_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean text search — the Pinot ``TEXT_MATCH`` / Lucene
    boolean-query analog: documents matching
    ``("table" AND "join") OR ("vector" AND NOT "slow")``, answered
    from POSTING LISTS (per-doc distinct terms, filtered to the query
    vocabulary before any aggregation) rather than per-row
    ``contains`` scans. t69 RANKS by BM25 score; this is the boolean
    RETRIEVAL primitive underneath faceted/filtered search.

    Scale shape: the ``term IN (query terms)`` filter cuts the posting
    relation to the handful of relevant lists BEFORE the per-doc
    flag aggregate — the cost profile of an inverted index (read only
    the queried postings), one shuffle on doc_id over rows that
    survived the term filter. NOT-clauses stay safe because the flag
    aggregate sees every queried posting of a doc: absence of 'slow'
    is a 0-flag, not a missed row."""
    d = t(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.col("term").isin(*_T71_TERMS))
        .distinct()
    )
    hits = tok.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == term, 1).otherwise(0)).alias(f"has_{term}")
            for term in _T71_TERMS
        ]
    )
    clause_a = (F.col("has_table") == 1) & (F.col("has_join") == 1)
    clause_b = (F.col("has_vector") == 1) & (F.col("has_slow") == 0)
    return (
        hits.filter(clause_a | clause_b)
        .select(
            "doc_id",
            clause_a.cast("int").alias("m_clause_a"),
            clause_b.cast("int").alias("m_clause_b"),
        )
    )


# --- t72: per-source unigram KL divergence (corpus drift) -----------
#
# t70 compares source VOCABULARIES (set overlap); t72 compares their
# unigram DISTRIBUTIONS — the weighted divergence that catches two
# sources sharing a vocabulary but using it at very different rates
# (boilerplate-heavy vs prose-heavy), and the quantity a mixture
# designer (q79) actually wants when deciding whether two sources are
# redundant. D_KL(P_a || P_b) with P_a the unsmoothed ML unigram
# distribution of source a and P_b add-one smoothed over the GLOBAL
# vocabulary (so q is never zero on a term a uses).
#
# Exactness (the t61 presum discipline): each term contributes
#   c_a * ROUND(ln( (c_a * (n_b + V)) / (n_a * (c_b + 1)) ) * 1e6 )
# — both products are exact int64 cast to double (bounded ~1e12 <<
# 2^53), their quotient is one correctly-rounded IEEE op, ln is libm
# on identical doubles, and the fixed-pointed term enters an
# order-independent INTEGER sum. Per-term contributions can be
# NEGATIVE (p < q), so the final normalization deliberately avoids
# integer floor division (Spark div truncates, DuckDB // floors for
# negatives — the memory-rule): kl_nats = CAST(s AS DOUBLE)/n_a/1e6,
# a pure double chain, bit-equal on both engines.

_T72 = """
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    c AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, term),
    tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY source),
    vocab AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM c),
    pairs AS (
      SELECT a.source AS src_from, a.n AS n_from,
             b.source AS src_to,   b.n AS n_to
      FROM tot a CROSS JOIN tot b
      WHERE a.source <> b.source),
    contrib AS (
      SELECT p.src_from, p.src_to, p.n_from,
             ca.c * CAST(ROUND(ln(
                 CAST(ca.c * (p.n_to + vocab.v) AS DOUBLE)
               / CAST(p.n_from * (COALESCE(cb.c, 0) + 1) AS DOUBLE))
               * 1000000) AS BIGINT) AS w
      FROM pairs p
      CROSS JOIN vocab
      JOIN c ca ON ca.source = p.src_from
      LEFT JOIN c cb ON cb.source = p.src_to AND cb.term = ca.term)
    SELECT src_from, src_to,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(w) AS DOUBLE) / CAST(n_from AS DOUBLE) / 1000000.0
             AS kl_nats
    FROM contrib
    GROUP BY src_from, src_to, n_from
"""


@query("t72_source_kl_divergence", _T72)
def t72_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise unigram KL divergence D_KL(source_a || source_b) with
    add-one smoothing on the reference side (see block comment) — the
    distribution-level companion to t70's vocabulary Jaccard.

    Scale shape: the corpus first collapses to per-(source, term)
    COUNTS (one combinable aggregate over the token stream — the only
    event-volume exchange), and every downstream relation is
    vocabulary-sized. Source totals and the global vocab size are
    tiny broadcasts; pairs meet through a TERM-keyed left join costing
    |C| x (S-1) rows where S = #sources (small by construction: a
    pre-training mixture has tens of sources, not thousands). Overflow
    headroom: |ln ratio| < 40 nats -> |w| <= c_a * 4e7; int64-safe
    while any single source stays under ~2e11 tokens, documented here
    rather than guarded (a 100 TB corpus split over >= tens of sources
    sits well inside)."""
    d = t(spark, sf_dir, "documents")
    c = (
        d.select("source", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(persist_once)
    )
    tot = c.groupBy("source").agg(F.sum("c").alias("n"))
    vocab = c.agg(F.countDistinct("term").alias("v"))
    pairs = (
        tot.alias("a")
        .crossJoin(tot.alias("b"))
        .where(F.col("a.source") != F.col("b.source"))
        .select(
            F.col("a.source").alias("src_from"),
            F.col("a.n").alias("n_from"),
            F.col("b.source").alias("src_to"),
            F.col("b.n").alias("n_to"),
        )
    )
    ca = c.select(
        F.col("source").alias("src_from"),
        F.col("term").alias("term"),
        F.col("c").alias("c_from"),
    )
    cb = c.select(
        F.col("source").alias("cb_src"),
        F.col("term").alias("cb_term"),
        F.col("c").alias("c_to"),
    )
    contrib = (
        ca.join(F.broadcast(pairs), "src_from")
        .crossJoin(F.broadcast(vocab))
        .join(
            cb,
            (F.col("cb_src") == F.col("src_to"))
            & (F.col("cb_term") == F.col("term")),
            "left",
        )
        .select(
            "src_from",
            "src_to",
            "n_from",
            (
                F.col("c_from")
                * F.round(
                    F.log(
                        (F.col("c_from") * (F.col("n_to") + F.col("v"))).cast("double")
                        / (
                            F.col("n_from")
                            * (F.coalesce(F.col("c_to"), F.lit(0)) + 1)
                        ).cast("double")
                    )
                    * 1000000
                ).cast("long")
            ).alias("w"),
        )
    )
    return contrib.groupBy("src_from", "src_to", "n_from").agg(
        F.count(F.lit(1)).alias("n_terms"),
        (F.sum("w").cast("double") / F.col("n_from").cast("double") / F.lit(1000000.0)).alias(
            "kl_nats"
        ),
    ).select("src_from", "src_to", "n_terms", "kl_nats")


# --- t73: chi-square term↔source association ------------------------
#
# Feature selection for corpus curation: which terms are
# STATISTICALLY associated with a source (the χ² test over the 2×2
# document-level contingency table — the classic term-selection
# statistic of Yang & Pedersen '97, and the "what vocabulary marks
# this domain" report a mixture-building pipeline (q79) reads before
# weighting sources). For term t and source s over N docs:
# a = docs in s containing t, b = in s without t, c = containing t
# outside s, d = the rest; χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)).
#
# Exactness: a/b/c/d are exact int64 counts from one distinct
# (doc, term) relation plus two broadcast marginals. ad−bc is an
# exact WIDE product (Spark DECIMAL(38,0) / DuckDB HUGEINT — counts
# reach 1e11+ docs at 100 TB, so a·d ≈ 1e22+ passes int64; r11
# audit) converted once to double; the SQUARE and the 4-marginal
# product are pure double chains on those exact integers, which is
# deterministic cross-engine: identical IEEE ops on identical
# inputs. The zero-marginal test is FACTORED (x·y = 0 ⇔ x=0 ∨ y=0
# for non-negative marginals) on both sides so no engine ever forms
# an int64 product of two ~N-sized marginals. df filter ≥ 5 keeps
# the report to terms with evidence.

_T73_MIN_DF = 5

_T73 = f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, source,
             unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    n_total AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
    src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
            FROM documents GROUP BY source),
    termdf AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
               FROM dt GROUP BY term),
    a_tab AS (SELECT term, source, CAST(COUNT(*) AS BIGINT) AS a
              FROM dt GROUP BY term, source),
    cells AS (
      SELECT a_tab.term, a_tab.source, a, n_src - a AS b, df - a AS c,
             n - n_src - (df - a) AS d, df, n
      FROM a_tab
      JOIN termdf ON termdf.term = a_tab.term
      JOIN src ON src.source = a_tab.source
      CROSS JOIN n_total
      WHERE df >= {_T73_MIN_DF})
    SELECT term, source, a, b, c, d,
           CASE WHEN a+b = 0 OR a+c = 0 OR c+d = 0 OR b+d = 0 THEN 0.0
                ELSE CAST(n AS DOUBLE)
                     * (CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c
                             AS DOUBLE)
                        * CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c
                               AS DOUBLE))
                     / (CAST(a+b AS DOUBLE) * CAST(c+d AS DOUBLE)
                        * CAST(a+c AS DOUBLE) * CAST(b+d AS DOUBLE))
           END AS chi2
    FROM cells
"""


@query("t73_chi2_term_assoc", _T73)
def t73_chi2_term_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² association between every (term, source) pair at document
    grain (see block comment): exact int64 contingency cells, one
    double chain for the statistic.

    Scale shape: the only corpus-volume work is the distinct
    (doc, source, term) projection (combinable) and its two grouped
    counts; the marginals (per-term df, per-source doc counts, N) are
    tiny broadcast dims, so the cell join never shuffles the big
    relation twice. Zipfian vocabularies keep the (term, source)
    output ≪ corpus size; the df floor bounds it further."""
    d = t(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id", "source", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).distinct()
    n_total = d.agg(F.countDistinct("doc_id").alias("n"))
    src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    termdf = dt.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    a_tab = dt.groupBy("term", "source").agg(F.count(F.lit(1)).alias("a"))
    cells = (
        a_tab.join(F.broadcast(termdf), "term")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(n_total))
        .where(F.col("df") >= _T73_MIN_DF)
        .select(
            "term",
            "source",
            "a",
            (F.col("n_src") - F.col("a")).alias("b"),
            (F.col("df") - F.col("a")).alias("c"),
            (F.col("n") - F.col("n_src") - (F.col("df") - F.col("a"))).alias("d"),
            "n",
        )
    )
    # r11 audit: the cross products run in DECIMAL(38,0) — a,b,c,d are
    # corpus doc counts (1e11+ at 100 TB), so a·d reaches ~1e24, far
    # past int64; DECIMAL→double is the same correctly-rounded
    # conversion as the oracle's int128→double, so chi2 is unchanged.
    diff_d = (
        F.col("a").cast("decimal(38,0)") * F.col("d")
        - F.col("b").cast("decimal(38,0)") * F.col("c")
    ).cast("double")
    denom = (
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("c") + F.col("d")).cast("double")
        * (F.col("a") + F.col("c")).cast("double")
        * (F.col("b") + F.col("d")).cast("double")
    )
    # the marginals are non-negative, so x·y = 0 ⇔ x = 0 ∨ y = 0 —
    # the factored test avoids the oracle SQL's product (which would
    # itself overflow int64 at corpus scale; r11 audit)
    zero_marg = (
        ((F.col("a") + F.col("b")) == 0)
        | ((F.col("a") + F.col("c")) == 0)
        | ((F.col("c") + F.col("d")) == 0)
        | ((F.col("b") + F.col("d")) == 0)
    )
    return cells.select(
        "term",
        "source",
        "a",
        "b",
        "c",
        "d",
        F.when(zero_marg, F.lit(0.0))
        .otherwise(F.col("n").cast("double") * (diff_d * diff_d) / denom)
        .alias("chi2"),
    )


# --- t75: language-ID confusion matrix ------------------------------
#
# t51 emits per-doc predictions; t75 is the model-eval rollup a
# curation pipeline runs before trusting the classifier to route
# documents: the full confusion matrix (true lang × predicted lang)
# with per-cell recall-of-row and precision-of-column shares. This is
# the generic classifier-audit plan — swap t51's rule chain for any
# per-row scorer and the eval is unchanged.
#
# Exactness: counts are integers; shares are integer ppm
# floor-divisions over positive counts (Spark div ≡ DuckDB //, the
# t63 rule). Marginals are tiny broadcast dims.

_T75 = f"""
    WITH pred AS (
      SELECT lang, {_lang_case_sql()} AS lang_pred
      FROM (SELECT lang, string_split(lower(text), ' ') AS tk
            FROM documents)),
    cells AS (
      SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, lang_pred),
    row_m AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true
              FROM cells GROUP BY lang),
    col_m AS (SELECT lang_pred, CAST(SUM(n) AS BIGINT) AS n_pred
              FROM cells GROUP BY lang_pred)
    SELECT c.lang, c.lang_pred, c.n,
           CAST(c.n * 1000000 // r.n_true AS BIGINT) AS recall_ppm,
           CAST(c.n * 1000000 // p.n_pred AS BIGINT) AS precision_ppm
    FROM cells c
    JOIN row_m r ON r.lang = c.lang
    JOIN col_m p ON p.lang_pred = c.lang_pred
"""


@query("t75_langid_confusion", _T75)
def t75_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the t51 language classifier against the
    stored lang label, with per-cell recall (share of the true-lang
    row) and precision (share of the predicted column) in integer ppm.

    Scale shape: one combinable (lang, pred) count over the corpus —
    the only document-volume exchange — then two broadcast joins
    against the ≤|langs|-row marginals. The prediction is an in-row
    expression at scan speed (no shuffle to classify)."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    expr = None
    for lang, w in _LANG_MARKERS:
        cond = F.array_contains(tk, w)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    pred = expr.otherwise("other")
    cells = (
        d.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(persist_once)
    )
    row_m = cells.groupBy("lang").agg(F.sum("n").alias("n_true"))
    col_m = cells.groupBy("lang_pred").agg(F.sum("n").alias("n_pred"))
    return (
        cells.join(F.broadcast(row_m), "lang")
        .join(F.broadcast(col_m), "lang_pred")
        .select(
            "lang",
            "lang_pred",
            "n",
            F.expr("n * 1000000 div n_true").alias("recall_ppm"),
            F.expr("n * 1000000 div n_pred").alias("precision_ppm"),
        )
    )


# --- t76: character-n-gram language ID (Cavnar–Trenkle) -------------
#
# t51's docstring promises that "a production version swaps the rule
# chain for a char-n-gram profile scorer"; t76 IS that scorer: the
# Cavnar–Trenkle '94 out-of-place classifier. Training and inference
# in one declarative plan over the labeled corpus:
#   profiles: per lang, the top-{pm} char trigrams ranked by corpus
#             frequency (rank ties by trigram string);
#   doc model: each doc's top-{dn} trigrams ranked the same way;
#   distance: Σ over doc trigrams of |doc_rank − profile_rank|, with
#             an out-of-profile penalty of {pm};
#   prediction: argmin distance (ties → lexicographically first
#             lang); report the confusion matrix.
# Everything is exact integer counts/ranks/distances — no floats at
# all — so cross-engine parity is structural.

_T76_PROF_M = 50   # profile size (and the out-of-profile penalty)
_T76_DOC_N = 20    # trigrams kept per document

_T76 = f"""
    WITH tri AS (
      SELECT d.doc_id, d.lang,
             substr(lower(d.text), CAST(s.i AS INTEGER), 3) AS g
      FROM documents d,
           LATERAL (SELECT unnest(generate_series(
                      1, CAST(d.n_chars AS INTEGER) - 2)) AS i) s
      WHERE d.n_chars >= 3),
    lang_counts AS (
      SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM tri GROUP BY lang, g),
    prof AS (
      SELECT lang, g,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, g) AS pr
      FROM lang_counts QUALIFY pr <= {_T76_PROF_M}),
    doc_counts AS (
      SELECT doc_id, lang, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM tri GROUP BY doc_id, lang, g),
    dm AS (
      SELECT doc_id, lang, g,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS dr
      FROM doc_counts QUALIFY dr <= {_T76_DOC_N}),
    langs AS (SELECT DISTINCT lang AS cand FROM documents),
    dist AS (
      SELECT dm.doc_id, dm.lang, l.cand,
             CAST(SUM(COALESCE(ABS(dm.dr - p.pr), {_T76_PROF_M})) AS BIGINT)
               AS d
      FROM dm
      CROSS JOIN langs l
      LEFT JOIN prof p ON p.lang = l.cand AND p.g = dm.g
      GROUP BY dm.doc_id, dm.lang, l.cand),
    pred AS (
      SELECT doc_id, lang, cand AS lang_pred,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY d, cand) AS rk
      FROM dist QUALIFY rk = 1)
    SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, lang_pred
"""


@query("t76_charngram_langid", _T76)
def t76_charngram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar–Trenkle char-trigram language classifier, trained and
    evaluated in one plan (see block comment); output is the confusion
    matrix against the stored labels.

    Scale shape: trigram extraction is a zero-shuffle in-row explode
    (the t64 substr pattern); the trigram stream is aggregated ONCE
    (r13) into per-(doc, lang, trigram) counts — cached pre-partitioned
    on doc_id so the per-doc top-{dn} window reuses the cached
    partitioning — and the lang profiles are DERIVED from those counts
    (Σ over docs ≡ the direct corpus count), so the corpus-volume
    stream crosses one combinable aggregate instead of two; the lang
    profiles are a ≤|langs|×{pm}-row BROADCAST, so scoring is a
    per-doc-trigram map — the corpus-volume work never pairs with
    more than the 5-row lang list (bounded broadcast product). Doc and
    profile top-k ranks are WindowGroupLimit rewrites. (Measured at
    sf0.1: 1.96s → 0.65s warm.)"""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    tri = d.where(F.col("n_chars") >= 3).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, CAST(n_chars AS INT) - 2), "
                "i -> substr(lower(text), i, 3))"
            )
        ).alias("g"),
    )
    doc_counts = (
        tri.groupBy("doc_id", "lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .repartition("doc_id")
        .transform(persist_materialized)
    )
    # materialized at persist (owned-only count, r13; the r8 rule)
    wl = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("g"))
    prof = (
        doc_counts.groupBy("lang", "g")
        .agg(F.sum("c").alias("c"))
        .withColumn("pr", F.row_number().over(wl))
        .where(F.col("pr") <= _T76_PROF_M)
        .select(F.col("lang").alias("cand"), "g", "pr")
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("g"))
    dm = (
        doc_counts.withColumn("dr", F.row_number().over(wd))
        .where(F.col("dr") <= _T76_DOC_N)
    )
    langs = d.select(F.col("lang").alias("cand")).distinct()
    dist = (
        dm.crossJoin(F.broadcast(langs))
        .join(F.broadcast(prof), ["cand", "g"], "left")
        .groupBy("doc_id", "lang", "cand")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("dr") - F.col("pr")), F.lit(_T76_PROF_M)
                )
            ).alias("d")
        )
    )
    wp = Window.partitionBy("doc_id").orderBy(F.asc("d"), F.asc("cand"))
    pred = (
        dist.withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") == 1)
        .select("lang", F.col("cand").alias("lang_pred"))
    )
    return pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))


# --- t77: tokenizer fertility by language ---------------------------
#
# The corpus-level tokenizer-quality report: FERTILITY (subword
# tokens per whitespace word) and compression (chars per token) per
# language — the numbers a tokenizer evaluation tables first (high
# fertility on a language means the vocab under-serves it and its
# effective context shrinks). Tokens come from t55's BPE-proxy regex
# (pure character classes — Java and RE2 agree).
#
# Exactness: integer token/char sums (combinable), ratios as integer
# ppm / milli floor-divisions over positive sums.

_T77 = """
    WITH per_doc AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]'))
                  AS BIGINT) AS n_bpe,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(n_bpe) * 1000000 // SUM(n_ws) AS BIGINT)
             AS fertility_ppm,
           CAST(SUM(n_chars) * 1000 // SUM(n_bpe) AS BIGINT)
             AS chars_per_token_milli
    FROM per_doc GROUP BY lang
"""


@query("t77_tokenizer_fertility", _T77)
def t77_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (BPE-proxy tokens per word)
    and compression (chars per token) — see block comment; the
    corpus-level rollup of t55's per-doc counts.

    Scale shape: in-row regexp counting at scan speed, then one
    combinable |langs|-row aggregate. Zero joins."""
    d = t(spark, sf_dir, "documents")
    n_ws = F.size(F.split("text", " ")).cast("long")
    n_bpe = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]|[^a-z0-9 ]"), F.lit(0))
    ).cast("long")
    per_doc = d.select(
        "lang", n_ws.alias("n_ws"), n_bpe.alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws").alias("ws_tokens"),
        F.sum("n_bpe").alias("bpe_tokens"),
        F.sum("n_chars").alias("chars"),
        F.expr("sum(n_bpe) * 1000000 div sum(n_ws)").alias("fertility_ppm"),
        F.expr("sum(n_chars) * 1000 div sum(n_bpe)").alias(
            "chars_per_token_milli"
        ),
    )


# --- t78: readability scoring (Flesch-style proxies) ----------------
#
# The classic readability screen a curation pipeline adds next to
# t52's quality score: words-per-sentence and syllables-per-word
# folded into a Flesch-reading-ease-shaped score. Deterministic
# proxies (no dictionary): sentences = terminal-punctuation runs
# (with a floor of 1), syllables = vowel GROUPS per word (the
# standard approximation). The score's weights are the published
# Flesch constants; the engine value is the in-row plan — counts via
# regexp at scan speed, zero shuffles before the rollup.
#
# Exactness: all counts are integers; the score is computed per doc
# in integer milli-units (206835 − 1015·words·1000/sentences/1000 …)
# — spelled as nested integer floor-divs, identical on both engines —
# then averaged per lang via integer sums.

_T78 = """
    WITH counts AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             GREATEST(CAST(1 AS BIGINT),
               CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
               AS n_sents,
             GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT),
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT)) AS n_syll
      FROM documents),
    scored AS (
      SELECT doc_id, lang, n_words, n_sents, n_syll,
             206835 - 1015 * (n_words * 1000 // n_sents) // 1000
                    - 84600 * (n_syll * 1000 // n_words) // 1000000
               AS flesch_milli
      FROM counts WHERE n_words > 0)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) * 1000 // SUM(n_sents) AS BIGINT)
             AS words_per_sentence_milli,
           CAST(SUM(n_syll) * 1000 // SUM(n_words) AS BIGINT)
             AS syllables_per_word_milli,
           CAST(FLOOR(CAST(SUM(flesch_milli) AS DOUBLE) / COUNT(*))
                AS BIGINT) AS mean_flesch_milli
    FROM scored GROUP BY lang
"""


@query("t78_readability", _T78)
def t78_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language readability rollup: words/sentence,
    syllables/word (vowel-group proxy), and the mean Flesch-shaped
    score in exact integer milli-units (see block comment).

    Scale shape: all counting is in-row regexp at scan speed; one
    |langs|-row combinable rollup. Zero joins, zero Python. The
    syllable floor (≥ words) keeps consonant-only tokens from
    producing a sub-1 rate."""
    d = t(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("long")
    n_sents = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))).cast(
            "long"
        ),
    )
    n_syll = F.greatest(
        n_words,
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0))
        ).cast("long"),
    )
    counts = d.select(
        "lang",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    ).where(F.col("n_words") > 0)
    scored = counts.withColumn(
        "flesch_milli",
        F.expr(
            "206835 - 1015 * (n_words * 1000 div n_sents) div 1000"
            " - 84600 * (n_syll * 1000 div n_words) div 1000000"
        ),
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(n_words) * 1000 div sum(n_sents)").alias(
            "words_per_sentence_milli"
        ),
        F.expr("sum(n_syll) * 1000 div sum(n_words)").alias(
            "syllables_per_word_milli"
        ),
        # flesch can go NEGATIVE on run-on text: Spark div truncates
        # while DuckDB // floors, so the mean uses the documented
        # FLOOR(double) form that is identical for either sign
        F.expr("CAST(FLOOR(CAST(sum(flesch_milli) AS DOUBLE) / count(*)) AS BIGINT)").alias("mean_flesch_milli"),
    )


# --- t79: Heaps-law vocabulary growth curve ---------------------------
#
# The corpus-scaling diagnostic tokenizer teams run before sizing a
# vocabulary: distinct-type count V(n) as a function of tokens seen n,
# sampled at 10 ingest milestones (doc_id deciles of the max id). A
# sub-linear V(n) ~ K·n^β curve (Heaps' law) is the healthy shape; a
# near-linear one flags boilerplate/noise flooding the type inventory.
#
# The naive form is a running COUNT(DISTINCT) over the ingest order —
# non-summable and partition-less. The scalable rewrite: a term's
# contribution to the vocabulary at milestone m is first_doc <= m, so
# ONE distinct scan electing min(doc_id) per term plus a 10-row
# broadcast milestone join replaces the cumulative distinct entirely
# (the same first-occurrence election q151 uses for sliding
# distincts). All counts are exact integers.

_T79 = """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    doctok AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tok),
    firstdoc AS (
      SELECT term, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(tk) AS term FROM tok)
      GROUP BY term),
    scal AS (SELECT MAX(doc_id) AS maxid FROM documents),
    ms AS (
      SELECT CAST(r.k AS BIGINT) AS k,
             CAST(CAST(scal.maxid AS HUGEINT) * r.k // 10 AS BIGINT) AS m
      FROM range(1, 11) r(k) CROSS JOIN scal),
    dstats AS (
      SELECT ms.k, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(d.n_tokens) AS BIGINT) AS tokens
      FROM ms JOIN doctok d ON d.doc_id <= ms.m
      GROUP BY ms.k),
    vstats AS (
      SELECT ms.k, CAST(COUNT(*) AS BIGINT) AS vocab
      FROM ms JOIN firstdoc f ON f.first_doc <= ms.m
      GROUP BY ms.k)
    SELECT d.k, d.docs, d.tokens, v.vocab
    FROM dstats d JOIN vstats v ON v.k = d.k
"""


@query("t79_vocab_growth", _T79)
def t79_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: (docs, tokens, distinct types)
    at 10 doc_id-decile milestones (see block comment for why the
    first-occurrence election replaces a running COUNT(DISTINCT)).

    Scale shape: one token explode feeding a term-keyed MIN aggregate
    (map-side combinable — the shuffle carries one row per distinct
    term per task); doc token counts never explode at all (``size`` on
    the split array). Both milestone joins are 10-row broadcast
    inequality probes (bounded ×10 fan-out, the q151 explode budget);
    the final join runs on two 10-row aggregates."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
    doctok = tok.select(
        "doc_id", F.size("tk").cast("long").alias("n_tokens")
    )
    firstdoc = (
        tok.select("doc_id", F.explode("tk").alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    scal = d.agg(F.max("doc_id").alias("maxid"))
    # r12 overflow gate: maxid is an id (snowflake-scale ids reach
    # 2^62 — SCALING.md §7 table), so maxid·k overflows int64 the
    # moment ids are not dense. The product runs in DECIMAL(38,0) on
    # this 10-row broadcast relation (zero hot-path cost); the
    # quotient is ≤ maxid, so the integral divide's BIGINT result is
    # exact (the §7 rule-3 quotient-bound discipline).
    ms = (
        spark.range(1, 11)
        .select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(scal))
        .select(
            "k",
            F.expr("cast(maxid as decimal(38,0)) * k div 10").alias("m"),
        )
    )
    dstats = (
        doctok.join(F.broadcast(ms), F.col("doc_id") <= F.col("m"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
        )
    )
    vstats = (
        firstdoc.join(F.broadcast(ms), F.col("first_doc") <= F.col("m"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    return dstats.join(vstats, "k").select("k", "docs", "tokens", "vocab")


# --- t80: cross-corpus n-gram memorization recall ---------------------
#
# The train/test contamination audit at N-GRAM granularity (Lee et
# al.'s dedup paper runs the doc-level twin d50; eval suites like
# BIG-bench report this per-example form): for every held-out doc, the
# fraction of its distinct word-5-grams that appear ANYWHERE in the
# training split. recall_ppm ~ 1e6 means the example is effectively
# memorizable from train; the per-source rollup is the curation
# signal. Split is deterministic (even doc_id = train, odd = test —
# the q74 hash-split precedent at its simplest).
#
# Unlike d44's self-join, the probe side joins a DISTINCT train
# shingle set, so a boilerplate shingle contributes one train row ×
# its test occurrences — linear, never quadratic; no stop-list needed.
# Spark shuffles 8-byte xxhash64 keys only (the d44 width rule); the
# oracle stays string-exact, so parity re-verifies collision-freedom.

_T80_K = 5

_T80 = f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + {_T80_K - 1}], ' ') AS s
      FROM (SELECT doc_id, tk,
                   unnest(generate_series(1, len(tk) - {_T80_K - 1})) AS i
            FROM toks)),
    train AS (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 0),
    test AS (SELECT doc_id, s FROM sh WHERE doc_id % 2 = 1),
    hits AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(COUNT(tr.s) AS BIGINT) AS n_seen
      FROM test t LEFT JOIN train tr ON tr.s = t.s
      GROUP BY t.doc_id)
    SELECT doc_id, n_shingles, n_seen,
           CAST(n_seen * 1000000 // n_shingles AS BIGINT) AS recall_ppm
    FROM hits
"""


@query("t80_crosscorpus_ngram_recall", _T80)
def t80_crosscorpus_ngram_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-test-doc distinct-5-gram recall against the train split
    (see block comment). Docs with fewer than {K} tokens have no
    shingles and emit nothing.

    Scale shape: one shingle explode (per-doc distinct happens in-row
    via array_distinct — no shuffle spent on dedup), one distinct on
    the train side, one hash equi-join on 8-byte keys, one doc-keyed
    count aggregate. AQE broadcasts the train set while it fits (it
    does at test SFs); at corpus scale the same plan degrades
    gracefully to a shuffle join on a high-cardinality key with
    bounded per-key fan-out — the skew-safe shape either way."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
    # r13: the parity split filters BEFORE shingling — the previous
    # form built one shingle stream and filtered it twice (two
    # consumers of an unpersisted explode ⇒ every doc tokenized and
    # hashed TWICE per execution); each doc now shingles exactly once,
    # in whichever leg owns it
    sh_expr = F.explode(
        F.expr(kgram_window(k=_T80_K, hashed=True, distinct=True))
    ).alias("h")
    train = toks.filter(F.col("doc_id") % 2 == 0).select(sh_expr).distinct()
    test = toks.filter(F.col("doc_id") % 2 == 1).select("doc_id", sh_expr)
    hits = (
        test.join(
            train.withColumnRenamed("h", "th"),
            test["h"] == F.col("th"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("th").alias("n_seen"),
        )
    )
    return hits.select(
        "doc_id",
        "n_shingles",
        "n_seen",
        F.expr("n_seen * 1000000 div n_shingles").alias("recall_ppm"),
    )


# --- t81: RAKE keyphrase extraction (top phrase per doc) --------------
#
# Rapid Automatic Keyword Extraction (Rose et al. 2010), the
# stopword-delimited keyphrase miner: tokens split into candidate
# phrases at stopwords; within each DOC, word freq = occurrences in
# candidates, word degree = sum of the lengths of the phrases each
# occurrence sits in (co-occurrence degree incl. self); phrase score =
# sum of member-word degree/freq ratios; emit each doc's best phrase.
#
# Exactness: word scores are floor ppm ratios (degree·1e6 // freq,
# int64) and the phrase score sums the FLOORED per-occurrence ratios
# (the presum/ratchet rule — never ROUND after a float sum); the
# per-doc winner is a (score DESC, phrase ASC, pnum ASC) ROW_NUMBER —
# integer/string comparisons only, so the winner is identical
# cross-engine even under score ties. Candidate phrases are capped at
# 6 words (the RAKE convention); stats are computed over kept
# candidates only, identically on both engines.

_T81_STOPS = "('the', 'a', 'is', 'of', 'and', 'to', 'in')"
_T81_MAX_LEN = 6

_T81 = f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    tok AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i, tk[CAST(i AS INT)] AS token,
             CASE WHEN tk[CAST(i AS INT)] IN {_T81_STOPS}
                  THEN 1 ELSE 0 END AS is_stop
      FROM toks, unnest(generate_series(1, len(tk))) t(i)),
    seg AS (
      SELECT doc_id, i, token, is_stop,
             SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pnum
      FROM tok),
    words AS (
      SELECT doc_id, pnum, i, token FROM seg WHERE is_stop = 0),
    plen AS (
      SELECT doc_id, pnum, CAST(COUNT(*) AS BIGINT) AS len
      FROM words GROUP BY 1, 2
      HAVING COUNT(*) BETWEEN 1 AND {_T81_MAX_LEN}),
    occ AS (
      SELECT w.doc_id, w.pnum, w.i, w.token, p.len
      FROM words w JOIN plen p ON p.doc_id = w.doc_id AND p.pnum = w.pnum),
    wstat AS (
      SELECT doc_id, token,
             CAST(SUM(len) * 1000000 // COUNT(*) AS BIGINT) AS score_ppm
      FROM occ GROUP BY 1, 2),
    pscore AS (
      SELECT o.doc_id, o.pnum,
             string_agg(o.token, ' ' ORDER BY o.i) AS phrase,
             CAST(MAX(o.len) AS BIGINT) AS len,
             CAST(SUM(s.score_ppm) AS BIGINT) AS score_fp
      FROM occ o JOIN wstat s ON s.doc_id = o.doc_id AND s.token = o.token
      GROUP BY 1, 2),
    ranked AS (
      SELECT doc_id, phrase, len, score_fp,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY score_fp DESC, phrase ASC, pnum ASC) AS rk
      FROM pscore)
    SELECT doc_id, phrase, len, score_fp FROM ranked WHERE rk = 1
"""


@query("t81_rake_keyphrases", _T81)
def t81_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document RAKE keyphrase (see block comment). Docs whose
    candidate phrases all exceed {MAX_LEN} words emit nothing.

    Scale shape: everything is doc-local — the segmentation window,
    both stat aggregates, and the winner election all partition by
    doc_id, so the whole operator is embarrassingly parallel over
    documents; no cross-doc state exists at any scale. Shuffles carry
    (doc, pnum/token) grains, never the corpus."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("i0", "token"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).cast("long").alias("i"),
        "token",
        F.when(
            F.col("token").isin("the", "a", "is", "of", "and", "to", "in"), 1
        )
        .otherwise(0)
        .alias("is_stop"),
    )
    wseg = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = tok.withColumn("pnum", F.sum("is_stop").over(wseg))
    words = seg.filter(F.col("is_stop") == 0).select(
        "doc_id", "pnum", "i", "token"
    )
    plen = (
        words.groupBy("doc_id", "pnum")
        .agg(F.count(F.lit(1)).alias("len"))
        .filter(F.col("len").between(1, _T81_MAX_LEN))
    )
    occ = words.join(plen, ["doc_id", "pnum"]).transform(persist_once)
    wstat = occ.groupBy("doc_id", "token").agg(
        F.expr("sum(len) * 1000000 div count(1)").alias("score_ppm")
    )
    pscore = (
        occ.join(wstat, ["doc_id", "token"])
        .groupBy("doc_id", "pnum")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "token"))),
                    lambda s: s["token"],
                ),
                " ",
            ).alias("phrase"),
            F.max("len").alias("len"),
            F.sum("score_ppm").alias("score_fp"),
        )
    )
    wtop = Window.partitionBy("doc_id").orderBy(
        F.desc("score_fp"), F.asc("phrase"), F.asc("pnum")
    )
    return (
        pscore.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") == 1)
        .select("doc_id", "phrase", "len", "score_fp")
    )


# --- t82: deterministic token-dropout augmentation ---------------------
#
# The data-augmentation op an LLM training pipeline runs to diversify
# low-resource slices: drop ~20% of tokens per document,
# DETERMINISTICALLY — the keep/drop verdict is a pure function of
# (doc_id, position, token, seed) through the portable md5→int64
# family (q141/d57 trick), so reruns, retries, and both engines
# reproduce byte-identical augmented text (a Math.random dropout
# would be unauditable and engine-divergent). Rebuild preserves token
# order via ordered aggregation (q51 idiom).

_T82_SEED = "s42"
_T82_DROP_MOD = 10  # drop when hash % 10 < 2 → 20% expected dropout

_T82 = f"""
    WITH tok AS (
      SELECT doc_id, i, tk[CAST(i AS INT)] AS token
      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk
                  FROM documents))),
    verdict AS (
      SELECT doc_id, i, token,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                  CAST(i AS VARCHAR) || ':' || token || ':{_T82_SEED}'),
                  1, 15) AS BIGINT) % {_T82_DROP_MOD} >= 2 AS keep
      FROM tok)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN keep THEN token END, ' '
                               ORDER BY i), '') AS aug_text
    FROM verdict GROUP BY doc_id
"""


@query("t82_token_dropout_augment", _T82)
def t82_token_dropout_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~20% deterministic token dropout per document, with the
    augmented text rebuilt in token order (see block comment).

    Scale shape: one posexplode, a per-token codegen hash verdict, and
    one doc-keyed ordered aggregation — embarrassingly parallel over
    documents, shuffle carries (doc, idx, token) once. No randomness
    source, no UDF, no state."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("i0", "token"),
    ).select("doc_id", (F.col("i0") + 1).cast("long").alias("i"), "token")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("i").cast("string"),
                    F.col("token"),
                    F.lit(_T82_SEED),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    verdict = tok.withColumn("keep", (h % _T82_DROP_MOD) >= 2)
    return verdict.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("i", "token"))
                        )
                    ),
                    lambda s: s["token"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("aug_text"),
    )


# --- t83: held-out LM surprisal (train/test split) ----------------------
#
# t63's properly-evaluated sibling and t80's probabilistic twin: the
# add-one bigram LM is trained ONLY on the even-doc_id split and
# scored on the odd docs — the held-out fluency/novelty signal a
# curation pipeline uses to find distribution-shifted slices, plus the
# OOV rate (test bigrams never seen in train). Unseen bigrams and
# unseen history words fall back to the smoothing mass via LEFT joins
# with COALESCE(0) counts — identically on both engines. Per-bigram
# surprisal is ROUND(ln·1e6) fixed-point BEFORE the per-doc sum
# (t61/t63 ratchet rule); the mean is a floored integer division.

_T83 = """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    train_tok AS (
      SELECT unnest(tk) AS w FROM toks WHERE doc_id % 2 = 0),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_a FROM train_tok GROUP BY w),
    v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vs FROM train_tok),
    bg AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) >= 2 THEN
               list_transform(generate_series(1, len(tk) - 1),
                 i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1])
             ELSE [] END) AS b,
             doc_id % 2 = 0 AS is_train
      FROM toks),
    cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_ab
           FROM bg WHERE is_train GROUP BY b)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN cb.c_ab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN cb.c_ab IS NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS oov_ppm,
           CAST(SUM(CAST(ROUND(
               ln((CAST(COALESCE(u.c_a, 0) AS DOUBLE) + CAST(v.vs AS DOUBLE))
                  / (CAST(COALESCE(cb.c_ab, 0) AS DOUBLE) + 1.0))
               * 1000000) AS BIGINT)) // COUNT(*) AS BIGINT)
             AS mean_surprisal_micro
    FROM bg g
    LEFT JOIN cb ON cb.b = g.b
    LEFT JOIN uni u ON u.w = split_part(g.b, ' ', 1)
    CROSS JOIN v
    WHERE NOT g.is_train
    GROUP BY g.doc_id
"""


@query("t83_heldout_lm_surprisal", _T83)
def t83_heldout_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out mean bigram surprisal + OOV rate per test doc under
    the train-split add-one LM (see block comment).

    Scale shape: identical to t63 — in-row bigram formation, two
    map-side-combinable train count tables, string-keyed equi-joins
    back onto the test bigrams, one-row V broadcast; the split filters
    push to the scan. Nothing quadratic, no Python."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
    bg = toks.select(
        "doc_id",
        (F.col("doc_id") % 2 == 0).alias("is_train"),
        F.explode(F.expr(kgram_window(k=2))).alias("b"),
    ).transform(persist_once)
    train_tok = toks.filter(F.col("doc_id") % 2 == 0).select(
        F.explode("tk").alias("w")
    )
    uni = train_tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_a"))
    v = train_tok.agg(F.countDistinct("w").alias("vs"))
    cb = (
        bg.filter(F.col("is_train"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    test = bg.filter(~F.col("is_train"))
    surpr = F.round(
        F.log(
            (F.coalesce(F.col("c_a"), F.lit(0)).cast("double")
             + F.col("vs").cast("double"))
            / (F.coalesce(F.col("c_ab"), F.lit(0)).cast("double") + 1.0)
        )
        * 1000000
    ).cast("long")
    return (
        test.join(cb, "b", "left")
        .join(
            uni.withColumnRenamed("w", "hist"),
            F.col("hist") == F.split(F.col("b"), " ")[0],
            "left",
        )
        .crossJoin(F.broadcast(v))
        .withColumn("surpr", surpr)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("c_ab").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.expr(
                "sum(case when c_ab is null then 1 else 0 end) * 1000000 "
                "div count(1)"
            ).alias("oov_ppm"),
            # integer floor div, NOT double-divide-then-cast: a quotient
            # landing within half an ulp of the next integer would round
            # up in double and truncate wrong (q174 rounding-class rule)
            F.expr("sum(surpr) div count(1)").alias("mean_surprisal_micro"),
        )
    )


# --- t84: term burstiness (variance-to-mean ratio) ----------------------
#
# Church & Gale's dispersion signal: a term whose occurrences CLUMP
# into few documents (burstiness, VMR >> 1) behaves differently from
# a Poisson-scattered one at equal total frequency — the signal that
# separates topical keywords from function words and that caps
# df-weighting (complements t58's idf and t68's keyword scores).
# Population VMR over ALL N docs (zeros included) has the exact
# integer form VMR = (N·Σtf² − (Σtf)²) / (N·Σtf), emitted as a
# floored milli ratio: 1000 = Poisson, above = bursty.
#
# Overflow (r12 gate): Σtf² for a head term reaches ~1e19 at the
# 100-TB design point (tf ≤ doc length ~1e4 ⇒ tf² ≤ 1e8 per doc,
# over ~1e11 docs) — past int64 — so the square sum accumulates via
# the wide hi/lo split (exact.py::wide_fp_total: per-row terms stay
# long codegen, one DECIMAL recombine per term), and the per-term VMR
# bracket runs in DECIMAL(38,0) (N·Σtf² ≈ 1e31 ≪ 1e38). The
# integral divide's BIGINT result is exact: the quotient is
# milli-VMR ≤ 1000·max tf ≈ 1e7 (§7 rule-3 quotient bound). The
# DuckDB twin is HUGEINT throughout; DECIMAL→int128 parity is exact
# integer arithmetic on both sides.

_T84_MIN_TF = 5

_T84 = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents),
    tf AS (
      SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS f
      FROM tok GROUP BY 1, 2),
    stats AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(f) AS BIGINT) AS tf_total,
             SUM(CAST(f AS HUGEINT) * f) AS sq
      FROM tf GROUP BY w),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT s.w AS term, s.df, s.tf_total,
           CAST((n.n_docs * s.sq - CAST(s.tf_total AS HUGEINT) * s.tf_total)
                * 1000 // (n.n_docs * s.tf_total) AS BIGINT) AS vmr_milli
    FROM stats s CROSS JOIN n
    WHERE s.tf_total >= {_T84_MIN_TF}
"""


@query("t84_term_burstiness", _T84)
def t84_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term variance-to-mean dispersion in milli (see block
    comment; 1000 = Poisson).

    Scale shape: one explode, a (term, doc)-keyed combinable count,
    a term-keyed combinable sufficient-stats aggregate, and a one-row
    N broadcast — the exact-integer q150 pattern at term grain. No
    window, no join wider than the scalar."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    from pinot_pulsar_plugin_spark.functions.exact import wide_fp_total

    tf = tok.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("f"))
    # r12 gate: Σf² passes int64 for head terms at 100 TB — wide
    # split accumulator (long hot path, one DECIMAL recombine per
    # term); VMR bracket in DECIMAL(38,0), quotient bound ≤ ~1e7
    # keeps the BIGINT integral divide exact (see block comment).
    stats = tf.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("f").alias("tf_total"),
        wide_fp_total(F.col("f") * F.col("f")).alias("sq"),
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        stats.crossJoin(F.broadcast(n))
        .filter(F.col("tf_total") >= _T84_MIN_TF)
        .select(
            F.col("w").alias("term"),
            "df",
            "tf_total",
            F.expr(
                "cast((cast(n_docs as decimal(38,0)) * sq"
                " - cast(tf_total as decimal(38,0)) * tf_total) * 1000"
                " div (cast(n_docs as decimal(38,0)) * tf_total)"
                " as bigint)"
            ).alias("vmr_milli"),
        )
    )


# --- t85: cross-language label-noise audit -------------------------------
#
# The label-noise screen a corpus with per-doc language tags needs:
# byte-identical text (d43's normalization) appearing under MORE THAN
# ONE language label is definitionally mislabeled somewhere. Groups
# are keyed by the normalized-text digest; conflicted groups report
# their label span as the deterministic (min_lang, max_lang, n_langs)
# triple — exact counts, no similarity heuristics, so every flagged
# row is a hard contradiction, not a suspicion.

_T85 = """
    WITH g AS (
      SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
             lang, doc_id
      FROM documents),
    grp AS (
      SELECT h,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             MIN(lang) AS lang_lo, MAX(lang) AS lang_hi,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM g GROUP BY h)
    SELECT lang_lo, lang_hi, n_langs,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs
    FROM grp WHERE n_langs > 1
    GROUP BY 1, 2, 3
"""


@query("t85_crosslang_label_noise", _T85)
def t85_crosslang_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical normalized text under conflicting language labels
    (see block comment). Empty result = clean labels.

    Scale shape: one 16-byte-digest combinable aggregate (the d43
    shuffle) carrying a distinct-lang count, then a tiny rollup over
    conflicted groups only. Text never rides an exchange."""
    d = t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    grp = (
        d.select(F.md5(norm).alias("h"), "lang")
        .groupBy("h")
        .agg(
            F.countDistinct("lang").alias("n_langs"),
            F.min("lang").alias("lang_lo"),
            F.max("lang").alias("lang_hi"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    return (
        grp.where(F.col("n_langs") > 1)
        .groupBy("lang_lo", "lang_hi", "n_langs")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n_docs").alias("n_docs"),
        )
    )


# --- t86: vocabulary head concentration per source --------------------------
#
# The corpus-diversity read completing t58/t84/t72: per source, what
# share of all tokens do the top-5 terms absorb? A boilerplate-heavy
# source concentrates its token mass in a tiny head (share → 1e6) and
# dilutes training diversity; a healthy source spreads it. The top-5
# election is a source-partitioned rank window on exact (count DESC,
# term) order; shares are floor ppm of exact token counts.

_T86 = """
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS w
      FROM documents),
    tf AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2),
    ranked AS (
      SELECT source, w, c,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY c DESC, w) AS rk
      FROM tf),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens
            FROM tf GROUP BY source)
    SELECT t.source, t.n_tokens,
           CAST(SUM(r.c) AS BIGINT) AS head5_tokens,
           CAST(SUM(r.c) * 1000000 // t.n_tokens AS BIGINT) AS head5_ppm
    FROM tot t JOIN ranked r ON r.source = t.source AND r.rk <= 5
    GROUP BY t.source, t.n_tokens
"""


@query("t86_head_concentration", _T86)
def t86_head_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 term token share per source (see block comment).

    Scale shape: one explode into a (source, term)-keyed combinable
    count, a source-partitioned rank window (WindowGroupLimit keeps 5
    rows per source map-side), and a #sources-row rollup."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(persist_once)
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("w"))
    head = tf.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
    tot = tf.groupBy("source").agg(F.sum("c").alias("n_tokens"))
    return (
        tot.join(head, "source")
        .groupBy("source", "n_tokens")
        .agg(
            F.sum("c").alias("head5_tokens"),
            F.expr("sum(c) * 1000000 div n_tokens").alias("head5_ppm"),
        )
    )


# --- t87: cross-source syndication matrix -----------------------------------
#
# d44's near-dup machinery pointed at a different question: which
# SOURCE PAIRS share near-duplicate content (syndication / mirroring /
# scraped-feed detection)? Same stop-filtered 3-gram shingle equi-join
# and exact Jaccard >= 0.3, but pairs are kept only when the two docs
# come from DIFFERENT sources, and the rollup is per unordered source
# pair: pair count and floored-ppm mean Jaccard (per-pair floor before
# the mean — ratchet rule). Threshold 0.3 < d44's corpus tuning
# because syndicated copies get edited; the dup-marker corpus plants
# enough cross-source copies for non-vacuous results at every SF.

_T87_TAU = 0.3

_T87 = f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS tk
      FROM documents),
    sh_idx AS (
      SELECT doc_id, source, tk,
             unnest(generate_series(1, len(tk) - 2)) AS i
      FROM toks),
    shingles AS (
      SELECT DISTINCT doc_id, source,
             tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' ||
             tk[CAST(i AS INT) + 2] AS s
      FROM sh_idx),
    stop AS (
      SELECT s FROM shingles GROUP BY s
      HAVING COUNT(*) > (SELECT COUNT(*) FROM documents) * 0.10),
    kept AS (SELECT * FROM shingles WHERE s NOT IN (SELECT s FROM stop)),
    counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, a.source AS sa, b.doc_id AS db, b.source AS sb,
             CAST(COUNT(*) AS BIGINT) AS nc
      FROM kept a JOIN kept b
        ON b.s = a.s AND a.doc_id < b.doc_id AND a.source <> b.source
      GROUP BY 1, 2, 3, 4),
    pairs AS (
      SELECT LEAST(i.sa, i.sb) AS source_lo,
             GREATEST(i.sa, i.sb) AS source_hi,
             i.nc * 1000000 // (ca.n + cb.n - i.nc) AS j_ppm
      FROM inter i
      JOIN counts ca ON ca.doc_id = i.da
      JOIN counts cb ON cb.doc_id = i.db
      WHERE CAST(i.nc AS DOUBLE)
              / CAST(ca.n + cb.n - i.nc AS DOUBLE) >= {_T87_TAU})
    SELECT source_lo, source_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(j_ppm) // COUNT(*) AS BIGINT) AS mean_jaccard_ppm
    FROM pairs GROUP BY 1, 2
"""


@query("t87_syndication_matrix", _T87)
def t87_syndication_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts and mean Jaccard per unordered
    source pair (see block comment).

    Scale shape: d44's, through the same shared helpers
    (functions/shingles.py: ``kgram_window`` at ``_SHINGLE_K``,
    ``doc_freq`` + ``drop_stop`` at ``_STOP_MAX_DF``) — df-filtered
    shingle equi-join on 8-byte hashes would be the corpus form; here
    the probe thresholds keep string keys like the oracle. The pair
    join stays its own: it carries ``source`` and the cross-source
    predicate filters inside the join; the matrix rollup is
    #source-pairs rows (≤ 190 at 20 sources)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.split(F.lower("text"), " ").alias("tk")
    )
    shingles = toks.select(
        "doc_id",
        "source",
        F.explode(F.expr(kgram_window(distinct=True))).alias("s"),
    ).transform(persist_once)
    kept = drop_stop(shingles, doc_freq(shingles, "s"), d, "s").transform(persist_once)
    counts = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("b.s") == F.col("a.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .groupBy(
            F.col("a.doc_id").alias("da"),
            F.col("a.source").alias("sa"),
            F.col("b.doc_id").alias("db"),
            F.col("b.source").alias("sb"),
        )
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    ca = counts.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    pairs = (
        inter.join(F.broadcast(ca), "da")
        .join(F.broadcast(cb), "db")
        .where(
            F.col("nc").cast("double")
            / (F.col("na") + F.col("nb") - F.col("nc")).cast("double")
            >= _T87_TAU
        )
        .select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
            F.expr("nc * 1000000 div (na + nb - nc)").alias("j_ppm"),
        )
    )
    return pairs.groupBy("source_lo", "source_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("sum(j_ppm) div count(1)").alias("mean_jaccard_ppm"),
    )
