"""Text-analysis queries over ``documents`` (SURVEY.md X4, plus the nested/
array operators P7/P10, N3/N4, J3, EXT-U9 applied to token arrays).

Everything stays JVM-side: tokenization is ``split``, token math is
higher-order array functions (``transform``/``filter``/``aggregate``) inside
whole-stage codegen — no Python in the hot path. At 100 TB these are
embarrassingly parallel row-local ops; no shuffle except the final small
aggregations.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import cut_lineage
from .common import load, query

# Tokens: whitespace split of trimmed text (documents are space-separated
# lowercase words). Spark (Java regex) and DuckDB (RE2) agree on \s+.
def _toks() -> F.Column:
    # Built lazily: constructing a Column at import time needs the JVM
    # gateway, which doesn't exist when an executor worker imports this
    # module to unpickle a UDF from a sibling module.
    return F.split(F.trim(F.col("text")), r"\s+")
_SQL_TOKS = "string_split_regex(trim(text), '\\s+')"

_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_SQL_STOP = "['the', 'a', 'of', 'and', 'to', 'in']"


# --------------------------------------------------------------------------
# X4: per-document text statistics (quality-scoring features).
# --------------------------------------------------------------------------


@query(
    "X4_text_stats",
    f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / len(toks) AS avg_token_len,
           CAST(len(list_filter(toks, t -> list_contains({_SQL_STOP}, t))) AS DOUBLE)
               / len(toks) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
    FROM t
    """,
)
def text_stats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    stop_arr = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return docs.select(
        "doc_id",
        _toks().alias("toks"),
        F.length("text").cast("long").alias("n_chars_actual"),
    ).select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        "n_chars_actual",
        (
            F.expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))").cast("double")
            / F.size("toks")
        ).alias("avg_token_len"),
        (
            F.expr(f"size(filter(toks, t -> array_contains(array({stop_arr}), t)))").cast("double")
            / F.size("toks")
        ).alias("stopword_ratio"),
        (F.size(F.array_distinct("toks")).cast("double") / F.size("toks")).alias(
            "distinct_ratio"
        ),
    )


# --------------------------------------------------------------------------
# X4: corpus profile per language (the `lang` label column).
# --------------------------------------------------------------------------


@query(
    "X4_lang_profile",
    f"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len({_SQL_TOKS})) AS DOUBLE) / COUNT(*) AS avg_tokens,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY 1
    """,
)
def lang_profile(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    return (
        docs.select("lang", "n_chars", "source", F.size(_toks()).alias("n_toks"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            (F.sum("n_toks").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


# --------------------------------------------------------------------------
# X4: n-gram-heuristic language ID. The same deterministic stopword-hit
# CASE runs on both engines; accuracy vs the `lang` label is the output.
# (Real corpora would use char-n-gram profiles; the *operator shape* —
# row-local scoring + argmax CASE — is identical.)
# --------------------------------------------------------------------------

_LANG_LISTS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "les", "et", "des", "une"),
}


def _sql_hits(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in _LANG_LISTS[lang])
    return f"len(list_filter(toks, t -> list_contains([{arr}], t)))"


def _spark_hits(lang: str) -> F.Column:
    arr = ", ".join(f"'{w}'" for w in _LANG_LISTS[lang])
    return F.expr(f"size(filter(toks, t -> array_contains(array({arr}), t)))")


@query(
    "X4_langid_heuristic",
    f"""
    WITH scored AS (
        SELECT lang,
               {_sql_hits('en')} AS s_en, {_sql_hits('de')} AS s_de,
               {_sql_hits('es')} AS s_es, {_sql_hits('fr')} AS s_fr
        FROM (SELECT lang, {_SQL_TOKS} AS toks FROM documents)
    )
    SELECT lang,
           CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'unknown'
                WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS predicted_lang,
           COUNT(*) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def langid_heuristic(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    scored = docs.select("lang", _toks().alias("toks")).select(
        "lang",
        _spark_hits("en").alias("s_en"),
        _spark_hits("de").alias("s_de"),
        _spark_hits("es").alias("s_es"),
        _spark_hits("fr").alias("s_fr"),
    )
    pred = (
        F.when(
            (F.col("s_en") == 0) & (F.col("s_de") == 0) & (F.col("s_es") == 0) & (F.col("s_fr") == 0),
            "unknown",
        )
        .when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_es")) & (F.col("s_de") >= F.col("s_fr")), "de")
        .when(F.col("s_es") >= F.col("s_fr"), "es")
        .otherwise("fr")
    )
    return (
        scored.select("lang", pred.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# P7 (array-length filter) + P10 (slice / stride subsample).
# Reference: len(polygon)>1 filter street_level_grouping.py:208;
# [0::spacing] stride :166.
# --------------------------------------------------------------------------


@query(
    "P7_P10_array_filter_slice",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           array_to_string(list_slice(toks, 1, 3), ' ') AS head3,
           CAST(len([toks[i] for i in range(1, len(toks) + 1) if i % 2 = 1]) AS INTEGER)
               AS n_stride2
    FROM t WHERE len(toks) > 40
    """,
)
def array_filter_slice(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = docs.select("doc_id", _toks().alias("toks"))
    return t.filter(F.size("toks") > 40).select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.array_join(F.slice("toks", 1, 3), " ").alias("head3"),
        # stride-2 subsample: the reference's [0::spacing] (0-based even
        # offsets == 1-based odd positions).
        F.expr("size(filter(toks, (t, i) -> i % 2 == 0))").cast("int").alias("n_stride2"),
    )


# --------------------------------------------------------------------------
# N3 (array transform) + N4 (flatten).
# --------------------------------------------------------------------------


@query(
    "N3_N4_transform_flatten",
    f"""
    WITH t AS (SELECT doc_id, list_slice({_SQL_TOKS}, 1, 5) AS toks FROM documents)
    SELECT doc_id,
           array_to_string(list_transform(toks, t -> reverse(t)), ' ') AS reversed_head,
           CAST(len(flatten(list_transform(toks, t -> [t, upper(t)]))) AS INTEGER)
               AS n_flat
    FROM t
    """,
)
def transform_flatten(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = docs.select("doc_id", F.slice(_toks(), 1, 5).alias("toks"))
    return t.select(
        "doc_id",
        F.array_join(F.expr("transform(toks, t -> reverse(t))"), " ").alias(
            "reversed_head"
        ),
        F.size(F.flatten(F.expr("transform(toks, t -> array(t, upper(t)))")))
        .cast("int")
        .alias("n_flat"),
    )


# --------------------------------------------------------------------------
# J3: positional zip of parallel arrays (the reference's bboxes[i] ↔
# scores[i] pattern, street_level_grouping.py:68-74) — arrays_zip + explode
# instead of positional row joins.
# --------------------------------------------------------------------------


@query(
    "J3_arrays_zip_explode",
    f"""
    WITH t AS (SELECT doc_id, list_slice({_SQL_TOKS}, 1, 10) AS toks FROM documents
               WHERE doc_id < 50)
    SELECT doc_id, unnest(toks) AS token,
           CAST(unnest(list_transform(toks, t -> length(t))) AS INTEGER) AS tok_len
    FROM t
    """,
)
def arrays_zip_explode(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = docs.filter(F.col("doc_id") < 50).select(
        "doc_id", F.slice(_toks(), 1, 10).alias("toks")
    )
    zipped = t.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.col("toks").alias("token"),
                F.expr("transform(toks, t -> cast(length(t) as int))").alias("tok_len"),
            )
        ).alias("z"),
    )
    return zipped.select("doc_id", "z.token", "z.tok_len")


# --------------------------------------------------------------------------
# EXT-U9 (UDTF shape): one row → many rows with position (posexplode).
# --------------------------------------------------------------------------


@query(
    "U9_posexplode_tokens",
    f"""
    WITH t AS (SELECT doc_id, list_slice({_SQL_TOKS}, 1, 8) AS toks FROM documents
               WHERE doc_id < 30)
    SELECT doc_id,
           CAST(unnest(range(0, len(toks))) AS INTEGER) AS pos,
           unnest(toks) AS token
    FROM t
    """,
)
def posexplode_tokens(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = docs.filter(F.col("doc_id") < 30).select(
        "doc_id", F.slice(_toks(), 1, 8).alias("toks")
    )
    return t.select("doc_id", F.posexplode("toks").alias("pos", "token")).select(
        "doc_id", F.col("pos").cast("int").alias("pos"), "token"
    )


# --------------------------------------------------------------------------
# X4: BPE-ish regex token counting (north-star "token counting" op).
# RE2-safe pattern (DuckDB) == Java-regex behavior (Spark): word runs,
# digit runs, punctuation runs — the shape of a byte-pair pre-tokenizer.
# --------------------------------------------------------------------------

_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


@query(
    "X4_token_count_bpe",
    f"""
    WITH t AS (
        SELECT doc_id, lang,
               regexp_extract_all(lower(text), '{_BPE_RE}') AS btoks
        FROM documents
    )
    SELECT lang,
           CAST(SUM(len(btoks)) AS BIGINT) AS total_tokens,
           CAST(SUM(len(btoks)) AS DOUBLE) / COUNT(*) AS avg_tokens_per_doc,
           MAX(len(btoks)) AS max_tokens
    FROM t GROUP BY 1
    """,
)
def token_count_bpe(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = docs.select(
        "lang",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), 0)
        ).alias("n"),
    )
    return t.groupBy("lang").agg(
        F.sum("n").cast("long").alias("total_tokens"),
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("avg_tokens_per_doc"),
        F.max("n").alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# X4: document fingerprint — polynomial rolling hash over characters,
# mod 1e9+7 (north-star "document fingerprinting"). Both engines fold
# left-to-right with identical modular arithmetic (no bigint overflow:
# acc < 1e9+7 keeps acc*31 + 127 far inside int64, ANSI-safe).
# --------------------------------------------------------------------------


@query(
    "X4_doc_fingerprint",
    """
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            [CAST(ascii(c) AS BIGINT) for c in string_split(text, '')]),
               (a, b) -> (a * 31 + b) % 1000000007
           ) AS fingerprint,
           CAST(length(text) AS BIGINT) AS n_chars_actual
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    return docs.select(
        "doc_id",
        F.expr(
            "aggregate(split(text, ''), 0L,"
            " (a, c) -> (a * 31 + ascii(c)) % 1000000007)"
        ).alias("fingerprint"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


# --------------------------------------------------------------------------
# X4: composite quality score + filter gate — the training-data-pipeline
# document filter (length, punctuation, stopword, repetition signals
# combined into one score; rows below the gate are dropped).
# --------------------------------------------------------------------------


@query(
    "X4_quality_score",
    f"""
    WITH t AS (
        SELECT doc_id, text, {_SQL_TOKS} AS toks,
               length(text) AS nc,
               length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct
        FROM documents
    ), feat AS (
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(n_punct AS DOUBLE) / nc AS punct_ratio,
               CAST(len(list_filter(toks, x -> list_contains({_SQL_STOP}, x))) AS DOUBLE)
                   / len(toks) AS stopword_ratio,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
        FROM t
    )
    SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, distinct_ratio,
           0.25 * (CASE WHEN n_tokens >= 20 THEN 1.0 ELSE n_tokens / 20.0 END)
           + 0.25 * (1.0 - punct_ratio)
           + 0.25 * (CASE WHEN stopword_ratio > 0.02 THEN 1.0 ELSE 0.0 END)
           + 0.25 * distinct_ratio AS quality_score
    FROM feat
    WHERE 0.25 * (CASE WHEN n_tokens >= 20 THEN 1.0 ELSE n_tokens / 20.0 END)
           + 0.25 * (1.0 - punct_ratio)
           + 0.25 * (CASE WHEN stopword_ratio > 0.02 THEN 1.0 ELSE 0.0 END)
           + 0.25 * distinct_ratio >= 0.84
    """,
)
def quality_score(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    stop_arr = ", ".join(f"'{w}'" for w in _STOPWORDS)
    feat = docs.select(
        "doc_id",
        _toks().alias("toks"),
        F.length("text").cast("long").alias("nc"),
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).alias("n_punct"),
    ).select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        (F.col("n_punct").cast("double") / F.col("nc")).alias("punct_ratio"),
        (
            F.expr(
                f"size(filter(toks, x -> array_contains(array({stop_arr}), x)))"
            ).cast("double")
            / F.size("toks")
        ).alias("stopword_ratio"),
        (F.size(F.array_distinct("toks")).cast("double") / F.size("toks")).alias(
            "distinct_ratio"
        ),
    )
    score = (
        0.25 * F.when(F.col("n_tokens") >= 20, 1.0).otherwise(F.col("n_tokens") / 20.0)
        + 0.25 * (1.0 - F.col("punct_ratio"))
        + 0.25 * F.when(F.col("stopword_ratio") > 0.02, 1.0).otherwise(0.0)
        + 0.25 * F.col("distinct_ratio")
    )
    return feat.withColumn("quality_score", score).filter(
        F.col("quality_score") >= 0.84
    ).select(
        "doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
        "distinct_ratio", "quality_score",
    )


# --------------------------------------------------------------------------
# X4: Gopher-style repetition filter — how concentrated a document is on
# its single most frequent token and bigram (Rae et al. 2021 "duplicated
# n-gram fraction" rules; for these single-line documents the line-level
# rules collapse to n-gram concentration). High concentration = boilerplate
# or generator loops; the pass flag applies the published-style thresholds.
#
# Scale shape: explode → count → max is one shuffle on (doc_id, gram) and
# one on doc_id — both evenly keyed, no window over the whole corpus; at
# 100 TB this is the standard map-side-combinable two-stage aggregation.
# --------------------------------------------------------------------------


@query(
    "X4_repetition_filter",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    grams AS (
        SELECT doc_id, len(toks) AS n_tokens,
               len(toks) - 1 AS n_bigrams,
               unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS bg
        FROM t WHERE len(toks) >= 2
    ), bgc AS (
        SELECT doc_id, n_tokens, n_bigrams, bg, COUNT(*) AS c
        FROM grams GROUP BY 1, 2, 3, 4
    ), topbg AS (
        SELECT doc_id, n_tokens, n_bigrams, MAX(c) AS top_bigram_count
        FROM bgc GROUP BY 1, 2, 3
    ), uni AS (
        SELECT doc_id, MAX(c) AS top_token_count FROM (
            SELECT doc_id, tok, COUNT(*) AS c FROM (
                SELECT doc_id, unnest(toks) AS tok FROM t
            ) GROUP BY 1, 2
        ) GROUP BY 1
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS INTEGER) AS n_tokens,
           CAST(u.top_token_count AS DOUBLE) / b.n_tokens AS top_token_frac,
           CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams AS top_bigram_frac,
           (CAST(u.top_token_count AS DOUBLE) / b.n_tokens <= 0.30
            AND CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams <= 0.18)
               AS passes_repetition
    FROM topbg b JOIN uni u ON b.doc_id = u.doc_id
    """,
)
def repetition_filter(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    return repetition_metrics(docs)


def repetition_metrics(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document repetition-concentration metrics + pass flag (the
    reusable form behind X4_repetition_filter; the curation pipeline's
    repetition gate filters on ``passes_repetition``)."""
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"),
    ).filter(F.size("toks") >= 2)
    base = t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (F.size("toks") - 1).alias("n_bigrams"),
        "toks",
    )
    bigrams = base.select(
        "doc_id",
        "n_tokens",
        "n_bigrams",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (x, i) -> concat(x, ' ', toks[i + 1]))"
            )
        ).alias("bg"),
    )
    topbg = (
        bigrams.groupBy("doc_id", "n_tokens", "n_bigrams", "bg")
        .count()
        .groupBy("doc_id", "n_tokens", "n_bigrams")
        .agg(F.max("count").alias("top_bigram_count"))
    )
    uni = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_token_count"))
    )
    tt = F.col("top_token_count").cast("double") / F.col("n_tokens")
    tb = F.col("top_bigram_count").cast("double") / F.col("n_bigrams")
    return topbg.join(uni, "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        tt.alias("top_token_frac"),
        tb.alias("top_bigram_frac"),
        ((tt <= 0.30) & (tb <= 0.18)).alias("passes_repetition"),
    )


# --------------------------------------------------------------------------
# F-string-distance: edit-distance near-match pairs — the fuzzy-matching
# scalar surface (levenshtein exists on both engines with identical
# semantics). Candidate pairs are blocked by p_brand (small groups), the
# same candidate-bounding discipline as every other pair operator here.
# --------------------------------------------------------------------------


@query(
    "F_edit_distance_pairs",
    """
    SELECT a.p_brand AS brand,
           a.p_partkey AS key_a, b.p_partkey AS key_b,
           levenshtein(substr(a.p_name, 1, 15), substr(b.p_name, 1, 15)) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(substr(a.p_name, 1, 15), substr(b.p_name, 1, 15)) <= 4
    """,
)
def edit_distance_pairs(spark, sf_dir):
    from pyspark.sql import functions as F

    part = load(spark, sf_dir, "part")
    a = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_a"),
        F.substring("p_name", 1, 15).alias("name_a"),
    )
    b = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_b"),
        F.substring("p_name", 1, 15).alias("name_b"),
    )
    return (
        a.join(b, "brand")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 4)
        .select("brand", "key_a", "key_b", "dist")
    )


# --------------------------------------------------------------------------
# X16: entity resolution — the full match-cluster-canonicalize pipeline
# composed from declared building blocks: brand-blocked edit-distance
# match pairs (F_edit_distance_pairs' graph), distributed
# connected-components clustering (operators/dedup.py), and a canonical
# record per entity (cheapest member, partkey tiebreak). The oracle
# recomputes the same components with a recursive transitive-closure CTE
# (fixture-scale only) and the same window pick, so entity ids, canonical
# keys, and flags all hash-match. Scale: CC is O(diameter) shuffles and
# the canonical pick is one window over small clusters — but the match
# rule itself blocks on p_brand, a FIXED-cardinality key (25 brands), so
# block size grows ∝n and within-block candidates ∝n²: the brand-exact
# rule is the declared fixture-scale contract, and the scale path is the
# sorted-neighborhood sibling X16_entity_resolution_snm below (candidates
# ∝ n·w, no block-quadratic join anywhere).
# --------------------------------------------------------------------------


@query(
    "X16_entity_resolution",
    """
    WITH RECURSIVE prs AS (
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE levenshtein(substr(a.p_name, 1, 15), substr(b.p_name, 1, 15)) <= 4
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM prs
        UNION
        SELECT id_b, id_a FROM prs
    ), reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
        SELECT a AS node, LEAST(a, MIN(b)) AS entity_id FROM reach GROUP BY a
    )
    SELECT c.node AS p_partkey, c.entity_id,
           FIRST_VALUE(c.node) OVER w AS canonical_key,
           c.node = FIRST_VALUE(c.node) OVER w AS is_canonical
    FROM comp c JOIN part p ON p.p_partkey = c.node
    WINDOW w AS (
        PARTITION BY c.entity_id ORDER BY p.p_retailprice, c.node
    )
    """,
)
def entity_resolution(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.dedup import connected_components

    part = load(spark, sf_dir, "part")
    a = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_a"),
        F.substring("p_name", 1, 15).alias("name_a"),
    )
    b = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_b"),
        F.substring("p_name", 1, 15).alias("name_b"),
    )
    pairs = (
        a.join(b, "brand")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(F.levenshtein("name_a", "name_b") <= 4)
        .select("key_a", "key_b")
    )
    labels = connected_components(pairs, src="key_a", dst="key_b")
    joined = labels.join(
        part.select("p_partkey", "p_retailprice"),
        labels["node"] == F.col("p_partkey"),
    )
    w = Window.partitionBy("comp").orderBy("p_retailprice", "node")
    first = F.first("node").over(w)
    return joined.select(
        F.col("node").alias("p_partkey"),
        F.col("comp").alias("entity_id"),
        first.alias("canonical_key"),
        (F.col("node") == first).alias("is_canonical"),
    )


# --------------------------------------------------------------------------
# X16 (scale path): sorted-neighborhood entity resolution — the classic
# SNM blocking (Hernández & Stolfo, "The merge/purge problem") that fixes
# the brand-block's ∝n² candidate growth: within each brand, records sort
# by their name prefix and only pairs within w positions of each other
# are compared, so candidates are ∝ n·w at ANY scale. The candidate set
# is generated with w stacked lead() columns over ONE window (a single
# sort shuffle, no join, no per-block buffering); clustering and
# canonicalization are identical to X16_entity_resolution. The recall
# tradeoff is the declared SNM contract: matches more than w sort
# positions apart are not candidates — the rule the oracle replays
# exactly (rn-banded self-join), so components, canonical keys, and
# flags all hash-match.
# --------------------------------------------------------------------------

_SNM_W = 10


@query(
    "X16_entity_resolution_snm",
    f"""
    WITH RECURSIVE ranked AS (
        SELECT p_partkey, p_brand, substr(p_name, 1, 15) AS name15,
               ROW_NUMBER() OVER (
                   PARTITION BY p_brand
                   ORDER BY substr(p_name, 1, 15), p_partkey
               ) AS rn
        FROM part
    ), prs AS (
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        FROM ranked a JOIN ranked b
          ON a.p_brand = b.p_brand
         AND b.rn > a.rn AND b.rn <= a.rn + {_SNM_W}
        WHERE levenshtein(a.name15, b.name15) <= 4
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM prs
        UNION
        SELECT id_b, id_a FROM prs
    ), reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
        SELECT a AS node, LEAST(a, MIN(b)) AS entity_id FROM reach GROUP BY a
    )
    SELECT c.node AS p_partkey, c.entity_id,
           FIRST_VALUE(c.node) OVER w AS canonical_key,
           c.node = FIRST_VALUE(c.node) OVER w AS is_canonical
    FROM comp c JOIN part p ON p.p_partkey = c.node
    WINDOW w AS (
        PARTITION BY c.entity_id ORDER BY p.p_retailprice, c.node
    )
    """,
)
def entity_resolution_snm(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.dedup import connected_components

    part = load(spark, sf_dir, "part")
    ranked = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key"),
        F.substring("p_name", 1, 15).alias("name15"),
    )
    # w lead() columns over ONE window spec → Catalyst plans a single
    # Window operator (one sort exchange on brand); candidates ∝ n·w.
    wspec = Window.partitionBy("brand").orderBy("name15", "key")
    neighbors = F.array(
        *[
            F.struct(
                F.lead("key", i).over(wspec).alias("key_b"),
                F.lead("name15", i).over(wspec).alias("name_b"),
            )
            for i in range(1, _SNM_W + 1)
        ]
    )
    pairs = (
        ranked.select("key", "name15", neighbors.alias("_ns"))
        .select("key", "name15", F.explode("_ns").alias("n"))
        .filter(F.col("n.key_b").isNotNull())
        .filter(F.levenshtein("name15", F.col("n.name_b")) <= 4)
        .select(F.col("key").alias("key_a"), F.col("n.key_b").alias("key_b"))
    )
    labels = connected_components(pairs, src="key_a", dst="key_b")
    joined = labels.join(
        part.select("p_partkey", "p_retailprice"),
        labels["node"] == F.col("p_partkey"),
    )
    w = Window.partitionBy("comp").orderBy("p_retailprice", "node")
    first = F.first("node").over(w)
    return joined.select(
        F.col("node").alias("p_partkey"),
        F.col("comp").alias("entity_id"),
        first.alias("canonical_key"),
        (F.col("node") == first).alias("is_canonical"),
    )


# --------------------------------------------------------------------------
# X4: boilerplate-span detection (C4-style) — token 5-grams shared by
# many documents are template/boilerplate text, the removal list for
# sub-document dedup. Document frequency over distinct per-doc shingles,
# one shuffle on the shingle key; at 100 TB the same aggregation runs
# with a min-df pre-filter on partial counts (map-side combine already
# discards the long unique tail before the exchange).
# --------------------------------------------------------------------------

_BP_NGRAM = 5
_BP_MIN_DF = 3


@query(
    "X4_boilerplate_spans",
    f"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ), shingled AS (
        SELECT doc_id,
               CASE WHEN len(toks) < {_BP_NGRAM} THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct([
                        array_to_string(toks[i:i+{_BP_NGRAM}-1], ' ')
                        for i in range(1, len(toks) - {_BP_NGRAM} + 2)])
               END AS spans
        FROM t
    )
    SELECT span, COUNT(*) AS df
    FROM (SELECT doc_id, unnest(spans) AS span FROM shingled)
    GROUP BY span HAVING COUNT(*) >= {_BP_MIN_DF}
    """,
)
def boilerplate_spans(spark, sf_dir):
    from ..functions.text import tokens, word_shingles

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    spans = (
        docs.select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", word_shingles("toks", _BP_NGRAM).alias("spans"))
        .select("doc_id", F.explode("spans").alias("span"))
    )
    return (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= _BP_MIN_DF)
    )


# --------------------------------------------------------------------------
# X3: BM25 lexical retrieval (Okapi k1=1.2, b=0.75) for a fixed 3-term
# query — the standard sparse-retrieval twin to the X3 dense cosine
# searches. No explode and no per-term shuffle: per-doc term frequencies
# are row-local `filter()` counts over the token array, the corpus stats
# (N, Σdl, per-term df — all exact integers) are ONE global aggregate
# broadcast back via a 1-row cross join, and the score is a fixed-order
# double expression, so the only data movement at 100 TB is that 1-row
# stats exchange plus the final top-k (TakeOrderedAndProject, no global
# sort). Scores rounded to 6 dp before ranking so the cross-engine order
# is ulp-robust; doc_id tiebreak makes top-20 a total order.
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_scored_cte() -> str:
    """DuckDB CTE chain ending in ``scored(doc_id, dl, bm25)`` — docs with
    at least one query-term hit, score rounded to 6 dp."""
    tf_cols = ",\n               ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_aggs = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score = " + ".join(
        f"ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1)"
        f" * (d.tf{i} * ({_BM25_K1} + 1))"
        f" / (d.tf{i} + {_BM25_K1} * (1 - {_BM25_B}"
        f" + {_BM25_B} * d.dl / (CAST(s.sum_dl AS DOUBLE) / s.n)))"
        for i in range(len(_BM25_TERMS))
    )
    any_tf = " + ".join(f"d.tf{i}" for i in range(len(_BM25_TERMS)))
    return f"""
    t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ), d AS (
        SELECT doc_id, len(toks) AS dl,
               {tf_cols}
        FROM t
    ), s AS (
        SELECT COUNT(*) AS n, SUM(dl) AS sum_dl, {df_aggs} FROM d
    ), scored AS (
        SELECT d.doc_id, d.dl, round({score}, 6) AS bm25
        FROM d, s
        WHERE {any_tf} > 0
    )"""


def _bm25_sql() -> str:
    return f"""
    WITH {_bm25_scored_cte()}
    SELECT doc_id, dl AS n_tokens, bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """


def _tf(term: str):
    """Row-local term frequency: count of exact-match tokens (single-arg
    lambda — a two-arg lambda would make filter() bind the element index)."""
    return F.size(F.filter("toks", lambda x: x == F.lit(term)))


def _bm25_scored(spark, sf_dir):
    """Spark twin of the ``scored`` CTE: (doc_id, dl, bm25) for docs with
    ≥1 query-term hit, score rounded to 6 dp."""
    from ..functions.text import tokens

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    # pin the tf table: it feeds BOTH the stats aggregate and the scoring
    # pass — without the cut the tokenize+filter projection (the dominant
    # cost) re-evaluates once per consumer
    d = cut_lineage(
        docs.select("doc_id", tokens("text").alias("toks")).select(
            "doc_id",
            F.size("toks").alias("dl"),
            *[_tf(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)],
        )
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    scored = d.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n")
    score = None
    for i in range(len(_BM25_TERMS)):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log((F.col("n") - df + 0.5) / (df + 0.5) + 1)
        term = idf * (tf * (_BM25_K1 + 1)) / (
            tf + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
        )
        score = term if score is None else score + term
    any_tf = sum(F.col(f"tf{i}") for i in range(len(_BM25_TERMS)))
    return scored.filter(any_tf > 0).select(
        "doc_id", "dl", F.round(score, 6).alias("bm25")
    )


@query("X3_bm25_topk", _bm25_sql())
def bm25_topk(spark, sf_dir):
    return (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", F.col("dl").alias("n_tokens"), "bm25")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# X3: hybrid retrieval — reciprocal-rank fusion of the BM25 lexical
# shortlist with a dense cosine shortlist against a fixed query vector
# (vec_id 0; the fixture aligns vec_id ↔ doc_id). Each arm is a top-50
# shortlist ranked by its 6dp-rounded score with id tiebreaks (total
# order on both engines), fused as Σ 1/(60 + rank) — the standard RRF
# constant. Scale shape: both shortlists are tiny after their own top-k
# (TakeOrderedAndProject for BM25, one broadcast dot-product pass +
# top-k for the dense arm), so the fusion join is a 50×50 broadcast
# full-outer — nothing global ever sorts.
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_SHORTLIST = 50
_RRF_QUERY_VEC = 0


def _hybrid_rrf_sql() -> str:
    return f"""
    WITH {_bm25_scored_cte()},
    lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
        FROM scored
        QUALIFY r_lex <= {_RRF_SHORTLIST}
    ),
    qv AS (
        SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
        WHERE vec_id = {_RRF_QUERY_VEC}
    ),
    dense AS (
        SELECT c.vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY round(
                   list_dot_product(CAST(c.embedding AS DOUBLE[]), qv.q)
                   / sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[]))
                        * list_dot_product(qv.q, qv.q)), 6) DESC,
                   c.vec_id) AS r_dense
        FROM embeddings c, qv
        WHERE c.vec_id != {_RRF_QUERY_VEC}
        QUALIFY r_dense <= {_RRF_SHORTLIST}
    )
    SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
           round(COALESCE(1.0 / ({_RRF_K} + r_lex), 0)
               + COALESCE(1.0 / ({_RRF_K} + r_dense), 0), 6) AS rrf
    FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """


@query("X3_hybrid_rrf_fusion", _hybrid_rrf_sql())
def hybrid_rrf_fusion(spark, sf_dir):
    from pyspark.sql import Window

    lex = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RRF_SHORTLIST)
        .withColumn(
            "r_lex",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), "doc_id")
            ),
        )
        .select("doc_id", "r_lex")
    )
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("embedding").cast("array<double>").alias("q")
    )
    cand = emb.filter(F.col("vec_id") != _RRF_QUERY_VEC).crossJoin(
        F.broadcast(qv)
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"), F.col("q"),
            lambda a, b: a * b,
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    norm2 = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(c, c, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    cosine = F.round(
        dot / F.sqrt(
            norm2(F.col("embedding").cast("array<double>")) * norm2(F.col("q"))
        ),
        6,
    )
    dense = (
        cand.select(F.col("vec_id").alias("doc_id"), cosine.alias("cos"))
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(_RRF_SHORTLIST)
        .withColumn(
            "r_dense",
            F.row_number().over(Window.orderBy(F.col("cos").desc(), "doc_id")),
        )
        .select("doc_id", "r_dense")
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (_RRF_K + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("r_dense")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


# --------------------------------------------------------------------------
# F: array function surface — the collection-function sweep (sort /
# distinct / slice / contains / element_at / reverse) over document token
# arrays, all row-local higher-order built-ins (no shuffle, pure
# whole-stage codegen). Tokens are ASCII-lowercase so lexicographic
# ordering agrees byte-for-byte across engines.
# --------------------------------------------------------------------------


@query(
    "F_array_funcs",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS ts
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           len(ts) AS n_toks,
           len(list_distinct(ts)) AS n_unique,
           list_sort(list_distinct(ts))[1] AS first_sorted,
           list_sort(list_distinct(ts))[-1] AS last_sorted,
           list_contains(ts, 'data') AS has_data,
           array_to_string(list_slice(list_sort(list_distinct(ts)), 1, 3),
                           ',') AS first3,
           list_reverse(ts)[1] AS last_token
    FROM t
    WHERE len(ts) > 0
    """,
)
def array_funcs(spark, sf_dir):
    # size(ts) > 0 guard (both engines): element_at on an empty token
    # array errors under Spark ANSI but NULLs in DuckDB — a document
    # whose text tokenizes to nothing must be filtered identically.
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    t = docs.select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"
        ).alias("ts"),
    ).filter(F.size("ts") > 0)
    srt = F.array_sort(F.array_distinct("ts"))
    return t.select(
        "doc_id",
        F.size("ts").alias("n_toks"),
        F.size(F.array_distinct("ts")).alias("n_unique"),
        F.element_at(srt, 1).alias("first_sorted"),
        F.element_at(srt, -1).alias("last_sorted"),
        F.array_contains("ts", "data").alias("has_data"),
        F.concat_ws(",", F.slice(srt, 1, 3)).alias("first3"),
        F.element_at(F.reverse("ts"), 1).alias("last_token"),
    )


# --------------------------------------------------------------------------
# X4: quality-tiered hash sampling — the curation downsampler: keep all
# high-quality documents, half the mid tier, a tenth of the low tier.
# The keep/drop decision is a pure function of doc_id (uniform u32 from
# the first 8 md5 hex digits — the same portable-hash trick as the
# MinHash twin), NOT rand(): at 100 TB hash sampling is reproducible
# across retries, partitionings, and engines, and downstream joins can
# re-derive membership without a stored sample list. Row-local end to
# end — zero shuffles.
# --------------------------------------------------------------------------

_TIER_RATES = {"high": 1.0, "mid": 0.5, "low": 0.1}
_U32 = 4294967296


def _md5_u32_sql(expr: str) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {j + 1}, 1)) - 1)"
        f" * {16 ** (7 - j)}"
        for j in range(8)
    )


@query(
    "X4_quality_tier_sample",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), nonempty AS (
      SELECT * FROM t WHERE len(toks) > 0
    ), tiered AS (
      SELECT doc_id,
             CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                       >= 0.6 THEN 'high'
                  WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                       >= 0.4 THEN 'mid'
                  ELSE 'low' END AS tier,
             ({_md5_u32_sql("CAST(doc_id AS VARCHAR)")}) AS u
      FROM nonempty
    )
    SELECT doc_id, tier FROM tiered
    WHERE u < CASE tier WHEN 'high' THEN {int(1.0 * _U32)}
                        WHEN 'mid' THEN {int(0.5 * _U32)}
                        ELSE {int(0.1 * _U32)} END
    """,
)
def quality_tier_sample(spark, sf_dir):
    # size(toks) > 0 guard (both engines): the tier ratio divides by the
    # token count, which diverges on empty-token documents (Spark ANSI
    # error vs DuckDB NULL) — filter them out identically.
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = docs.select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"
        ).alias("toks"),
    ).filter(F.size("toks") > 0)
    ratio = F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
    u = F.expr(
        " + ".join(
            "CAST(instr('0123456789abcdef',"
            f" substr(md5(CAST(doc_id AS STRING)), {j + 1}, 1)) - 1 AS BIGINT)"
            f" * {16 ** (7 - j)}"
            for j in range(8)
        )
    )
    tiered = t.select(
        "doc_id",
        F.when(ratio >= 0.6, "high")
        .when(ratio >= 0.4, "mid")
        .otherwise("low")
        .alias("tier"),
        u.alias("u"),
    )
    rate = (
        F.when(F.col("tier") == "high", F.lit(int(1.0 * _U32)))
        .when(F.col("tier") == "mid", F.lit(int(0.5 * _U32)))
        .otherwise(F.lit(int(0.1 * _U32)))
    )
    return tiered.filter(F.col("u") < rate).select("doc_id", "tier")


# --------------------------------------------------------------------------
# X4: PREFERENCE-PAIR construction — reward-model / DPO data prep: per
# source, the i-th BEST document (by the declared quality score) is
# paired with the i-th WORST as (chosen, rejected), up to 5 pairs per
# source, with the score margin in micro units. Deterministic by the
# house ranking discipline (score rounded to 6dp before the windows,
# doc_id tiebreaks, null scores filtered); chosen and rejected can never
# collide because pair_rank is capped at n//2. The oracle replays the
# full feature extraction, both rank windows, and the self-join pairing.
# Scale: two windows per source partition + a rank equi-join — no
# cross product; the expensive half is the feature scan the quality
# gate already pays.
# --------------------------------------------------------------------------

_PREF_PAIRS_PER_SOURCE = 5
_SQL_QSCORE = """
           0.25 * (CASE WHEN n_tokens >= 20 THEN 1.0 ELSE n_tokens / 20.0 END)
           + 0.25 * (1.0 - punct_ratio)
           + 0.25 * (CASE WHEN stopword_ratio > 0.02 THEN 1.0 ELSE 0.0 END)
           + 0.25 * distinct_ratio
"""


@query(
    "X4_preference_pairs",
    f"""
    WITH t AS (
        SELECT source, doc_id, {_SQL_TOKS} AS toks,
               length(text) AS nc,
               length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct
        FROM documents
    ), feat AS (
        SELECT source, doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(n_punct AS DOUBLE) / nc AS punct_ratio,
               CAST(len(list_filter(toks, x -> list_contains({{stops}}, x))) AS DOUBLE)
                   / len(toks) AS stopword_ratio,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
        FROM t
    ), sc AS (
        SELECT source, doc_id, round({_SQL_QSCORE}, 6) AS q FROM feat
        WHERE round({_SQL_QSCORE}, 6) IS NOT NULL
    ), rk AS (
        SELECT source, doc_id, q,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY q DESC, doc_id)
                   AS rb,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY q ASC, doc_id)
                   AS rw,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM sc
    )
    SELECT b.source, CAST(b.rb AS INTEGER) AS pair_rank,
           b.doc_id AS chosen_id, w.doc_id AS rejected_id,
           CAST(ROUND(1000000.0 * (b.q - w.q)) AS BIGINT) AS margin_micro
    FROM rk b JOIN rk w
      ON b.source = w.source AND b.rb = w.rw
     AND b.rb <= LEAST({_PREF_PAIRS_PER_SOURCE}, b.n // 2)
    """.replace("{stops}", "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"),
)
def preference_pairs(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    stop_arr = ", ".join(f"'{w}'" for w in _STOPWORDS)
    feat = docs.select(
        "source",
        "doc_id",
        _toks().alias("toks"),
        F.length("text").cast("long").alias("nc"),
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).alias("n_punct"),
    ).select(
        "source",
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        (F.col("n_punct").cast("double") / F.col("nc")).alias("punct_ratio"),
        (
            F.expr(
                f"size(filter(toks, x -> array_contains(array({stop_arr}), x)))"
            ).cast("double")
            / F.size("toks")
        ).alias("stopword_ratio"),
        (F.size(F.array_distinct("toks")).cast("double") / F.size("toks")).alias(
            "distinct_ratio"
        ),
    )
    score = (
        0.25 * F.when(F.col("n_tokens") >= 20, 1.0).otherwise(F.col("n_tokens") / 20.0)
        + 0.25 * (1.0 - F.col("punct_ratio"))
        + 0.25 * F.when(F.col("stopword_ratio") > 0.02, 1.0).otherwise(0.0)
        + 0.25 * F.col("distinct_ratio")
    )
    sc = (
        feat.withColumn("q", F.round(score, 6))
        .filter(F.col("q").isNotNull())
        .select("source", "doc_id", "q")
    )
    rk = sc.select(
        "source", "doc_id", "q",
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id")))
        .alias("rb"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.asc("q"), F.asc("doc_id")))
        .alias("rw"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    b = rk.select(
        "source", F.col("doc_id").alias("chosen_id"),
        F.col("q").alias("qb"), "rb", "n",
    )
    w = rk.select(
        F.col("source").alias("wsource"),
        F.col("doc_id").alias("rejected_id"),
        F.col("q").alias("qw"), "rw",
    )
    return (
        b.join(
            w,
            (F.col("source") == F.col("wsource")) & (F.col("rb") == F.col("rw")),
        )
        .filter(
            F.col("rb")
            <= F.least(
                F.lit(_PREF_PAIRS_PER_SOURCE), F.expr("n div 2")
            )
        )
        .select(
            "source",
            F.col("rb").cast("int").alias("pair_rank"),
            "chosen_id",
            "rejected_id",
            F.round(1_000_000.0 * (F.col("qb") - F.col("qw")))
            .cast("bigint")
            .alias("margin_micro"),
        )
    )
