"""Corpus-level analytics over ``documents`` — the training-data curation
operators a 100 TB text pipeline runs between dedup and tokenization:
TF-IDF term weighting, n-gram statistics, Zipf vocabulary profiling,
PII redaction, and benchmark-contamination probing.

Scale notes (local[32] tests, 1000-executor design):
- Term/bigram explosion is row-local (no shuffle) followed by ONE hash
  aggregation on the term key — partial aggregation below the exchange
  keeps the shuffle proportional to vocabulary size, not corpus size.
- Per-group top-k uses a window over the grouping key, never a global
  sort of the exploded terms.
- PII redaction is a pure projection (regexp_replace chain) — zero
  shuffle, fully pushed into whole-stage codegen.
- The contamination probe broadcasts the (tiny) probe set against the
  corpus scan — a substring containment join with no shuffle on the big
  side; at real scale the probe set is the benchmark suite (<1e5 rows),
  still broadcastable.

Determinism: every ranking carries a unique (term/bigram) tiebreak;
ln() agrees across engines to <1 ulp, far inside the 9dp comparison; no
floating aggregation order-dependence (counts are integers, idf is
computed from exact integer counts).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import read_parquet
from ..session import cut_lineage
from .common import load, query

# Same tokenizer contract as queries/text.py: whitespace split of trimmed
# text; Java regex (Spark) and RE2 (DuckDB) agree on \s+.
def _toks() -> F.Column:
    return F.split(F.trim(F.col("text")), r"\s+")


_SQL_TOKS = "string_split_regex(trim(text), '\\s+')"


# --------------------------------------------------------------------------
# X4: TF-IDF top terms per source — the classic corpus term-weighting op.
# tf = term occurrences within a source's documents; df = number of
# sources containing the term; idf = ln(N_sources / df). Top-5 terms per
# source by (tfidf desc, term asc).
# --------------------------------------------------------------------------


@query(
    "X4_tfidf_top_terms",
    f"""
    WITH terms AS (
        SELECT source, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tf AS (
        SELECT source, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
    ),
    df AS (
        SELECT term, COUNT(DISTINCT source) AS df FROM terms GROUP BY 1
    ),
    n AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents),
    scored AS (
        SELECT tf.source, tf.term,
               CAST(tf.tf AS BIGINT) AS tf,
               CAST(df.df AS BIGINT) AS df,
               tf.tf * ln(CAST(n.n_sources AS DOUBLE) / df.df) AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.source
                   ORDER BY tf.tf * ln(CAST(n.n_sources AS DOUBLE) / df.df) DESC,
                            tf.term
               ) AS rk
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT source, term, tf, df, tfidf, CAST(rk AS INTEGER) AS rk
    FROM scored WHERE rk <= 5
    """,
)
def tfidf_top_terms(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    terms = docs.select("source", F.explode(_toks()).alias("term"))
    tf = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = terms.groupBy("term").agg(F.count_distinct("source").alias("df"))
    n = docs.agg(F.count_distinct("source").alias("n_sources"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n_sources").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "tfidf",
            F.col("rk").cast("int").alias("rk"),
        )
    )


# --------------------------------------------------------------------------
# X4: corpus-wide bigram counts — adjacent-token pair statistics (the
# n-gram LM / repetition-analysis primitive). Bigrams are built row-local
# with an indexed transform (no self-join), then one aggregation.
# --------------------------------------------------------------------------


@query(
    "X4_bigram_top20",
    f"""
    WITH t AS (SELECT {_SQL_TOKS} AS toks FROM documents),
    bigrams AS (
        SELECT unnest([toks[i] || ' ' || toks[i + 1]
                       for i in range(1, len(toks))]) AS bigram
        FROM t
    )
    SELECT bigram, COUNT(*) AS n
    FROM bigrams GROUP BY 1
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def bigram_top20(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = docs.select(_toks().alias("toks"))
    bigrams = t.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (t, i) -> concat(t, ' ', toks[i + 1]))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


# --------------------------------------------------------------------------
# X4: Zipf vocabulary profile — term frequency ranks over the whole
# corpus, with the rank×frequency product Zipf's law predicts to be
# roughly constant. Vocabulary-sized output (top 50).
# --------------------------------------------------------------------------


@query(
    "X4_zipf_profile",
    f"""
    WITH terms AS (
        SELECT unnest({_SQL_TOKS}) AS term FROM documents
    ),
    counts AS (SELECT term, COUNT(*) AS freq FROM terms GROUP BY 1)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rank,
           term, CAST(freq AS BIGINT) AS freq,
           CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) * freq AS BIGINT)
               AS rank_freq
    FROM counts
    ORDER BY rank
    LIMIT 50
    """,
)
def zipf_profile(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    counts = (
        docs.select(F.explode(_toks()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # top-50 FIRST via orderBy+limit — Spark plans this as
    # TakeOrderedAndProject, a per-partition top-k with a 50-row merge,
    # so the web-scale vocabulary (~10^8 terms) never funnels through a
    # global rank window. The row_number below then orders exactly the
    # surviving 50 rows (allowlisted bounded window).
    top50 = counts.orderBy(F.desc("freq"), F.asc("term")).limit(50)
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    return (
        top50.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank",
            "term",
            F.col("freq").cast("long").alias("freq"),
            (F.col("rank") * F.col("freq")).cast("long").alias("rank_freq"),
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# X4: PII redaction — regexp_replace chain for emails and phone-shaped
# numbers. The fixture corpus is synthetic word-salad with no PII, so the
# query derives a PII-bearing column first (append a synthetic contact
# line per doc); the redaction regexes then run on both engines over
# identical inputs, checking cross-engine regex parity non-vacuously.
# Patterns are RE2-safe (DuckDB) and Java-regex-identical (Spark): no
# lookaround, no backreferences.
# --------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+"
_PHONE_RE = "555-[0-9]{4}"


@query(
    "X4_pii_redaction",
    f"""
    WITH pii AS (
        SELECT doc_id,
               text || ' contact: user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or call 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
           regexp_replace(
               regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           CAST(length(regexp_replace(
               regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
    FROM pii
    """,
)
def pii_redaction(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), 0)).cast("int").alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(_PHONE_RE), 0)).cast("int").alias("n_phones"),
        redacted.alias("redacted"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


# --------------------------------------------------------------------------
# X4: benchmark-contamination probe — which documents contain any of a
# fixed set of probe phrases (the "is my eval set in the training data"
# check). The probe side is broadcast; the corpus side is a pure scan
# with a substring containment predicate — no shuffle on the big side.
# --------------------------------------------------------------------------

_PROBES = (
    "hash value table",
    "window table table",
    "query big query",
    "scan group big",
    "this phrase does not occur",
)


# --------------------------------------------------------------------------
# X4: heavy-hitter terms via the candidate-then-verify scale operator
# (operators/scale.py::approx_top_k). Counts are exact and membership is
# deterministic on this corpus (candidate margin ≫ vocabulary skew), so
# the oracle is the plain exact top-k — the declared query proves the
# shuffle-light operator agrees with the exact form end-to-end.
# --------------------------------------------------------------------------


@query(
    "X4_heavy_hitter_terms",
    f"""
    WITH terms AS (SELECT unnest({_SQL_TOKS}) AS term FROM documents)
    SELECT term, COUNT(*) AS n
    FROM terms GROUP BY term
    ORDER BY n DESC, term
    LIMIT 20
    """,
)
def heavy_hitter_terms(spark, sf_dir):
    from ..operators.scale import approx_top_k

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    terms = docs.select(F.explode(_toks()).alias("term"))
    return approx_top_k(terms, "term", k=20).orderBy(F.desc("n"), F.asc("term"))


# --------------------------------------------------------------------------
# X4: Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005) — the
# mergeable frequency sketch: a d×w counter grid where every token
# increments one counter per hash row, and the estimate is the MIN over
# its d counters (never under-estimates, overestimates bounded by
# n/w per row). The 100 TB story is MERGEABILITY: the grid is built by
# ONE map-side-combinable aggregation to d×w = 1024 rows, and grids from
# different shards/days/streams merge by elementwise addition — the
# warehouse-rollup / streaming-state form of frequency tracking, unlike
# the exact vocabulary-sized count. Hashes are the repo's portable-md5
# pattern (first 8 hex chars of md5, mod w), so every counter, estimate,
# and the never-underestimates invariant hash-match DuckDB exactly —
# the portable twin of A18_countmin_no_underestimate (xxhash64 CMS over
# event types, invariant-checked), the same exact-twin/portable split
# as the MinHash and SimHash families. Mergeability is pinned by
# tests/test_stats_sketches.py (per-shard grids sum to the global grid).
# --------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 256
_CMS_SQL_BUCKET = (
    "CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {term}), 1, 8))"
    f" AS UBIGINT) % {_CMS_W}"
)


@query(
    "X4_cms_heavy_hitters_portable",
    f"""
    WITH terms AS (SELECT unnest({_SQL_TOKS}) AS term FROM documents),
    truec AS (SELECT term, COUNT(*) AS true_n FROM terms GROUP BY term),
    hrows AS (SELECT j FROM (VALUES (0), (1), (2), (3)) AS t(j)),
    cms AS (
        SELECT j, {_CMS_SQL_BUCKET.format(j="j", term="term")} AS bucket,
               CAST(SUM(true_n) AS BIGINT) AS counter
        FROM truec CROSS JOIN hrows GROUP BY 1, 2
    ),
    est AS (
        SELECT t.term, t.true_n, MIN(c.counter) AS cms_estimate
        FROM truec t CROSS JOIN hrows r
        JOIN cms c ON c.j = r.j AND c.bucket =
            {_CMS_SQL_BUCKET.format(j="r.j", term="t.term")}
        GROUP BY t.term, t.true_n
    )
    SELECT term, CAST(true_n AS BIGINT) AS true_n, cms_estimate,
           CAST(cms_estimate - true_n AS BIGINT) AS overestimate,
           cms_estimate >= true_n AS never_underestimates
    FROM est ORDER BY true_n DESC, term LIMIT 20
    """,
)
def cms_heavy_hitters_portable(spark, sf_dir):
    def bucket(jcol: F.Column, termcol: F.Column) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(jcol.cast("string"), F.lit(":"), termcol)),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint")
            % _CMS_W
        )

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    terms = docs.select(F.explode(_toks()).alias("term"))
    truec = terms.groupBy("term").agg(F.count(F.lit(1)).alias("true_n"))
    hrows = spark.range(_CMS_D).select(F.col("id").cast("int").alias("j"))
    keyed = truec.crossJoin(F.broadcast(hrows)).withColumn(
        "bucket", bucket(F.col("j"), F.col("term"))
    )
    cms = keyed.groupBy("j", "bucket").agg(F.sum("true_n").alias("counter"))
    est = (
        keyed.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("term", "true_n")
        .agg(F.min("counter").alias("cms_estimate"))
    )
    return (
        est.orderBy(F.desc("true_n"), F.asc("term"))
        .limit(20)
        .select(
            "term",
            F.col("true_n").cast("bigint").alias("true_n"),
            "cms_estimate",
            (F.col("cms_estimate") - F.col("true_n"))
            .cast("bigint")
            .alias("overestimate"),
            (F.col("cms_estimate") >= F.col("true_n")).alias(
                "never_underestimates"
            ),
        )
    )


# --------------------------------------------------------------------------
# X4: deterministic dataset split — hash-bucket assignment (train/val/test)
# that is reproducible on any engine and any cluster layout: bucket =
# first 8 hex chars of md5(doc_id) mod 100. The held-out-split primitive;
# no RNG, no sampling nondeterminism, rerun-stable.
# --------------------------------------------------------------------------


@query(
    "X4_deterministic_split",
    """
    WITH b AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % 100 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
    FROM b GROUP BY 1, 2
    """,
)
def deterministic_split(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


# --------------------------------------------------------------------------
# X4: sequence chunking — split each document's token stream into
# fixed-size training chunks with overlap (stride < chunk keeps context
# across boundaries). Row-local explode; chunk count ∝ tokens/stride.
# --------------------------------------------------------------------------

_CHUNK = 32
_STRIDE = 24


@query(
    "X4_sequence_chunks",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
               WHERE doc_id < 40),
    starts AS (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks), {_STRIDE})) AS s
        FROM t
    )
    SELECT doc_id, CAST((s - 1) / {_STRIDE} AS INTEGER) AS chunk_idx,
           array_to_string(list_slice(toks, s, s + {_CHUNK} - 1), ' ') AS chunk,
           CAST(len(list_slice(toks, s, s + {_CHUNK} - 1)) AS INTEGER) AS n_tokens
    FROM starts
    """,
)
def sequence_chunks(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = docs.filter(F.col("doc_id") < 40).select("doc_id", _toks().alias("toks"))
    starts = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(_STRIDE))
        ).alias("s"),
    )
    chunk = F.slice("toks", F.col("s"), _CHUNK)
    return starts.select(
        "doc_id",
        ((F.col("s") - 1) / _STRIDE).cast("int").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk"),
        F.size(chunk).cast("int").alias("n_tokens"),
    )


@query(
    "X4_contamination_probe",
    """
    SELECT probe, COUNT(doc_id) AS n_docs,
           COALESCE(MIN(doc_id), -1) AS first_doc
    FROM (VALUES {values}) probes(probe)
    LEFT JOIN documents ON contains(text, probe)
    GROUP BY probe
    """.format(values=", ".join(f"('{p}')" for p in _PROBES)),
)
def contamination_probe(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    probes = docs.sparkSession.createDataFrame(
        [(p,) for p in _PROBES], ["probe"]
    )
    joined = docs.join(
        F.broadcast(probes), F.col("text").contains(F.col("probe")), "right_outer"
    )
    return joined.groupBy("probe").agg(
        F.count("doc_id").alias("n_docs"),
        F.coalesce(F.min("doc_id"), F.lit(-1)).alias("first_doc"),
    )


# --------------------------------------------------------------------------
# X4: stratified deterministic sampling — an exact per-stratum fraction
# (ceil(f·n) docs per lang), selection ordered by md5(doc_id) so the
# sample is RNG-free, layout-stable, and reproducible across engines and
# cluster layouts. Complements X4_deterministic_split (global hash
# buckets, approximate fractions): this is the form for "exactly 20% of
# every language", e.g. eval carve-outs from skewed corpora.
#
# Scale shape: strata are languages — few and fat, so a plain
# per-stratum window would sort one language (possibly 60% of a web
# corpus) in ONE task, and the data-dependent limit ceil(f·n) blocks
# Spark's WindowGroupLimit pushdown. The rank therefore comes from
# operators/scale.py::stratified_row_number (range partitions spanning
# fat strata + per-(partition, stratum) offsets); per-stratum counts
# ride a broadcast join. Bit-identical output to the window form.
# --------------------------------------------------------------------------


@query(
    "X4_stratified_sample",
    """
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rn <= CEIL(0.2 * n)
    """,
)
def stratified_sample(spark, sf_dir):
    from ..operators.scale import stratified_row_number

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    keyed = docs.select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("_h")
    )
    ranked = stratified_row_number(
        keyed, ["lang"], [F.col("_h"), F.col("doc_id")], "rn"
    )
    counts = keyed.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(F.broadcast(counts), "lang")
        .filter(F.col("rn") <= F.ceil(0.2 * F.col("n")))
        .select("doc_id", "lang")
    )


# --------------------------------------------------------------------------
# X4: per-source character-distribution entropy — the information-theoretic
# text metric (low entropy flags repetitive/boilerplate sources; a standard
# corpus-quality signal). Float discipline: probabilities are exact
# (int/int in double), each p·ln(p) term is quantized to 12 dp and summed
# in exact DECIMAL — term-order independence — and libm-vs-JVM ln()
# last-ulp differences sit 3 orders of magnitude below the quantization
# step. Output rounded to 6 dp.
# --------------------------------------------------------------------------


@query(
    "X4_char_entropy",
    """
    WITH chars AS (
        SELECT source, unnest(string_split(lower(text), '')) AS ch
        FROM documents
    ), counts AS (
        SELECT source, ch, COUNT(*) AS c FROM chars GROUP BY source, ch
    ), totals AS (
        SELECT source, SUM(c) AS t FROM counts GROUP BY source
    )
    SELECT counts.source,
           COUNT(*) AS n_distinct_chars,
           round(-CAST(SUM(CAST(round(
               (CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t), 12
           ) AS DECIMAL(38,12))) AS DOUBLE), 6) AS entropy_nats
    FROM counts JOIN totals ON counts.source = totals.source
    GROUP BY counts.source
    """,
)
def char_entropy(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    chars = docs.select(
        "source", F.explode(F.split(F.lower("text"), "")).alias("ch")
    )
    counts = chars.groupBy("source", "ch").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("t"))
    p = F.col("c").cast("double") / F.col("t")
    term = F.round(p * F.log(p), 12).cast("decimal(38,12)")
    return (
        counts.join(totals, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.round(-F.sum(term).cast("double"), 6).alias("entropy_nats"),
        )
    )


# --------------------------------------------------------------------------
# X4: n-gram decontamination — the GPT-3-style eval-set leak check, at the
# n-gram level rather than exact containment (X4_contamination_probe):
# any training document sharing ≥ min_shared distinct 5-gram shingles
# with any eval-set document is flagged with its worst offender. The
# scale shape is the same inverted-index join as X2 Jaccard, with the
# eval side tiny → broadcast.
# --------------------------------------------------------------------------

_DECON_N = 5
_DECON_PROBE_DOCS = 5  # doc_id < 5 stand in for the eval set
_DECON_MIN_SHARED = 3


@query(
    "X4_ngram_decontamination",
    f"""
    WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ), sh0 AS (
        SELECT doc_id,
               toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1] || ' ' ||
               toks[CAST(i AS INT)+2] || ' ' || toks[CAST(i AS INT)+3] || ' ' ||
               toks[CAST(i AS INT)+4] AS s
        FROM tok, UNNEST(range(1, len(toks) - {_DECON_N - 2})) AS r(i)
        WHERE len(toks) >= {_DECON_N}
    ), sh AS (
        SELECT DISTINCT doc_id, s FROM sh0
    ), hits AS (
        SELECT t.doc_id, p.doc_id AS probe_doc_id, COUNT(*) AS n_shared
        FROM sh t JOIN sh p ON t.s = p.s
        WHERE p.doc_id < {_DECON_PROBE_DOCS} AND t.doc_id >= {_DECON_PROBE_DOCS}
        GROUP BY 1, 2
    )
    SELECT doc_id, probe_doc_id, n_shared FROM (
        SELECT doc_id, probe_doc_id, n_shared,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY n_shared DESC, probe_doc_id
               ) AS rn
        FROM hits WHERE n_shared >= {_DECON_MIN_SHARED}
    ) ranked WHERE rn = 1
    """,
)
def ngram_decontamination(spark, sf_dir):
    from ..functions.text import tokens, word_shingles

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    sh = (
        docs.select(F.col("doc_id").alias("_id"), tokens("text").alias("toks"))
        .select("_id", word_shingles("toks", _DECON_N).alias("shingles"))
        .select("_id", F.explode("shingles").alias("s"))
    )
    train = sh.filter(F.col("_id") >= _DECON_PROBE_DOCS).select(
        F.col("_id").alias("doc_id"), "s"
    )
    probe = sh.filter(F.col("_id") < _DECON_PROBE_DOCS).select(
        F.col("_id").alias("probe_doc_id"), "s"
    )
    hits = (
        train.join(F.broadcast(probe), "s")
        .groupBy("doc_id", "probe_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _DECON_MIN_SHARED)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_shared"), "probe_doc_id")
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "probe_doc_id", "n_shared")
    )


# --------------------------------------------------------------------------
# X4: corpus composition report — the "data card" table every corpus
# ships with: per (source, lang) document count, volume, and share of
# corpus. Shares are exact-count double divisions; volume sums are
# BIGINT-exact. One shuffle on a tiny composite key.
# --------------------------------------------------------------------------


@query(
    "X4_corpus_composition",
    """
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(*) AS DOUBLE)
           / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS doc_share,
           CAST(SUM(n_chars) AS DOUBLE)
           / CAST(SUM(SUM(n_chars)) OVER () AS DOUBLE) AS char_share
    FROM documents GROUP BY source, lang
    """,
)
def corpus_composition(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    grouped = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    # grand totals ride as a broadcast 1-row cross join instead of an
    # empty-partition window — same values, no single-task window node.
    totals = grouped.agg(
        F.sum("n_docs").alias("_td"), F.sum("total_chars").alias("_tc")
    )
    return grouped.crossJoin(F.broadcast(totals)).select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        (F.col("n_docs").cast("double") / F.col("_td").cast("double")).alias(
            "doc_share"
        ),
        (
            F.col("total_chars").cast("double") / F.col("_tc").cast("double")
        ).alias("char_share"),
    )


# --------------------------------------------------------------------------
# X4: duplication rate per source — which ingest feeds are polluting the
# corpus with copies. Exact content identity (md5 on both engines); the
# rate is one int/int double division.
# --------------------------------------------------------------------------


@query(
    "X4_dup_rate_by_source",
    """
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_distinct,
           1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM documents GROUP BY source
    """,
)
def dup_rate_by_source(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_distinct"),
        (
            F.lit(1.0)
            - F.countDistinct(F.md5(F.col("text").cast("binary"))).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_rate"),
    )


# --------------------------------------------------------------------------
# X4: deterministic source-mixture sampling — training-data mixing: each
# source is downsampled to a target weight with an md5-keyed acceptance
# test, so membership is a pure function of doc_id (reproducible across
# runs, engines, partitionings — no RNG state). The md5 fraction is the
# first 8 hex digits scaled to [0,1); both engines compute identical
# digests, so the kept set hash-matches exactly.
# --------------------------------------------------------------------------

_MIX_WEIGHTS = {"web": 0.5, "books": 1.0, "code": 0.75}
_MIX_DEFAULT = 0.25


@query(
    "X4_source_mixture_sample",
    f"""
    WITH keyed AS (
        SELECT doc_id, source,
               CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) AS DOUBLE) / 4294967296.0 AS frac,
               CASE source
                   WHEN 'web' THEN {_MIX_WEIGHTS['web']}
                   WHEN 'books' THEN {_MIX_WEIGHTS['books']}
                   WHEN 'code' THEN {_MIX_WEIGHTS['code']}
                   ELSE {_MIX_DEFAULT}
               END AS w
        FROM documents
    )
    SELECT source, COUNT(*) AS n_kept
    FROM keyed WHERE frac < w GROUP BY source
    """,
)
def source_mixture_sample(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    frac = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    w = F.when(F.col("source") == "web", F.lit(_MIX_WEIGHTS["web"]))
    w = w.when(F.col("source") == "books", F.lit(_MIX_WEIGHTS["books"]))
    w = w.when(F.col("source") == "code", F.lit(_MIX_WEIGHTS["code"]))
    w = w.otherwise(F.lit(_MIX_DEFAULT))
    return (
        docs.select("doc_id", "source", frac.alias("frac"), w.alias("w"))
        .filter(F.col("frac") < F.col("w"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


# --------------------------------------------------------------------------
# X4: contiguous sequence packing — fill fixed token budgets (context
# windows) with documents in a canonical order: bin id =
# floor(exclusive-running-token-sum / budget). Deterministic (total
# order by doc_id), SQL-expressible, and the realistic big-data packing
# shape: contiguous packing needs ONE window pass, whereas best-fit bin
# packing is inherently sequential. Per-bin fill stats quantify the
# padding waste the packer exists to remove.
# --------------------------------------------------------------------------

_PACK_BUDGET = 512


@query(
    "X4_sequence_packing",
    f"""
    WITH toks AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT doc_id, n_tokens,
               CAST(FLOOR(
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY bin_id
    """,
)
def sequence_packing(spark, sf_dir):
    from ..operators.scale import global_running_sum

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    # exclusive running token sum over doc_id order as a DISTRIBUTED
    # prefix-sum (range partitions → per-partition subtotals → broadcast
    # offsets → partition-local window) — no task ever sees the whole
    # corpus, unlike a global unpartitioned window.
    packed = global_running_sum(
        toks, [F.col("doc_id")], "n_tokens", "prefix", exclusive=True
    ).withColumn(
        "bin_id",
        F.floor(F.col("prefix").cast("double") / _PACK_BUDGET).cast("bigint"),
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
    )


# --------------------------------------------------------------------------
# X4: distributed BPE merge training — the subword-tokenizer build step,
# restated for Spark (operators/bpe.py): corpus → distinct word-freq
# table (all later cost ∝ |word vocab|, not corpus size), per round one
# map-combinable pair aggregation + a single-row driver collect, merges
# as JVM-side aggregate folds. tests/test_bpe.py pins the merge sequence
# against a pure-Python reference on fixture text, and the ORACLE unrolls
# the deterministic n_merges=8 fold as chained CTE stages (the
# X3_kmeans_fixed_point pattern): per round, weighted pair counts via a
# lead() window, top-1 by (n DESC, left, right), then the leftmost-
# non-overlapping merge applied POSITIONALLY — a merged token is strictly
# longer than `left`, so it can never cascade within a pass, and
# overlapping candidates (only possible when left = right) chain into
# gaps-and-islands runs where exactly the even offsets merge. That parity
# rule is provably equivalent to the Spark side's aggregate fold
# (tests/test_bpe.py property-checks it), so the hash oracle is exact.
# --------------------------------------------------------------------------

_BPE_MERGES = 8
_BPE_MIN_COUNT = 2


def _bpe_vocab_sql(n_merges: int = _BPE_MERGES, mc: int = _BPE_MIN_COUNT) -> str:
    """Shared CTE chain: w0 (word freq) → v0 (positional symbols) →
    v{n} (symbols after n merge rounds), with t{r} = round r's winner."""
    q = f"""
    WITH w0 AS MATERIALIZED (
        SELECT word, COUNT(*) AS weight FROM (
            SELECT unnest({_SQL_TOKS}) AS word FROM documents)
        WHERE word <> '' GROUP BY word
    ),
    v0 AS MATERIALIZED (
        SELECT word, weight, CAST(i AS BIGINT) AS i, substr(word, i, 1) AS sym
        FROM w0, UNNEST(generate_series(1, length(word))) AS s(i)
    ),
    """
    for r in range(n_merges):
        q += f"""
    pc{r} AS (
        SELECT lft, rgt, CAST(SUM(weight) AS BIGINT) AS n FROM (
            SELECT weight, sym AS lft,
                   lead(sym) OVER (PARTITION BY word ORDER BY i) AS rgt
            FROM v{r})
        WHERE rgt IS NOT NULL GROUP BY lft, rgt
    ),
    t{r} AS MATERIALIZED (
        SELECT lft, rgt, n FROM pc{r} ORDER BY n DESC, lft, rgt LIMIT 1
    ),
    c{r} AS (
        SELECT v.word, v.weight, v.i, v.sym,
               lead(v.sym) OVER (PARTITION BY v.word ORDER BY v.i) AS nxt,
               COALESCE(
                   v.sym = t.lft
                   AND lead(v.sym) OVER (PARTITION BY v.word ORDER BY v.i)
                       = t.rgt
                   AND t.n >= {mc}, FALSE) AS cand
        FROM v{r} v CROSS JOIN t{r} t
    ),
    g{r} AS (
        SELECT *, i - ROW_NUMBER() OVER (PARTITION BY word, cand ORDER BY i)
                  AS isl
        FROM c{r}
    ),
    k{r} AS (
        SELECT *, cand AND (ROW_NUMBER() OVER (
                      PARTITION BY word, cand, isl ORDER BY i) % 2 = 1)
                  AS do_merge
        FROM g{r}
    ),
    v{r + 1} AS MATERIALIZED (
        SELECT word, weight,
               ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS i,
               CASE WHEN do_merge THEN sym || nxt ELSE sym END AS sym
        FROM (SELECT *, COALESCE(lag(do_merge) OVER (
                            PARTITION BY word ORDER BY i), FALSE) AS consumed
              FROM k{r})
        WHERE NOT consumed
    ),
    """
    return q.rstrip().rstrip(",")


def _bpe_merges_sql(n_merges: int = _BPE_MERGES, mc: int = _BPE_MIN_COUNT) -> str:
    selects = " UNION ALL ".join(
        f'SELECT CAST({r} AS INTEGER) AS "rank", lft AS "left",'
        f' rgt AS "right", lft || rgt AS merged, n'
        f" FROM t{r} WHERE n >= {mc}"
        for r in range(n_merges)
    )
    return _bpe_vocab_sql(n_merges, mc) + " " + selects


@query("X4_bpe_merges", _bpe_merges_sql())
def bpe_merges(spark, sf_dir):
    from ..operators.bpe import bpe_train

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    return bpe_train(docs, n_merges=_BPE_MERGES)


# --------------------------------------------------------------------------
# X4: BPE token counts — the trained merges (X4_bpe_merges) applied to
# the corpus as chained row-local folds; the realistic "how many tokens
# is my corpus under the actual tokenizer" number, no Python in the
# plan. The oracle reuses the unrolled merge-round CTE chain: after
# n_merges rounds the per-word token count is just the surviving
# positional-symbol row count, joined back to the corpus word stream.
# --------------------------------------------------------------------------


def _bpe_token_counts_sql() -> str:
    return (
        _bpe_vocab_sql()
        + f""",
    wordtok AS (
        SELECT word, COUNT(*) AS n_sym FROM v{_BPE_MERGES} GROUP BY word
    ),
    docw AS (
        SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
    )
    SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
    FROM docw JOIN wordtok USING (word)
    WHERE word <> '' GROUP BY doc_id
    """
    )


@query("X4_bpe_token_counts", _bpe_token_counts_sql())
def bpe_token_counts(spark, sf_dir):
    from ..operators.bpe import bpe_encode, bpe_train

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=_BPE_MERGES).orderBy("rank").collect()
    ]
    return bpe_encode(docs, merges)


# --------------------------------------------------------------------------
# X4: weighted sample without replacement — Efraimidis–Spirakis priority
# sampling (operators/sampling.py): inclusion probability proportional
# to document length, the token-budget-proportional subsampling step of
# corpus curation. Priorities derive from md5(doc_id) (the
# deterministic-split trick), so the sample is identical across runs,
# partitionings, and engines — fully oracle-checkable. Keys are
# compared at 9 dp with a doc_id tiebreak so last-ulp ln() differences
# between engines cannot flip a rank.
# --------------------------------------------------------------------------

_WS_K = 5


@query(
    "X4_weighted_sample",
    f"""
    WITH keyed AS (
        SELECT source, doc_id, n_chars,
               round(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                              AS UBIGINT) + 1.0) / 4294967297.0)
                     / n_chars, 9) AS k
        FROM documents WHERE n_chars > 0
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY k DESC, doc_id
           ) AS INTEGER) AS sample_rank
    FROM keyed
    QUALIFY sample_rank <= {_WS_K}
    """,
)
def weighted_sample_query(spark, sf_dir):
    from ..operators.sampling import weighted_sample

    docs = load(spark, sf_dir, "documents")
    out = weighted_sample(
        docs.select("source", "doc_id", "n_chars"),
        weight_col="n_chars",
        k=_WS_K,
        id_col="doc_id",
        strata=["source"],
    )
    return out.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("sample_rank").cast("int").alias("sample_rank"),
    )


# --------------------------------------------------------------------------
# X4: temperature-scaled mixture sampling — the multilingual-corpus
# rebalancing rule (XLM-R-style): sample sources with probability
# ∝ share^α (α=0.5 here), which up-weights tail sources and damps the
# head; per-source targets k_i = ceil(total · w_i / Σw), selection =
# md5-priority rank within source. Cross-engine float discipline:
# α=0.5 means sqrt (IEEE-correctly-rounded on both engines, unlike
# pow); each w_i is quantized to 12 dp and Σw accumulated in exact
# DECIMAL (order-independent); the final ratio is one double multiply +
# divide + 9 dp round before CEIL. Ranking uses the distributed
# stratified_row_number (data-dependent per-stratum limit — the case
# WindowGroupLimit cannot push).
# --------------------------------------------------------------------------

_TEMP_SAMPLE_TOTAL = 100


@query(
    "X4_temperature_mixture_sample",
    f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS t FROM counts
    ), wts AS (
        SELECT source, n,
               CAST(round(sqrt(CAST(n AS DOUBLE) / t), 12) AS DECIMAL(20, 12)) AS w
        FROM counts CROSS JOIN tot
    ), wtot AS (
        SELECT SUM(w) AS wt FROM wts
    ), targets AS (
        SELECT source, n,
               CAST(CEIL(round(CAST(w AS DOUBLE) * {_TEMP_SAMPLE_TOTAL}
                               / CAST(wt AS DOUBLE), 9)) AS BIGINT) AS k
        FROM wts CROSS JOIN wtot
    ), ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT r.source, r.doc_id
    FROM ranked r JOIN targets USING (source)
    WHERE rn <= LEAST(k, n)
    """,
)
def temperature_mixture_sample(spark, sf_dir):
    from ..operators.scale import stratified_row_number

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").cast("double").alias("t"))
    wts = counts.crossJoin(F.broadcast(tot)).withColumn(
        "w",
        F.round(F.sqrt(F.col("n").cast("double") / F.col("t")), 12).cast(
            "decimal(20,12)"
        ),
    )
    wtot = wts.agg(F.sum("w").alias("wt"))
    targets = wts.crossJoin(F.broadcast(wtot)).select(
        "source",
        "n",
        F.ceil(
            F.round(
                F.col("w").cast("double")
                * _TEMP_SAMPLE_TOTAL
                / F.col("wt").cast("double"),
                9,
            )
        )
        .cast("bigint")
        .alias("k"),
    )
    keyed = docs.select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("_h")
    )
    ranked = stratified_row_number(
        keyed, ["source"], [F.col("_h"), F.col("doc_id")], "rn"
    )
    return (
        ranked.join(F.broadcast(targets), "source")
        .filter(F.col("rn") <= F.least(F.col("k"), F.col("n")))
        .select("source", "doc_id")
    )


# --------------------------------------------------------------------------
# X4: tokenizer-aware sequence packing — the real packing pipeline packs
# by TOKENIZER token counts, not whitespace counts: train BPE merges on
# the corpus (operators/bpe.py), encode every document with them (row-
# local JVM folds), then pack the encoded lengths into fixed context-
# window budgets with the same distributed prefix-sum as
# X4_sequence_packing. Rows-only (BPE training is iterative argmax);
# tests pin the whole chain against the pure-Python reference trainer +
# encoder + packer.
# --------------------------------------------------------------------------


def _bpe_sequence_packing_sql() -> str:
    """Prefix-sum packing over the unrolled-BPE token counts — the last
    BPE-family query to gain a hash oracle (round 8): the merge rounds
    come from the shared CTE chain, per-word symbol counts from the final
    vocab, and the bin assignment is X4_sequence_packing's exact
    exclusive-prefix fragment."""
    return (
        _bpe_vocab_sql()
        + f""",
    wordtok AS (
        SELECT word, COUNT(*) AS n_sym FROM v{_BPE_MERGES} GROUP BY word
    ),
    docw AS (
        SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
    ),
    enc AS (
        SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
        FROM docw JOIN wordtok USING (word)
        WHERE word <> '' GROUP BY doc_id
    ),
    packed AS (
        SELECT doc_id, n_bpe_tokens,
               CAST(FLOOR(
                   CAST(COALESCE(SUM(n_bpe_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT) AS bin_id
        FROM enc
    )
    SELECT bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_bpe_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY bin_id
    """
    )


@query("X4_bpe_sequence_packing", _bpe_sequence_packing_sql())
def bpe_sequence_packing(spark, sf_dir):
    from ..operators.bpe import bpe_encode, bpe_train
    from ..operators.scale import global_running_sum

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=8).orderBy("rank").collect()
    ]
    encoded = bpe_encode(docs, merges)  # (doc_id, n_words, n_bpe_tokens)
    packed = global_running_sum(
        encoded.select("doc_id", "n_bpe_tokens"),
        [F.col("doc_id")],
        "n_bpe_tokens",
        "prefix",
        exclusive=True,
    ).withColumn(
        "bin_id",
        F.floor(F.col("prefix").cast("double") / _PACK_BUDGET).cast("bigint"),
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe_tokens").cast("bigint").alias("bin_tokens"),
    )


# --------------------------------------------------------------------------
# X4: bigram-LM perplexity scoring — the classic LM-based quality filter
# (docs whose token transitions surprise a corpus-trained model get high
# negative-log-likelihood and are pruned). Model = add-one-smoothed
# bigram frequencies trained on the corpus itself: p(w2|w1) =
# (c(w1,w2)+1) / (c(w1)+V). Scale shape: bigram explode is row-local,
# counts are two map-combinable aggregations, scoring joins each bigram
# occurrence to its counts (shuffle on the bigram key), and the per-doc
# mean NLL uses the char-entropy float discipline — each -ln p term
# quantized to 12 dp and summed in exact DECIMAL, so the result is
# term-order independent and engine-invariant. Output rounded to 6 dp.
# --------------------------------------------------------------------------


@query(
    "X4_bigram_nll_score",
    """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ), bg AS (
        SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        FROM t, LATERAL unnest(range(1, len(toks))) u(i)
        WHERE len(toks) >= 2
    ), c12 AS (
        SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, COUNT(*) AS n FROM bg GROUP BY w1
    ), v AS (
        SELECT COUNT(DISTINCT tok) AS vocab
        FROM (SELECT unnest(toks) AS tok FROM t)
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           round(CAST(SUM(CAST(round(
               -ln((c12.c + 1.0) / (c1.n + v.vocab)), 12
           ) AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS avg_nll
    FROM bg
    JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
    JOIN c1 ON bg.w1 = c1.w1
    CROSS JOIN v
    GROUP BY bg.doc_id
    """,
)
def bigram_nll_score(spark, sf_dir):
    from ..functions.text import tokens

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = cut_lineage(docs.select("doc_id", tokens("text").alias("toks")))
    # pinned: bg feeds the two count aggregations AND the scoring
    # join — without the cut the bigram explode re-evaluates 3x
    bg = cut_lineage(
        t.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(element_at(toks, i) as w1,"
                    " element_at(toks, i + 1) as w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n"))
    v = t.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").alias("vocab")
    )
    term = F.round(
        -F.log((F.col("c") + 1.0) / (F.col("n") + F.col("vocab"))), 12
    ).cast("decimal(38,12)")
    scored = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(term).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_nll"),
        )
    )
    return scored


# --------------------------------------------------------------------------
# X4: epoch upsampling — the mixture knob that repeats high-quality
# sources N times per training run (the "3 epochs of wiki, 1 of web"
# recipe). Row explosion via sequence/generate_series is pure fan-out
# (map-side, no shuffle); the epoch index rides along so downstream
# packing can interleave epochs deterministically. At 100 TB the fan-out
# multiplies bytes, not shuffle keys — the write stays partitioned by
# (source, epoch) and nothing concentrates.
# --------------------------------------------------------------------------


@query(
    "X4_upsample_epochs",
    """
    SELECT doc_id, source, e AS epoch
    FROM (
      SELECT doc_id, source,
             CASE WHEN source IN ('src0', 'src1') THEN 3
                  WHEN source IN ('src2', 'src3') THEN 2
                  ELSE 1 END AS n_epochs
      FROM documents
    ), UNNEST(generate_series(1, n_epochs)) AS u(e)
    """,
)
def upsample_epochs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            F.expr(
                "CASE WHEN source IN ('src0', 'src1') THEN 3"
                " WHEN source IN ('src2', 'src3') THEN 2"
                " ELSE 1 END"
            ).alias("n_epochs"),
        )
        .select(
            "doc_id",
            "source",
            F.explode(F.expr("sequence(1, n_epochs)")).alias("epoch"),
        )
    )


# --------------------------------------------------------------------------
# X4: GROUP-AWARE dataset split — the leakage guard X4_deterministic_split
# doesn't give: assignment hashes the GROUP key (user_id), so every event
# of a user lands in the same split and no entity straddles train/val/test
# (user-level contamination is the classic eval leak). The declared
# output carries the audit: n_leaky_users (groups seen in >1 split) is
# computed, not assumed — the oracle must reproduce 0 from the same
# assignment closed form. Same md5-bucket primitive (engine- and
# layout-independent, RNG-free).
# --------------------------------------------------------------------------


@query(
    "X4_group_leakage_split",
    """
    WITH assign AS (
        SELECT event_id, user_id,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT event_id, user_id,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS UBIGINT) % 100 AS b
            FROM events
        )
    ), leak AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_leaky_users FROM (
            SELECT user_id FROM assign
            GROUP BY user_id HAVING COUNT(DISTINCT split) > 1
        )
    )
    SELECT split,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (SELECT n_leaky_users FROM leak) AS n_leaky_users
    FROM assign GROUP BY split
    """,
)
def group_leakage_split(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    assign = ev.select("event_id", "user_id", split.alias("split"))
    leak = (
        assign.groupBy("user_id")
        .agg(F.count_distinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("n_leaky_users"))
    )
    per_split = assign.groupBy("split").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # 1-row audit scalar broadcast onto each split row
    return per_split.join(F.broadcast(leak))


# --------------------------------------------------------------------------
# X4: unigram-LM negative-log-likelihood scoring — the CCNet-style
# perplexity gate (Wenzek et al., "CCNet: Extracting High Quality
# Monolingual Datasets from Web Crawl Data", arXiv:1911.00359): score
# every document by its likelihood under a language model and filter the
# high-perplexity tail. Here the LM is the corpus's own add-one-smoothed
# unigram model (the SQL-expressible core; a production KenLM swap keeps
# the identical join/aggregate shape and changes only the lp table's
# provenance).
#
# Determinism contract: each token's log-prob is FIXED-POINTED once
# (round(ln(p)·1e6) as BIGINT — ln agrees across engines to <1 ulp, far
# inside the 1e-6 grid), then per-document sums are exact integer
# arithmetic — no float summation-order hazard, no per-engine drift.
# The final per-token average uses integer division on the positive
# (negated) sum so Spark `div` and DuckDB `//` agree (both truncate
# toward zero for non-negative operands).
#
# Scale shape: explode is row-local; token counting is ONE partial-agg'd
# shuffle on the token key (vocabulary-sized, not corpus-sized); the
# lp-table join back to tokens is the skew hotspot at 100 TB (stopword
# posting lists) — AQE skew-join splits hot tokens, and the lp side is
# vocabulary-sized so it broadcasts outright on most clusters.
# --------------------------------------------------------------------------

_LP_SCALE = 1_000_000


def _lp(c: str, d: str) -> str:
    """Add-one-smoothed log-prob fragment, shared by Spark AND the oracle.

    Both operands are forced to DOUBLE *before* the division: without the
    casts, Spark folds the ``1.0`` literal into a scale-capped DECIMAL
    quotient while DuckDB divides in DOUBLE, and boundary values on the
    round(·1e6) fixed-point grid can flip between engines as corpus /
    vocabulary size grows (the same decimal-division trap documented and
    fixed for DQ10 and ``_vd_term``).
    """
    return f"ln(CAST({c} + 1 AS DOUBLE) / CAST({d} AS DOUBLE))"


@query(
    "X4_unigram_nll_scores",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM cnt),
    lp AS (
        SELECT token,
               CAST(round({_lp("c", "n + v")} * {_LP_SCALE}.0) AS BIGINT)
                   AS lp_micro
        FROM cnt CROSS JOIN tot
    ),
    doc AS (
        SELECT tok.doc_id, COUNT(*) AS n_tokens,
               SUM(lp.lp_micro) AS sum_lp_micro
        FROM tok JOIN lp USING (token) GROUP BY tok.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((-sum_lp_micro) // n_tokens AS BIGINT) AS nll_micro_avg
    FROM doc
    """,
)
def unigram_nll_scores(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    tok = docs.select("doc_id", F.explode(_toks()).alias("token"))
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("v"))
    lp = cnt.crossJoin(F.broadcast(tot)).select(
        "token",
        F.expr(
            f"CAST(round({_lp('c', 'n + v')} * {_LP_SCALE}.0) AS BIGINT)"
        ).alias("lp_micro"),
    )
    doc = tok.join(lp, "token").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("lp_micro").alias("sum_lp_micro"),
    )
    return doc.select(
        "doc_id",
        "n_tokens",
        F.expr("(-sum_lp_micro) div n_tokens").alias("nll_micro_avg"),
    )


# --------------------------------------------------------------------------
# X4: DSIR importance weights (Xie et al., "Data Selection for Language
# Models via Importance Resampling", arXiv:2302.03169): weight every
# document by how much more likely it is under a TARGET-domain LM than
# under the general-corpus LM — log w(doc) = Σ_tokens [ln p_target(t) −
# ln p_corpus(t)] — then resample by weight to tilt a 100 TB crawl
# toward the target distribution. Target here = the `lang = 'en'` slice
# (any label/seed-corpus predicate slots in); both unigram models share
# the corpus vocabulary so target-OOV tokens get mass 1/(n_tgt + v).
#
# Same determinism contract as X4_unigram_nll_scores: per-token log
# ratios fixed-pointed once, per-document sums exact integer arithmetic.
# Same scale shape plus one extra vocabulary-sized aggregation for the
# target counts (filter pushed to the scan).
# --------------------------------------------------------------------------

_DSIR_TARGET_LANG = "en"


@query(
    "X4_dsir_importance_weights",
    f"""
    WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, lang, unnest(toks) AS token FROM t),
    cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tcnt AS (
        SELECT token, COUNT(*) AS tc FROM tok
        WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY token
    ),
    tot AS (
        SELECT (SELECT SUM(c) FROM cnt) AS n,
               (SELECT COUNT(*) FROM cnt) AS v,
               (SELECT SUM(tc) FROM tcnt) AS tn
    ),
    lr AS (
        SELECT cnt.token,
               CAST(round(({_lp("COALESCE(tcnt.tc, 0)", "tn + v")}
                         - {_lp("cnt.c", "n + v")}) * {_LP_SCALE}.0)
                    AS BIGINT) AS lr_micro
        FROM cnt LEFT JOIN tcnt USING (token) CROSS JOIN tot
    ),
    doc AS (
        SELECT tok.doc_id, ANY_VALUE(tok.lang) AS lang,
               COUNT(*) AS n_tokens, SUM(lr.lr_micro) AS log_w_micro
        FROM tok JOIN lr USING (token) GROUP BY tok.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(log_w_micro AS BIGINT) AS log_w_micro,
           lang = '{_DSIR_TARGET_LANG}' AS is_target
    FROM doc
    """,
)
def dsir_importance_weights(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    tok = docs.select("doc_id", "lang", F.explode(_toks()).alias("token"))
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tcnt = (
        tok.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    tot = (
        cnt.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("v"))
        .crossJoin(tcnt.agg(F.sum("tc").alias("tn")))
    )
    lr = (
        cnt.join(tcnt, "token", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "token",
            F.expr(
                f"CAST(round(({_lp('COALESCE(tc, 0)', 'tn + v')}"
                f" - {_lp('c', 'n + v')}) * {_LP_SCALE}.0) AS BIGINT)"
            ).alias("lr_micro"),
        )
    )
    doc = tok.join(lr, "token").groupBy("doc_id").agg(
        F.any_value("lang").alias("lang"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("lr_micro").alias("log_w_micro"),
    )
    return doc.select(
        "doc_id",
        "n_tokens",
        "log_w_micro",
        (F.col("lang") == _DSIR_TARGET_LANG).alias("is_target"),
    )


# --------------------------------------------------------------------------
# X4: bigram-LM NLL — the conditional-likelihood upgrade of
# X4_unigram_nll_scores (perplexity filters in production use 5-gram
# KenLM; the bigram form is the smallest model where CONTEXT matters, so
# scrambled/boilerplate text that unigram stats cannot see scores
# visibly worse). p(t_i | t_{i-1}) = (c(t_{i-1}, t_i) + 1) /
# (h(t_{i-1}) + V) with history counts h(·) over transition positions
# and the shared unigram vocabulary V. Same fixed-point determinism
# contract (round(ln·1e6) once, exact integer per-doc sums, truncating
# division on the negated sum); the transition join shuffles on the
# (t1, t2) pair key — bigram vocabulary-sized, with far lighter skew
# than the unigram join (stopword mass splits across successors).
# --------------------------------------------------------------------------


@query(
    "X4_bigram_nll_scores",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    bi AS (
        SELECT doc_id, b['t1'] AS t1, b['t2'] AS t2 FROM (
            SELECT doc_id,
                   unnest([{{'t1': toks[i], 't2': toks[i + 1]}}
                           for i in range(1, len(toks))]) AS b
            FROM t
        )
    ),
    vocab AS (
        SELECT COUNT(DISTINCT token) AS v
        FROM (SELECT unnest(toks) AS token FROM t)
    ),
    hist AS (SELECT t1, COUNT(*) AS h FROM bi GROUP BY t1),
    bcnt AS (SELECT t1, t2, COUNT(*) AS c FROM bi GROUP BY t1, t2),
    lp AS (
        SELECT bcnt.t1, bcnt.t2,
               CAST(round({_lp("c", "h + v")} * {_LP_SCALE}.0) AS BIGINT)
                   AS lp_micro
        FROM bcnt JOIN hist USING (t1) CROSS JOIN vocab
    ),
    doc AS (
        SELECT bi.doc_id, COUNT(*) AS n_transitions,
               SUM(lp.lp_micro) AS sum_lp_micro
        FROM bi JOIN lp ON bi.t1 = lp.t1 AND bi.t2 = lp.t2
        GROUP BY bi.doc_id
    )
    SELECT doc_id, CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST((-sum_lp_micro) // n_transitions AS BIGINT) AS nll_micro_avg
    FROM doc
    """,
)
def bigram_nll_scores(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = docs.select("doc_id", _toks().alias("toks"))
    # Guard short documents: for size(toks) = 1 Spark's sequence(1, 0) is
    # DESCENDING [1, 0], so element_at(toks, 0) / element_at(toks, 2)
    # would throw — emit no transition positions instead, matching the
    # oracle's empty list comprehension (same guard pattern as
    # operators/bpe.py and functions/text.py).
    bi = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1)"
                " ELSE CAST(array() AS ARRAY<INT>) END"
            )
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.expr("element_at(toks, i)").alias("t1"),
        F.expr("element_at(toks, i + 1)").alias("t2"),
    )
    vocab = (
        t.select(F.explode("toks").alias("token"))
        .agg(F.count_distinct("token").alias("v"))
    )
    hist = bi.groupBy("t1").agg(F.count(F.lit(1)).alias("h"))
    bcnt = bi.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("c"))
    lp = (
        bcnt.join(hist, "t1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "t1",
            "t2",
            F.expr(
                f"CAST(round({_lp('c', 'h + v')} * {_LP_SCALE}.0)"
                f" AS BIGINT)"
            ).alias("lp_micro"),
        )
    )
    doc = bi.join(lp, ["t1", "t2"]).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.sum("lp_micro").alias("sum_lp_micro"),
    )
    return doc.select(
        "doc_id",
        "n_transitions",
        F.expr("(-sum_lp_micro) div n_transitions").alias("nll_micro_avg"),
    )


# --------------------------------------------------------------------------
# X4: vocabulary drift — Population Stability Index of each SOURCE's token
# distribution against the rest of the corpus, over fixed bins = the
# corpus's top-100 tokens + __OTHER__. The crawl-snapshot health check a
# 100 TB ingest runs per feed: a scraper change, an encoding regression,
# or a new boilerplate template shifts a source's token mass long before
# any row-level gate fires (DQ10 is the same metric over a NUMERIC
# column; this is the text-distribution sibling). Top-100 selection is
# deterministic (count DESC, token ASC — token is unique so the order is
# total); bins are corpus-global so every source is scored on the same
# axis. Same fixed-point PSI contract as DQ10 (DOUBLE-forced shares,
# round(term·1e6) BIGINT, exact integer per-source sums).
# Scale shape: one vocabulary-sized aggregation, a broadcast top-100
# membership join, ONE (source, bin) aggregation — eagerly checkpointed,
# it is |sources|×101 rows — and everything downstream (marginals, the
# dense grid, PSI terms) derives from that tiny relation with broadcast
# joins. The round-9 shape re-executed the token explode once per
# marginal (18 shuffles); this one shuffles the corpus exactly twice.
# --------------------------------------------------------------------------

_VD_TOP = 100
_VD_EPS = (_VD_TOP + 1) * 0.5  # add-1/2 smoothing over 101 bins

_VD_P_SRC = "((CAST(n_sb AS DOUBLE) + 0.5) / (CAST(n_s AS DOUBLE) + {eps}))"
_VD_P_REST = (
    "((CAST(n_b - n_sb AS DOUBLE) + 0.5)"
    " / (CAST(n_tot - n_s AS DOUBLE) + {eps}))"
)


def _vd_term() -> str:
    ps = _VD_P_SRC.format(eps=_VD_EPS)
    pr = _VD_P_REST.format(eps=_VD_EPS)
    return (
        f"CAST(round(({ps} - {pr}) * ln({ps} / {pr}) * 1000000.0) AS BIGINT)"
    )


@query(
    "X4_vocab_drift_by_source",
    f"""
    WITH tok AS (
        SELECT source, unnest({_SQL_TOKS}) AS token FROM documents
    ), gcnt AS (
        SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), top AS (
        SELECT token FROM gcnt ORDER BY c DESC, token LIMIT {_VD_TOP}
    ), binned AS (
        SELECT tok.source,
               CASE WHEN top.token IS NOT NULL THEN tok.token
                    ELSE '__OTHER__' END AS bin
        FROM tok LEFT JOIN top ON tok.token = top.token
    ), sb AS (
        SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_sb
        FROM binned GROUP BY 1, 2
    ), bins AS (
        SELECT token AS bin FROM top UNION ALL SELECT '__OTHER__'
    ), grid AS (
        SELECT s.source, bins.bin,
               CAST(COALESCE(sb.n_sb, 0) AS BIGINT) AS n_sb
        FROM (SELECT DISTINCT source FROM sb) s
        CROSS JOIN bins
        LEFT JOIN sb ON sb.source = s.source AND sb.bin = bins.bin
    ), btot AS (
        SELECT bin, CAST(SUM(n_sb) AS BIGINT) AS n_b FROM grid GROUP BY bin
    ), stot AS (
        SELECT source, CAST(SUM(n_sb) AS BIGINT) AS n_s FROM grid GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(n_sb) AS BIGINT) AS n_tot FROM grid
    ), terms AS (
        SELECT grid.source, {_vd_term()} AS term_micro
        FROM grid
        JOIN btot USING (bin)
        JOIN stot ON stot.source = grid.source
        CROSS JOIN tot
    )
    SELECT source, CAST(SUM(term_micro) AS BIGINT) AS psi_micro,
           SUM(term_micro) > 200000 AS drifted
    FROM terms GROUP BY source
    """,
)
def vocab_drift_by_source(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    tok = docs.select("source", F.explode(_toks()).alias("token"))
    glob = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # 100 rows; eager checkpoint so the binning join and the bin axis
    # don't each re-run the vocabulary aggregation
    top = cut_lineage(
        glob.orderBy(F.desc("c"), "token").limit(_VD_TOP).select("token"),
        eager=True,
    )
    binned = tok.join(
        F.broadcast(top.withColumn("_is_top", F.lit(1))), "token", "left"
    ).select(
        "source",
        F.when(F.col("_is_top").isNotNull(), F.col("token"))
        .otherwise(F.lit("__OTHER__"))
        .alias("bin"),
    )
    # the ONLY corpus-sized aggregation; |sources|×101 rows after it, so
    # the eager checkpoint pins every downstream marginal to this result
    # instead of re-executing the explode per branch
    sb = cut_lineage(
        binned.groupBy("source", "bin").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sb")
        ),
        eager=True,
    )
    bins = top.select(F.col("token").alias("bin")).unionAll(
        spark.createDataFrame([("__OTHER__",)], "bin string")
    )
    grid = (
        sb.select("source")
        .distinct()
        .crossJoin(F.broadcast(bins))
        .join(F.broadcast(sb), ["source", "bin"], "left")
        .select(
            "source",
            "bin",
            F.coalesce("n_sb", F.lit(0)).cast("bigint").alias("n_sb"),
        )
    )
    # marginals over the DENSE grid, not sparse sb: a bin with zero mass
    # everywhere (e.g. __OTHER__ when the whole vocab fits in top-100)
    # must still reach the smoothed PSI term with n_b = 0 — dropping it
    # via an inner join to a sparse marginal shifts every source's score.
    # grid is |sources|×101 rows over the checkpointed sb, so these
    # aggregations never touch the corpus again.
    btot = grid.groupBy("bin").agg(F.sum("n_sb").cast("bigint").alias("n_b"))
    stot = grid.groupBy("source").agg(
        F.sum("n_sb").cast("bigint").alias("n_s")
    )
    tot = grid.agg(F.sum("n_sb").cast("bigint").alias("n_tot"))
    terms = (
        grid.join(F.broadcast(btot), "bin")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .select("source", F.expr(_vd_term()).alias("term_micro"))
    )
    return terms.groupBy("source").agg(
        F.sum("term_micro").cast("bigint").alias("psi_micro"),
        (F.sum("term_micro") > 200000).alias("drifted"),
    )


# --------------------------------------------------------------------------
# X4: Kneser-Ney smoothed bigram NLL — the smoothing family KenLM-backed
# quality gates (CCNet et al.) actually run, next to the add-one unigram/
# bigram gates above. Absolute discount D=0.75 (Kneser & Ney 1995; Chen &
# Goodman 1998): P(w|v) = (c(v,w)−D)/c(v·) + D·N1+(v·)/c(v·) · P_cont(w)
# with the continuation probability P_cont(w) = N1+(·w)/|bigram types| —
# the "how many contexts has w followed" mass that makes KN beat raw MLE
# on burst words. Every count is an exact integer aggregate; the log-prob
# is DOUBLE-forced in one shared expression string (the _lp discipline)
# and rounded to the ×1e6 fixed-point grid, so per-doc sums are exact
# integers and the floor-divided average is engine-portable. Scoring set
# = training corpus, so every doc transition is an observed bigram (no
# unseen-event branch; c ≥ 1 > D keeps the first term positive). Scale
# shape: the same two token-keyed aggregations as the bigram gate plus
# two bigram-type aggregations — all map-side combinable.
# --------------------------------------------------------------------------

_KN_LP = (
    "ln((CAST(c AS DOUBLE) - 0.75) / CAST(h AS DOUBLE)"
    " + (0.75 * CAST(n1v AS DOUBLE) / CAST(h AS DOUBLE))"
    " * (CAST(n1w AS DOUBLE) / CAST(b AS DOUBLE)))"
)


@query(
    "X4_kneser_ney_nll_scores",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    bi AS (
        SELECT doc_id, b['t1'] AS t1, b['t2'] AS t2 FROM (
            SELECT doc_id,
                   unnest([{{'t1': toks[i], 't2': toks[i + 1]}}
                           for i in range(1, len(toks))]) AS b
            FROM t
        )
    ),
    bcnt AS (SELECT t1, t2, COUNT(*) AS c FROM bi GROUP BY t1, t2),
    hist AS (SELECT t1, SUM(c) AS h, COUNT(*) AS n1v FROM bcnt GROUP BY t1),
    pred AS (SELECT t2, COUNT(*) AS n1w FROM bcnt GROUP BY t2),
    btot AS (SELECT COUNT(*) AS b FROM bcnt),
    lp AS (
        SELECT bcnt.t1, bcnt.t2,
               CAST(round({_KN_LP} * {_LP_SCALE}.0) AS BIGINT) AS lp_micro
        FROM bcnt JOIN hist USING (t1) JOIN pred USING (t2)
        CROSS JOIN btot
    ),
    doc AS (
        SELECT bi.doc_id, COUNT(*) AS n_transitions,
               SUM(lp.lp_micro) AS sum_lp_micro
        FROM bi JOIN lp ON bi.t1 = lp.t1 AND bi.t2 = lp.t2
        GROUP BY bi.doc_id
    )
    SELECT doc_id, CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST((-sum_lp_micro) // n_transitions AS BIGINT) AS nll_micro_avg
    FROM doc
    """,
)
def kneser_ney_nll_scores(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = docs.select("doc_id", _toks().alias("toks"))
    bi = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1)"
                " ELSE CAST(array() AS ARRAY<INT>) END"
            )
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.expr("element_at(toks, i)").alias("t1"),
        F.expr("element_at(toks, i + 1)").alias("t2"),
    )
    bcnt = bi.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("c"))
    # context totals + distinct-continuation counts fall out of ONE pass
    # over the bigram-type table (h = Σc, n1v = row count per t1)
    hist = bcnt.groupBy("t1").agg(
        F.sum("c").alias("h"), F.count(F.lit(1)).alias("n1v")
    )
    pred = bcnt.groupBy("t2").agg(F.count(F.lit(1)).alias("n1w"))
    btot = bcnt.agg(F.count(F.lit(1)).alias("b"))
    lp = (
        bcnt.join(hist, "t1")
        .join(pred, "t2")
        .crossJoin(F.broadcast(btot))
        .select(
            "t1", "t2",
            F.expr(
                f"CAST(round({_KN_LP} * {_LP_SCALE}.0) AS BIGINT)"
            ).alias("lp_micro"),
        )
    )
    doc = bi.join(lp, ["t1", "t2"]).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.sum("lp_micro").alias("sum_lp_micro"),
    )
    return doc.select(
        "doc_id",
        "n_transitions",
        F.expr("(-sum_lp_micro) div n_transitions").alias("nll_micro_avg"),
    )


# --------------------------------------------------------------------------
# X4: contrastive negative sampling — deterministic per-anchor negative
# draws for embedding/contrastive training, in the bucketed-representative
# shape that scales: every corpus doc hashes into one of B buckets, each
# bucket pre-aggregates its two lowest-rep-key members (one shuffle, B×2
# rows), and each anchor's i-th draw targets bucket md5(anchor:i) % B,
# taking the bucket's first representative unless it IS the anchor (then
# the second; an empty or anchor-only bucket drops the draw on both
# engines). All randomness is md5-derived (the portable idiom of
# X4_deterministic_split), so the oracle replays every draw exactly —
# sampling WITH replacement across draws, by contract. At 100 TB the
# corpus-side cost is one bucket hash-agg; anchors never join the corpus,
# only the broadcast B×2 representative table — negative generation is
# anchor-batch-local, the same train-once/serve-many split as the ANN
# model queries. (A production pipeline composes this with X2 near-dup
# components to also exclude an anchor's duplicates as false negatives.)
# --------------------------------------------------------------------------

_NEG_BUCKETS = 32
_NEG_DRAWS = 4
_NEG_ANCHORS = 50


@query(
    "X4_contrastive_negatives",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                 % {_NEG_BUCKETS} AS bucket,
             CAST(('0x' || substr(md5('rep:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                 AS rep_key
      FROM documents
    ), r AS (
      SELECT bucket, doc_id,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY rep_key, doc_id) AS rn
      FROM d
    ), p AS (
      SELECT bucket,
             MIN(CASE WHEN rn = 1 THEN doc_id END) AS r1,
             MIN(CASE WHEN rn = 2 THEN doc_id END) AS r2
      FROM r WHERE rn <= 2 GROUP BY bucket
    ), dr AS (
      SELECT a.doc_id AS anchor_id, i AS draw,
             CAST(('0x' || substr(md5(CAST(a.doc_id AS VARCHAR) || ':'
                                      || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT)
                 % {_NEG_BUCKETS} AS bucket
      FROM documents a, UNNEST(generate_series(1, {_NEG_DRAWS})) AS t(i)
      WHERE a.doc_id < {_NEG_ANCHORS}
    )
    SELECT anchor_id, CAST(draw AS INTEGER) AS draw,
           CASE WHEN r1 != anchor_id THEN r1 ELSE r2 END AS negative_id
    FROM dr JOIN p USING (bucket)
    WHERE (CASE WHEN r1 != anchor_id THEN r1 ELSE r2 END) IS NOT NULL
    """,
)
def contrastive_negatives(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")

    def md5_mod(col, n):
        return (
            F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n
        )

    d = docs.select(
        "doc_id",
        md5_mod(F.col("doc_id").cast("string"), _NEG_BUCKETS).alias("bucket"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rep:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long").alias("rep_key"),
    )
    w = Window.partitionBy("bucket").orderBy("rep_key", "doc_id")
    reps = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("bucket")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("r1"),
            F.min(F.when(F.col("rn") == 2, F.col("doc_id"))).alias("r2"),
        )
    )
    draws = (
        docs.filter(F.col("doc_id") < _NEG_ANCHORS)
        .select(F.col("doc_id").alias("anchor_id"))
        .withColumn(
            "draw", F.explode(F.array(*[F.lit(i) for i in range(1, _NEG_DRAWS + 1)]))
        )
        .withColumn(
            "bucket",
            md5_mod(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit(":"),
                    F.col("draw").cast("string"),
                ),
                _NEG_BUCKETS,
            ),
        )
    )
    neg = F.when(F.col("r1") != F.col("anchor_id"), F.col("r1")).otherwise(
        F.col("r2")
    )
    return (
        draws.join(F.broadcast(reps), "bucket")
        .select(
            "anchor_id",
            F.col("draw").cast("int").alias("draw"),
            neg.alias("negative_id"),
        )
        .filter(F.col("negative_id").isNotNull())
    )


# --------------------------------------------------------------------------
# X4: the ENTIRE curation pipeline as one oracle-checked query. The
# jobs.py `llm_corpus_curation` pipeline (quality gate → Gopher
# repetition gate → exact dedup → n-gram-Jaccard near-dup components →
# embedding-cosine semantic components → 10-token span dedup + rebuild →
# md5 split → 64/48 chunking) runs for real — every stage materialized
# through the warehouse sink, exactly as the orchestrated job ships it —
# and the declared output is the FINAL training-chunk table (per-chunk
# md5). The oracle replays all eight stages in one recursive CTE built
# from the per-stage oracle fragments that are already individually
# hash-checked (X4_quality_score shape, X4_repetition_filter,
# X1_exact_dedup, X2_ngram_jaccard/_SQL_COMPONENTS, the semdedup cosine,
# X1_chunk_dedup_reassemble, X4_deterministic_split,
# X4_sequence_chunks). A hash match therefore proves the COMPOSITION:
# stage order, survivor handoff, every gate boundary, and the exact
# bytes of every final chunk. Config pins the oracle-checkable pair
# methods (neardup 'exact' inverted index, semantic 'exact' cosine,
# fixture-fenced) — production swaps in the prefix-filter / RHP-LSH
# scale paths through the same pipeline config without touching stages.
# --------------------------------------------------------------------------


@query(
    "X4_curation_funnel_chunks",
    """
    WITH RECURSIVE
    t0 AS (SELECT doc_id, text FROM documents),
    q AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   string_split_regex(trim(text), '\\s+') AS toks
            FROM t0
        )
        WHERE 0.5 * (CASE WHEN len(toks) >= 20 THEN 1.0
                          ELSE len(toks) / 20.0 END)
            + 0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
              >= 0.6
    ),
    rt AS (SELECT doc_id, text,
                  string_split_regex(trim(text), '\\s+') AS toks FROM q),
    grams AS (
        SELECT doc_id, len(toks) AS n_tokens, len(toks) - 1 AS n_bigrams,
               unnest([toks[i] || ' ' || toks[i+1]
                       for i in range(1, len(toks))]) AS bg
        FROM rt WHERE len(toks) >= 2
    ),
    bgc AS (
        SELECT doc_id, n_tokens, n_bigrams, bg, COUNT(*) AS c
        FROM grams GROUP BY 1, 2, 3, 4
    ),
    topbg AS (
        SELECT doc_id, n_tokens, n_bigrams, MAX(c) AS top_bigram_count
        FROM bgc GROUP BY 1, 2, 3
    ),
    uni AS (
        SELECT doc_id, MAX(c) AS top_token_count FROM (
            SELECT doc_id, tok, COUNT(*) AS c FROM (
                SELECT doc_id, unnest(toks) AS tok FROM rt
            ) GROUP BY 1, 2
        ) GROUP BY 1
    ),
    rp AS (
        SELECT b.doc_id FROM topbg b JOIN uni u USING (doc_id)
        WHERE CAST(u.top_token_count AS DOUBLE) / b.n_tokens <= 0.30
          AND CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams <= 0.18
    ),
    s2 AS (SELECT q.doc_id, q.text FROM q JOIN rp USING (doc_id)),
    s3 AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM s2
        ) WHERE rn = 1
    ),
    jt AS (SELECT doc_id,
                  string_split_regex(trim(text), '\\s+') AS toks FROM s3),
    shingled AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(
                        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         for i in range(1, len(toks) - 1)])
               END AS shingles
        FROM jt
    ),
    sh AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
           FROM shingled),
    cpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
               COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    good AS (
        SELECT id_a, id_b FROM cpairs
        WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM good
              UNION SELECT id_b, id_a FROM good),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS component
             FROM reach GROUP BY a),
    s4 AS (
        SELECT s3.doc_id, s3.text FROM s3
        LEFT JOIN comp ON s3.doc_id = comp.node
        WHERE comp.node IS NULL OR comp.node = comp.component
    ),
    ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
           FROM embeddings),
    epairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM ev a JOIN ev b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.ve, b.ve)
                    / sqrt(list_dot_product(a.ve, a.ve)
                         * list_dot_product(b.ve, b.ve)), 6) >= 0.45
    ),
    eedges AS (SELECT id_a AS a, id_b AS b FROM epairs
               UNION SELECT id_b, id_a FROM epairs),
    ereach(a, b) AS (
        SELECT a, b FROM eedges
        UNION
        SELECT r.a, e.b FROM ereach r JOIN eedges e ON r.b = e.a
    ),
    ecomp AS (SELECT a AS node, LEAST(a, MIN(b)) AS component
              FROM ereach GROUP BY a),
    s5 AS (
        SELECT s4.doc_id, s4.text FROM s4
        LEFT JOIN ecomp ON s4.doc_id = ecomp.node
        WHERE ecomp.node IS NULL OR ecomp.node = ecomp.component
    ),
    st AS (SELECT doc_id,
                  string_split_regex(trim(text), '\\s+') AS toks FROM s5),
    spanchunks AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')
                   AS chunk
        FROM st,
             UNNEST(generate_series(0,
                 CAST(ceil(len(toks) / 10.0) AS INT) - 1)) AS u(i)
    ),
    spankept AS (
        SELECT doc_id, chunk_idx, chunk FROM (
            SELECT doc_id, chunk_idx, chunk,
                   ROW_NUMBER() OVER (PARTITION BY chunk
                                      ORDER BY doc_id, chunk_idx) AS rn
            FROM spanchunks
        ) WHERE rn = 1
    ),
    rebuilt AS (
        SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS text
        FROM spankept GROUP BY doc_id
    ),
    s7 AS (
        SELECT doc_id, text,
               CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                              AS UBIGINT) % 100 < 80 THEN 'train'
                    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                              AS UBIGINT) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM rebuilt
    ),
    ct AS (SELECT doc_id, split,
                  string_split_regex(trim(text), '\\s+') AS toks FROM s7)
    SELECT doc_id, split,
           CAST((s - 1) // 48 AS INTEGER) AS chunk_idx,
           CAST(len(list_slice(toks, s, s + 63)) AS INTEGER) AS n_tokens,
           md5(array_to_string(list_slice(toks, s, s + 63), ' ')) AS chunk_md5
    FROM ct, UNNEST(generate_series(1, len(toks), 48)) AS u(s)
    """,
)
def curation_funnel_chunks(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from ..jobs import run_pipeline

    # fixed per-process path, cleared before each run (the S22/S24
    # convention) — bench iterations must not leak a full pipeline
    # materialization into /tmp per invocation
    wh = os.path.join(
        tempfile.gettempdir(),
        f"funnel_wh_{os.getpid()}_{os.path.basename(os.path.abspath(sf_dir))}",
    )
    shutil.rmtree(wh, ignore_errors=True)
    ctx = run_pipeline(
        spark,
        "llm_corpus_curation",
        wh,
        {
            "sf_dir": sf_dir,
            "neardup_method": "exact",
            "semantic_method": "exact",
            "force_exact": True,
        },
    )
    chunks = read_parquet(spark, ctx.reports["corpus_chunks"]["path"])
    return chunks.select(
        "doc_id",
        F.col("split").cast("string").alias("split"),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.md5(F.col("chunk").cast("binary")).alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# X4 (scale path): the SAME 8-stage curation pipeline in its PRODUCTION
# configuration — banded MinHash-LSH near-dup candidates (exact-Jaccard
# verified) and RHP-LSH semantic edges instead of the two exact all-pairs
# stages. Rows-only by the same rule as the other engine-hash paths:
# minhash/RHP signatures ride xxhash64 (not DuckDB-expressible) and LSH
# recall is probabilistic — the exact-mode twin above IS the oracle
# anchor for the composition's semantics, and each probabilistic stage
# carries its own declared recall contract (X2_neardup_lsh_invariant,
# X2_minhash_lsh recall floor). THIS is the form the composed ×10/×100
# scale smoke measures: the exact twin's semantic stage is all-pairs
# cosine over embeddings — candidates ∝ n², quadratic BY CONSTRUCTION
# (measured: its decade-2 stage alone extrapolates to ~33 h at the 100×
# replica) — the same exclusion class as the portable twins, while this
# production form keeps every stage banded/bucketed/linear.
# --------------------------------------------------------------------------


@query("X4_curation_funnel_chunks_production")
def curation_funnel_chunks_production(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from ..jobs import run_pipeline

    wh = os.path.join(
        tempfile.gettempdir(),
        f"funnel_prod_wh_{os.getpid()}_"
        f"{os.path.basename(os.path.abspath(sf_dir))}",
    )
    shutil.rmtree(wh, ignore_errors=True)
    ctx = run_pipeline(
        spark,
        "llm_corpus_curation",
        wh,
        {
            "sf_dir": sf_dir,
            "neardup_method": "minhash",
            "semantic_method": "lsh",
        },
    )
    chunks = read_parquet(spark, ctx.reports["corpus_chunks"]["path"])
    return chunks.select(
        "doc_id",
        F.col("split").cast("string").alias("split"),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.md5(F.col("chunk").cast("binary")).alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# X4: token-BUDGET mixture planner — the aggregate-level complement of
# the mixture SAMPLERS above: given per-source token inventories and a
# hard corpus budget (half the total), allocate tokens per source by
# sqrt-weighted WATER-FILLING — small sources get up-weighted (the
# sqrt-temperature rule every LLM data mix uses) until they CAP OUT at
# their inventory, and two redistribution rounds pour the leftover into
# the uncapped sources. Three unrolled rounds, every arithmetic step an
# identical IEEE expression in both engines (integer inventories, sqrt
# correctly rounded, floor'd shares), so the planner's exact allocation
# — not a summary of it — is hash-checked. Scale: the only at-scale pass
# is the per-source token rollup; the fill rounds run over |sources|
# rows with 1-row broadcast aggregates (the BM25 corpus-stats shape).
# --------------------------------------------------------------------------


def _budget_mixture_oracle() -> str:
    return """
    WITH inv AS (
        SELECT source,
               CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
                   AS avail
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(avail) // 2 AS BIGINT) AS budget FROM inv
    ), w AS (
        SELECT source, avail, sqrt(CAST(avail AS DOUBLE)) AS wt FROM inv
    ), r1 AS (
        SELECT source, avail, wt,
               LEAST(avail, CAST(FLOOR(CAST(budget AS DOUBLE) * wt /
                   (SELECT SUM(wt) FROM w)) AS BIGINT)) AS a1,
               budget
        FROM w CROSS JOIN tot
    ), l1 AS (
        SELECT CAST(MAX(budget) - SUM(a1) AS BIGINT) AS left1,
               CAST(SUM(CASE WHEN a1 < avail THEN wt ELSE 0 END)
                    AS DOUBLE) AS w2
        FROM r1
    ), r2 AS (
        SELECT source, avail, wt, a1,
               CASE WHEN a1 < avail AND w2 > 0 THEN
                   LEAST(avail, a1 + CAST(FLOOR(CAST(left1 AS DOUBLE) * wt / w2)
                                          AS BIGINT))
                   ELSE a1 END AS a2,
               left1
        FROM r1 CROSS JOIN l1
    ), l2 AS (
        SELECT CAST(MAX(left1) - SUM(a2 - a1) AS BIGINT) AS left2,
               CAST(SUM(CASE WHEN a2 < avail THEN wt ELSE 0 END)
                    AS DOUBLE) AS w3
        FROM r2
    ), r3 AS (
        SELECT source, avail, wt, a2,
               CASE WHEN a2 < avail AND w3 > 0 THEN
                   LEAST(avail, a2 + CAST(FLOOR(CAST(left2 AS DOUBLE) * wt / w3)
                                          AS BIGINT))
                   ELSE a2 END AS a3
        FROM r2 CROSS JOIN l2
    )
    SELECT source, avail AS avail_tokens,
           CAST(a3 AS BIGINT) AS alloc_tokens,
           a3 = avail AS capped,
           CAST(ROUND(1000000.0 * a3 / avail) AS BIGINT) AS epochs_micro
    FROM r3
    """


@query("X4_token_budget_mixture", _budget_mixture_oracle())
def token_budget_mixture(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    # eager checkpoint: every fill round hangs 1-row aggregates off this
    # relation — without truncation each would re-run the corpus rollup
    # (measured: plan dropped 23 -> 4 shuffles). Bounded: |sources| rows.
    inv = cut_lineage(
        docs.groupBy("source").agg(
            F.sum(F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")).alias(
                "avail"
            )
        ),
        eager=True,
    )
    tot = inv.agg(
        F.expr("sum(avail) div 2").cast("bigint").alias("budget")
    )
    w = inv.withColumn("wt", F.sqrt(F.col("avail").cast("double")))
    wsum = w.agg(F.sum("wt").alias("wall"))
    r1 = (
        w.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(wsum))
        .select(
            "source", "avail", "wt", "budget",
            F.least(
                F.col("avail"),
                F.floor(
                    F.col("budget").cast("double") * F.col("wt")
                    / F.col("wall")
                ).cast("bigint"),
            ).alias("a1"),
        )
    )
    l1 = r1.agg(
        (F.max("budget") - F.sum("a1")).cast("bigint").alias("left1"),
        F.sum(
            F.when(F.col("a1") < F.col("avail"), F.col("wt")).otherwise(0.0)
        ).alias("w2"),
    )
    r2 = r1.crossJoin(F.broadcast(l1)).select(
        "source", "avail", "wt", "a1", "left1",
        F.when(
            (F.col("a1") < F.col("avail")) & (F.col("w2") > 0),
            F.least(
                F.col("avail"),
                F.col("a1")
                + F.floor(
                    F.col("left1").cast("double") * F.col("wt") / F.col("w2")
                ).cast("bigint"),
            ),
        )
        .otherwise(F.col("a1"))
        .alias("a2"),
    )
    l2 = r2.agg(
        (F.max("left1") - F.sum(F.col("a2") - F.col("a1")))
        .cast("bigint")
        .alias("left2"),
        F.sum(
            F.when(F.col("a2") < F.col("avail"), F.col("wt")).otherwise(0.0)
        ).alias("w3"),
    )
    r3 = r2.crossJoin(F.broadcast(l2)).select(
        "source", "avail", "wt", "a2",
        F.when(
            (F.col("a2") < F.col("avail")) & (F.col("w3") > 0),
            F.least(
                F.col("avail"),
                F.col("a2")
                + F.floor(
                    F.col("left2").cast("double") * F.col("wt") / F.col("w3")
                ).cast("bigint"),
            ),
        )
        .otherwise(F.col("a2"))
        .alias("a3"),
    )
    return r3.select(
        "source",
        F.col("avail").alias("avail_tokens"),
        F.col("a3").cast("bigint").alias("alloc_tokens"),
        (F.col("a3") == F.col("avail")).alias("capped"),
        F.round(1_000_000.0 * F.col("a3") / F.col("avail"))
        .cast("bigint")
        .alias("epochs_micro"),
    )
