"""Dedup queries over ``documents``/``events`` (SURVEY.md X1/X2).

The exact forms carry DuckDB oracles. The xxhash64 MinHash-LSH and
SimHash variants are rows-only (engine hash functions DuckDB lacks;
pytest pins recall vs the exact ground truth), and each has an
md5-based PORTABLE twin (X2_minhash_portable_pairs,
X2_simhash_portable_pairs) whose whole pipeline IS oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import (
    connected_components,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from ..session import cut_lineage
from .common import load, query

# --------------------------------------------------------------------------
# X1: exact dedup by content hash (md5 on both engines), deterministic
# keeper = min doc_id.
# --------------------------------------------------------------------------


@query(
    "X1_exact_dedup_by_content",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def exact_dedup_by_content(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --------------------------------------------------------------------------
# X1: keep-first dedup on a key (deterministic window form of
# dropDuplicates; reference analogue W1 idxmax).
# --------------------------------------------------------------------------


@query(
    "X1_dedup_keep_first",
    """
    SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
    FROM events
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type ORDER BY ts, event_id
    ) = 1
    """,
)
def dedup_keep_first(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return dedup_exact(
        ev, keys=["user_id", "event_type"], order=["ts", "event_id"]
    ).select(
        "user_id",
        "event_type",
        F.col("event_id").alias("first_event_id"),
        F.col("ts").alias("first_ts"),
    )


# --------------------------------------------------------------------------
# X2: exact n-gram Jaccard near-dup pairs (shingle inverted-index join).
# This is the ground-truth form; the LSH twin below must recall-match it on
# the pairs above the LSH knee (pytest asserts that).
# --------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.08

_SQL_SHINGLES = """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), shingled AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                        for i in range(1, len(toks) - 1)])
               END AS shingles
        FROM t
    ), sh AS (
        SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM shingled
    )
"""


@query(
    "X2_ngram_jaccard_pairs",
    _SQL_SHINGLES
    + f"""
    , pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
               COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, CAST(c AS DOUBLE) / (na + nb - c) AS jaccard
    FROM pairs WHERE CAST(c AS DOUBLE) / (na + nb - c) >= {_JACCARD_THRESHOLD}
    """,
)
def ngram_jaccard_query(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    return ngram_jaccard_pairs(docs, threshold=_JACCARD_THRESHOLD)


# --------------------------------------------------------------------------
# X2: prefix-filtered set-similarity join (PPJoin-family) — EXACT, so it
# carries the same-shape oracle as the inverted-index form: same pairs,
# same jaccard values, byte-for-byte. The scale story lives in
# operators/dedup.py::jaccard_prefix_filter_pairs (posting volume drops
# to (1-t) of the corpus; hot posting lists vanish entirely). Declared at
# t=0.8 — the realistic near-dup radius, where the prefix is the rarest
# fifth of each document and the length filter (|A| >= 0.8|B|) bites;
# the fixture's true near-dup pairs all sit above 0.9, so the output
# matches the 0.08-threshold exact form's pair set at this radius.
# --------------------------------------------------------------------------

_PREFIX_THRESHOLD = 0.8


@query(
    "X2_jaccard_prefix_pairs",
    _SQL_SHINGLES
    + f"""
    , pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
               COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, CAST(c AS DOUBLE) / (na + nb - c) AS jaccard
    FROM pairs WHERE CAST(c AS DOUBLE) / (na + nb - c) >= {_PREFIX_THRESHOLD}
    """,
)
def jaccard_prefix_query(spark, sf_dir):
    from ..operators.dedup import jaccard_prefix_filter_pairs

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    return jaccard_prefix_filter_pairs(docs, threshold=_PREFIX_THRESHOLD)


# --------------------------------------------------------------------------
# X2: duplicate-cluster grouping — connected components over the exact
# near-dup pair graph. Spark runs distributed min-label propagation
# (operators/dedup.py); the oracle computes the same components with a
# recursive transitive-closure CTE (fixture-scale only — the closure is
# O(component²), fine for small clusters, while the Spark path is the
# 100 TB shape). Component id = min doc_id in the component.
# --------------------------------------------------------------------------


# Shared oracle prelude: recursive transitive closure of the near-dup
# pair graph → (node, component) as `comp`.
_SQL_COMPONENTS = _SQL_SHINGLES.replace("WITH t AS", "WITH RECURSIVE t AS", 1) + f"""
    , cpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
               COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ), good AS (
        SELECT id_a, id_b FROM cpairs
        WHERE CAST(c AS DOUBLE) / (na + nb - c) >= {_JACCARD_THRESHOLD}
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM good
        UNION
        SELECT id_b, id_a FROM good
    ), reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
        SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
    )
"""


@query(
    "X2_dedup_components",
    _SQL_COMPONENTS
    + """
    SELECT component, COUNT(*) AS n_members,
           MAX(node) AS max_member
    FROM comp GROUP BY component
    """,
)
def dedup_components_query(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    pairs = ngram_jaccard_pairs(docs, threshold=_JACCARD_THRESHOLD)
    labels = connected_components(pairs)
    return labels.groupBy(F.col("comp").alias("component")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("max_member"),
    )


# --------------------------------------------------------------------------
# X2: cluster-representative selection — the step that turns near-dup
# clusters into a keep-list. Every document maps to its component (itself
# when it has no near-dup edge); the kept representative is the longest
# member (n_chars, tiebreak min doc_id) — the usual "keep the most
# complete copy" curation policy.
#
# Scale shape: components come from distributed label propagation, the
# doc→label join is one shuffle on doc_id, and the representative pick is
# a per-component window — no step exceeds one shuffle on an evenly
# distributed key. Component sizes are bounded by dedup-cluster sizes
# (small by construction), so the window never sees a mega-partition.
# --------------------------------------------------------------------------


@query(
    "X2_component_representatives",
    _SQL_COMPONENTS
    + """
    , alldocs AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
               d.n_chars
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, component,
           FIRST_VALUE(doc_id) OVER w AS rep_doc_id,
           doc_id = FIRST_VALUE(doc_id) OVER w AS is_kept
    FROM alldocs
    WINDOW w AS (PARTITION BY component ORDER BY n_chars DESC, doc_id)
    """,
)
def component_representatives(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    pairs = ngram_jaccard_pairs(docs, threshold=_JACCARD_THRESHOLD)
    labels = connected_components(pairs)
    with_comp = docs.select("doc_id", "n_chars").join(
        labels, docs.doc_id == labels.node, "left"
    ).select(
        "doc_id",
        F.coalesce("comp", "doc_id").alias("component"),
        "n_chars",
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    return with_comp.select(
        "doc_id",
        "component",
        F.first("doc_id").over(w).alias("rep_doc_id"),
        (F.col("doc_id") == F.first("doc_id").over(w)).alias("is_kept"),
    )


# --------------------------------------------------------------------------
# X2: MinHash + LSH candidate pairs, exact-verified. Deterministic
# (xxhash64-seeded) but not DuckDB-expressible → rows-only check here;
# pytest asserts precision=1 and recall vs X2_ngram_jaccard_pairs.
# --------------------------------------------------------------------------


@query("X2_minhash_lsh_pairs")
def minhash_lsh_query(spark, sf_dir):
    # max_bucket=64 is the LSH occupancy guard: oversized band buckets
    # (verbatim-copy cliques) star-expand instead of all-pairs, keeping
    # candidate volume linear in bucket size — measured on the verbatim
    # composed clique fixture (PERFORMANCE.md round-7; uncapped, the same
    # fixture spilled 78 GB and DNF'd). Fixture buckets peak at 4
    # (sf0.1), so the cap never fires at declared scales; the portable
    # oracle twins keep max_bucket=None (exact expansion is their
    # contract).
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    return minhash_lsh_pairs(
        docs, threshold=_JACCARD_THRESHOLD, max_bucket=64
    )


# --------------------------------------------------------------------------
# X2: value-level containment oracle for the LSH path. MinHash-LSH output
# is exact-Jaccard verified, so (id_a, id_b) pairs it emits MUST be a
# subset of the exact inverted-index pairs — the Spark side computes
# LSH-pairs EXCEPT ALL exact-pairs and the DuckDB oracle states the
# invariant's consequence directly: the empty relation. Any LSH false
# positive (verification bug, threshold drift, shingle mismatch) makes
# the Spark side non-empty and fails the driver's row-count/hash compare,
# upgrading the LSH family from rows-only to an oracle-checked invariant.
# (Recall stays pytest-checked: it is probabilistic by design, so the
# reverse containment is not an invariant.)
# --------------------------------------------------------------------------


@query(
    "X2_lsh_subset_check",
    """
    SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
    WHERE FALSE
    """,
)
def lsh_subset_check(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    lsh = minhash_lsh_pairs(docs, threshold=_JACCARD_THRESHOLD).select(
        "id_a", "id_b"
    )
    exact = ngram_jaccard_pairs(docs, threshold=_JACCARD_THRESHOLD).select(
        "id_a", "id_b"
    )
    return lsh.exceptAll(exact)


# --------------------------------------------------------------------------
# X2: SimHash fingerprints (rows-only: xxhash64 not in DuckDB).
# --------------------------------------------------------------------------


@query("X2_simhash_fingerprints")
def simhash_query(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    return simhash_fingerprints(docs)


@query("X2_simhash_near_pairs")
def simhash_pairs_query(spark, sf_dir):
    """SimHash near-dup pairs via 16-bit chunk blocking (rows-only:
    xxhash64 not in DuckDB; pytest pins determinism). The PORTABLE twin
    below (X2_simhash_portable_pairs) oracle-checks the same pipeline
    shape end-to-end with an md5-derived fingerprint both engines can
    compute."""
    from ..operators.dedup import simhash_near_pairs

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    return simhash_near_pairs(docs, max_hamming=8)


# --------------------------------------------------------------------------
# X2: PORTABLE SimHash — the oracle-checkable twin of the xxhash64 pipeline
# above. A 32-bit simhash over distinct word 3-shingles where the per-token
# hash is the first 8 hex digits of md5 (computable identically in Spark
# and DuckDB), so the WHOLE pipeline — fingerprint, pigeonhole candidate
# generation, exact Hamming verification — is value-checked against a
# brute-force all-pairs oracle, not just row-counted. With max Hamming 3
# and 4 disjoint 8-bit chunks, the pigeonhole principle guarantees every
# qualifying pair shares at least one chunk, so the banded candidate join
# (the 100 TB shape: 4 equi-joins on small keys, no cross product) is
# provably COMPLETE, and its output equals the oracle's exactly.
# Candidate pairs found in several chunks are emitted only by their FIRST
# shared chunk (a.cj <> b.cj for all j < k), preserving exactness without
# a distinct(). Ties in the bit vote (sum == 0) set the bit — both
# engines integer-sum the same ±1 votes, so no float ambiguity exists.
# --------------------------------------------------------------------------

_SIMHASH_BITS = 32
_SIMHASH_MAX_HD = 3  # 4 chunks of 8 bits -> pigeonhole-complete for hd<=3


def _portable_simhash_sql() -> str:
    """DuckDB oracle: brute-force all-pairs over the portable simhash."""
    digits = ",\n".join(
        f"strpos('0123456789abcdef', substr(h, {j + 1}, 1)) - 1 AS d{j}"
        for j in range(_SIMHASH_BITS // 4)
    )
    votes = ",\n".join(
        f"CASE WHEN CAST(SUM(CASE WHEN (d{i // 4} >> {i % 4}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS BIGINT) >= 0"
        f" THEN CAST({1 << i} AS BIGINT) ELSE 0 END AS b{i}"
        for i in range(_SIMHASH_BITS)
    )
    fp_sum = " + ".join(f"b{i}" for i in range(_SIMHASH_BITS))
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS ts
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, s
      FROM toks,
           UNNEST(list_transform(
               generate_series(1, greatest(len(ts) - 2, 0)),
               i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS u(s)
      WHERE s <> ''
    ), dg AS (
      SELECT doc_id, {digits} FROM (SELECT doc_id, md5(s) AS h FROM sh)
    ), fp AS (
      SELECT doc_id, ({fp_sum}) AS fp
      FROM (SELECT doc_id, {votes} FROM dg GROUP BY doc_id)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.fp, b.fp)) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= {_SIMHASH_MAX_HD}
    """


def portable_simhash_fingerprints(docs):
    """(doc_id, fp): 32-bit md5-based simhash over distinct 3-shingles.

    All JVM-side built-ins (split/transform/md5/conv + integer sums) —
    one explode, one hash-aggregate; no Python boundary.
    """
    n_hex = _SIMHASH_BITS // 4
    sh = (
        docs.select(
            "doc_id",
            F.expr("split(lower(text), '[^a-z0-9]+')").alias("ts"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(filter(CASE WHEN size(ts) >= 3 THEN"
                    " transform(sequence(1, size(ts) - 2),"
                    " i -> concat_ws(' ', slice(ts, i, 3)))"
                    " ELSE array() END, s -> s <> ''))"
                )
            ).alias("s"),
        )
        .withColumn("h", F.md5("s"))
    )
    for j in range(n_hex):
        sh = sh.withColumn(
            f"d{j}",
            F.expr(f"CAST(conv(substr(h, {j + 1}, 1), 16, 10) AS INT)"),
        )
    votes = [
        F.when(
            F.sum(
                F.when(
                    F.expr(f"(d{i // 4} >> {i % 4}) & 1 = 1"), F.lit(1)
                ).otherwise(F.lit(-1))
            )
            >= 0,
            F.lit(1 << i),
        )
        .otherwise(F.lit(0))
        .alias(f"b{i}")
        for i in range(_SIMHASH_BITS)
    ]
    fp = sum((F.col(f"b{i}") for i in range(_SIMHASH_BITS)), F.lit(0))
    return (
        sh.groupBy("doc_id")
        .agg(*votes)
        .select("doc_id", fp.cast("bigint").alias("fp"))
    )


@query("X2_simhash_portable_pairs", _portable_simhash_sql())
def simhash_portable_pairs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    fp = portable_simhash_fingerprints(docs)
    n_chunks = _SIMHASH_MAX_HD + 1
    width = _SIMHASH_BITS // n_chunks
    mask = (1 << width) - 1
    # LSH-band shape: ONE equi-join on (chunk_index, chunk_value) band
    # rows instead of n_chunks separate self-joins (which would recompute
    # the fingerprint subtree per branch).
    bands = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        F.expr(f"(fp >> {k * width}) & {mask}").alias("v"),
                    )
                    for k in range(n_chunks)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "fp", "band.k", "band.v")
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("fp").alias("fp_a"), "k", "v"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("fp").alias("fp_b"), "k", "v"
    )
    # first-shared-chunk dedup: for all j < k the chunks differ — derived
    # from the carried fingerprints, so no extra columns shuffle.
    first_shared = F.lit(True)
    for j in range(n_chunks - 1):
        first_shared = first_shared & (
            (F.col("k") <= j)
            | (
                F.expr(f"(fp_a >> {j * width}) & {mask}")
                != F.expr(f"(fp_b >> {j * width}) & {mask}")
            )
        )
    return (
        a.join(b, ["k", "v"])
        .filter((F.col("id_a") < F.col("id_b")) & first_shared)
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.expr("fp_a ^ fp_b")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= _SIMHASH_MAX_HD)
    )


# --------------------------------------------------------------------------
# X1: time-bounded dedup — the streaming re-ingest guard's batch twin:
# gap-sessionization keyed by the dedup key (X8's pattern). A row is a
# duplicate if it arrives within `gap` of the PREVIOUS row of the same
# key — a chain of sub-gap arrivals extends the burst, so a suppressed
# row can be arbitrarily far from the burst's first (kept) row; only
# after a quiet gap does the next copy start a new burst and get kept.
# (Distance-from-last-KEPT-copy is a different contract — it would need
# a sequential scan per key.) One window chain per key, no self-join.
# --------------------------------------------------------------------------


@query(
    "X1_dedup_time_bounded",
    """
    WITH flagged AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                        THEN 1
                    ELSE 0 END AS new_burst
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    )
    SELECT user_id, event_type, ts AS kept_ts, event_id AS kept_event_id
    FROM flagged WHERE new_burst = 1
    """,
)
def dedup_time_bounded(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_us = 10 * 60 * 1_000_000
    new_burst = F.when(prev.isNull(), 1).otherwise(
        F.when(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(prev.cast("timestamp"))
            > gap_us,
            1,
        ).otherwise(0)
    )
    return (
        ev.withColumn("new_burst", new_burst)
        .filter(F.col("new_burst") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("kept_ts"),
            F.col("event_id").alias("kept_event_id"),
        )
    )


# --------------------------------------------------------------------------
# X1: incremental dedup against a historical fingerprint store — the
# crawl-ingest shape: the corpus's dedup state lives as a compact
# warehouse table (content hash + MinHash signature + pre-exploded LSH
# postings, ~0.5 KB/doc), and each new batch is classified against it
# with the store only ever SCANNED (batch side broadcast), never
# shuffled or re-fingerprinted. History = docs with doc_id % 10 < 8,
# batch = the rest; deterministic split, deterministic classification.
# Rows-only (MinHash needs xxhash64, not in DuckDB); pytest covers
# exact/near/new classification, store-update round-trips, and the
# no-store-shuffle plan contract.
# --------------------------------------------------------------------------


@query("X1_incremental_dedup_store")
def incremental_dedup_store(spark, sf_dir):
    import tempfile

    from ..operators.dedup import build_fingerprint_store, dedup_against_store

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    history = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    wh = tempfile.mkdtemp(prefix="fps_wh_")
    build_fingerprint_store(history, wh, "fps")
    out = dedup_against_store(spark, batch, wh, "fps", threshold=0.5)
    return out.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("est_jaccard"), 6).alias("avg_est_jaccard"),
    )


# --------------------------------------------------------------------------
# X1: sub-document (chunk-level) exact dedup with reassembly — the
# C4/RefinedWeb "remove repeated spans across the corpus, keep-first"
# primitive. Chunking is row-local (transform over a sequence — no
# explode shuffle to build chunks); the ONLY shuffle is the keep-first
# window hashed on the chunk text, exactly X1's exact-dedup shape; the
# reassembly groupBy re-shuffles on doc_id. Keeper order is the total
# (doc_id, chunk_idx) order, so a chunk survives only at its first
# corpus position and each document is rebuilt from its surviving chunks
# in original order. At 100 TB chunk strings would be md5-compressed in
# the window key; here the raw chunk keeps the SQL oracle exact.
# --------------------------------------------------------------------------

_CHUNK_TOKENS = 10


@query(
    "X1_chunk_dedup_reassemble",
    f"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ), c AS (
        SELECT doc_id,
               [array_to_string(toks[(i*{_CHUNK_TOKENS}+1):(i*{_CHUNK_TOKENS}+{_CHUNK_TOKENS})], ' ')
                for i in range(0, CAST(ceil(len(toks) / {_CHUNK_TOKENS}.0) AS BIGINT))]
                   AS chunks
        FROM t
    ), e AS (
        SELECT doc_id, len(chunks) AS n_chunks,
               unnest(chunks) AS chunk,
               unnest(range(0, len(chunks))) AS chunk_idx
        FROM c
    ), kept AS (
        SELECT doc_id, n_chunks, chunk, chunk_idx,
               ROW_NUMBER() OVER (PARTITION BY chunk
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM e
        QUALIFY rn = 1
    )
    SELECT doc_id, MIN(n_chunks) AS n_chunks,
           COUNT(*) AS n_kept,
           string_agg(chunk, ' ' ORDER BY chunk_idx) AS dedup_text
    FROM kept
    GROUP BY doc_id
    """,
)
def chunk_dedup_reassemble(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.text import tokens

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    n = _CHUNK_TOKENS
    chunks = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, CAST(ceil(size(toks) / {n}.0) AS INT) - 1),"
            f" i -> array_join(slice(toks, i * {n} + 1, {n}), ' '))"
        ).alias("chunks"),
    )
    exploded = chunks.select(
        "doc_id",
        F.size("chunks").alias("n_chunks"),
        F.posexplode("chunks").alias("chunk_idx", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    kept = (
        exploded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return kept.groupBy("doc_id").agg(
        F.min("n_chunks").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("dedup_text"),
    )


# --------------------------------------------------------------------------
# X2: INCREMENTAL duplicate clustering — the daily-batch fold. History
# (doc_id % 10 < 8) is clustered once; the new batch's near-dup edges
# (any pair touching a batch doc) fold into that labeling via
# ``connected_components_incremental`` (star-contraction — the historical
# pair graph is never rescanned). The oracle is the FULL-graph recursive
# closure, so the hash match proves fold ≡ complete re-cluster.
# --------------------------------------------------------------------------


@query(
    "X2_dedup_components_incremental",
    _SQL_COMPONENTS
    + """
    SELECT component, COUNT(*) AS n_members,
           MAX(node) AS max_member
    FROM comp GROUP BY component
    """,
)
def dedup_components_incremental(spark, sf_dir):
    from ..operators.dedup import connected_components_incremental

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    history = docs.filter(F.col("doc_id") % 10 < 8)
    hist_pairs = ngram_jaccard_pairs(history, threshold=_JACCARD_THRESHOLD)
    hist_labels = connected_components(hist_pairs)
    batch_touching = ngram_jaccard_pairs(
        docs, threshold=_JACCARD_THRESHOLD
    ).filter((F.col("id_a") % 10 >= 8) | (F.col("id_b") % 10 >= 8))
    labels = connected_components_incremental(hist_labels, batch_touching)
    return labels.groupBy(F.col("comp").alias("component")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("max_member"),
    )


# --------------------------------------------------------------------------
# X1: URL canonicalization + dedup — the web-crawl front door: the same
# resource arrives as http/https, with/without www, trailing slash, and
# tracking params. Canonicalization is a pure JVM string-expression chain
# (lowercase → scheme unify → www strip → tracking-param strip → trailing
# slash strip), then exact dedup groups by canonical URL (one shuffle).
# The tracking strip here handles the tail-only ?utm_* form the variants
# synthesize; a production canonicalizer strips per-parameter (split the
# query string, drop utm_*/fbclid keys, re-join sorted).
# URL variants are synthesized deterministically (doc_id mod 4 picks the
# noise form; doc_id mod 250 picks the resource), so canonical groups are
# non-trivial and the DuckDB oracle runs the same chain.
# --------------------------------------------------------------------------

_URL_CANON_SQL = """
    WITH raw AS (
        SELECT doc_id,
               CASE doc_id % 4
                 WHEN 0 THEN 'https://www.src' || (doc_id % 250) % 20
                      || '.example.org/p/' || doc_id % 250 || '/'
                 WHEN 1 THEN 'http://src' || (doc_id % 250) % 20
                      || '.example.org/p/' || doc_id % 250
                 WHEN 2 THEN 'https://src' || (doc_id % 250) % 20
                      || '.example.org/p/' || doc_id % 250 || '?utm_source=x'
                 ELSE 'HTTPS://WWW.SRC' || (doc_id % 250) % 20
                      || '.EXAMPLE.ORG/P/' || doc_id % 250
               END AS url
        FROM documents
    ), canon AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       replace(replace(lower(url), 'http://', 'https://'),
                               '://www.', '://'),
                       '\\?utm_[^&]*$', ''),
                   '/$', '') AS canonical_url
        FROM raw
    )
    SELECT canonical_url, MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_variants
    FROM canon GROUP BY canonical_url
"""


@query("X1_url_canonical_dedup", _URL_CANON_SQL)
def url_canonical_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    base = F.col("doc_id") % 250
    host_k = (base % 20).cast("string")
    b = base.cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("https://www.src"), host_k,
                     F.lit(".example.org/p/"), b, F.lit("/")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("http://src"), host_k,
                     F.lit(".example.org/p/"), b),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://src"), host_k,
                     F.lit(".example.org/p/"), b, F.lit("?utm_source=x")),
        )
        .otherwise(
            F.concat(F.lit("HTTPS://WWW.SRC"), host_k,
                     F.lit(".EXAMPLE.ORG/P/"), b)
        )
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.replace(
                F.replace(F.lower(url), F.lit("http://"), F.lit("https://")),
                F.lit("://www."), F.lit("://"),
            ),
            r"\?utm_[^&]*$", "",
        ),
        "/$", "",
    )
    return (
        docs.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


# --------------------------------------------------------------------------
# X2: containment (asymmetric) near-dup pairs — |A∩B| / |A|, the
# sub-document-inclusion test Jaccard misses when the containing doc is
# much larger. Both directions emitted with their own scores; the oracle
# runs the same inverted index in SQL.
# --------------------------------------------------------------------------

_CONTAINMENT_T = 0.5


@query(
    "X2_containment_pairs",
    _SQL_SHINGLES
    + f"""
    , cpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
        GROUP BY 1, 2, 3
    )
    SELECT id_a, id_b, CAST(c AS DOUBLE) / na AS containment
    FROM cpairs WHERE CAST(c AS DOUBLE) / na >= {_CONTAINMENT_T}
    """,
)
def containment_pairs_query(spark, sf_dir):
    from ..operators.dedup import ngram_containment_pairs

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    return ngram_containment_pairs(docs, threshold=_CONTAINMENT_T)


# --------------------------------------------------------------------------
# X2: PORTABLE MinHash-LSH — the oracle-checkable twin of the xxhash64
# MinHash pipeline (X2_minhash_lsh_pairs), same move as the portable
# SimHash above. Shingle hashes are a polynomial over the first 8 md5 hex
# digits (≡ the 32-bit digest prefix, computable identically in Spark and
# DuckDB); the k=12 hash family is (a_i·h + b_i) mod (2³¹−1) with fixed
# odd constants (products < 2⁵⁸ — no BIGINT overflow); per-doc signatures
# are 12 exact integer MINs; banding is 4 bands × 3 rows. Because every
# step is deterministic integer arithmetic, the ORACLE can brute-force
# the identical signatures and emit exactly the pairs sharing ≥1 band —
# so the whole LSH pipeline (signature → banding → candidate → estimate)
# is value-checked, not just row-counted. Spark keeps the 100 TB shape:
# ONE equi-join on (band_idx, band_signature) rows, first-shared-band
# dedup, no distinct, no cross product. ``est_jaccard`` (equal-min
# fraction) rides along — also exact.
# --------------------------------------------------------------------------

_MH_P = 2147483647  # 2^31 - 1
_MH_K = 12
_MH_BANDS = 4  # rows per band r = _MH_K // _MH_BANDS = 3
_MH_AB = [(1000003 + 15838 * i, 12345 + 271829 * i) for i in range(_MH_K)]

# 32-bit base hash: polynomial over the first 8 md5 hex digits.
_MH_H_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(s), {j + 1}, 1)) - 1)"
    f" * {16 ** (7 - j)}"
    for j in range(8)
)


def _portable_minhash_sql() -> str:
    mins = ",\n".join(
        f"MIN(({a} * h + {b}) % {_MH_P}) AS m{i}"
        for i, (a, b) in enumerate(_MH_AB)
    )
    r = _MH_K // _MH_BANDS
    band_match = " OR ".join(
        "("
        + " AND ".join(
            f"a.m{k * r + j} = b.m{k * r + j}" for j in range(r)
        )
        + ")"
        for k in range(_MH_BANDS)
    )
    eq_count = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(_MH_K)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS ts
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, s
      FROM toks,
           UNNEST(list_transform(
               generate_series(1, greatest(len(ts) - 2, 0)),
               i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS u(s)
      WHERE s <> ''
    ), hx AS (
      SELECT doc_id, ({_MH_H_SQL}) AS h FROM sh
    ), sig AS (
      SELECT doc_id, {mins} FROM hx GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(({eq_count}) / {_MH_K}.0, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE {band_match}
    """


def _portable_sig(docs):
    """(doc_id, m0..m{K-1}): md5-polynomial MinHash signature columns —
    the DuckDB-reproducible twin of operators/dedup.py's xxhash64
    signatures. Shared by the pair query and the incremental-store
    classify twin below."""
    sh = (
        docs.select(
            "doc_id",
            F.expr("split(lower(text), '[^a-z0-9]+')").alias("ts"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(filter(CASE WHEN size(ts) >= 3 THEN"
                    " transform(sequence(1, size(ts) - 2),"
                    " i -> concat_ws(' ', slice(ts, i, 3)))"
                    " ELSE array() END, s -> s <> ''))"
                )
            ).alias("s"),
        )
        .withColumn(
            "h",
            F.expr(
                " + ".join(
                    "CAST(instr('0123456789abcdef',"
                    f" substr(md5(s), {j + 1}, 1)) - 1 AS BIGINT)"
                    f" * {16 ** (7 - j)}"
                    for j in range(8)
                )
            ).cast("bigint"),
        )
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"({a} * h + {b}) % {_MH_P}")).alias(f"m{i}")
            for i, (a, b) in enumerate(_MH_AB)
        ]
    )


@query("X2_minhash_portable_pairs", _portable_minhash_sql())
def minhash_portable_pairs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    sig = _portable_sig(docs)
    r = _MH_K // _MH_BANDS
    bands = sig.select(
        "doc_id",
        *[F.col(f"m{i}") for i in range(_MH_K)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        *[
                            F.col(f"m{k * r + j}").alias(f"b{j}")
                            for j in range(r)
                        ],
                    )
                    for k in range(_MH_BANDS)
                ]
            )
        ).alias("band"),
    ).select(
        "doc_id",
        *[F.col(f"m{i}") for i in range(_MH_K)],
        "band.k",
        *[F.col(f"band.b{j}") for j in range(r)],
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"m{i}").alias(f"am{i}") for i in range(_MH_K)],
        "k",
        *[F.col(f"b{j}") for j in range(r)],
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"m{i}").alias(f"bm{i}") for i in range(_MH_K)],
        "k",
        *[F.col(f"b{j}") for j in range(r)],
    )
    # first-shared-band dedup, derived from the carried signatures
    first_shared = F.lit(True)
    for kk in range(_MH_BANDS - 1):
        prev_differs = F.lit(False)
        for j in range(r):
            prev_differs = prev_differs | (
                F.col(f"am{kk * r + j}") != F.col(f"bm{kk * r + j}")
            )
        first_shared = first_shared & ((F.col("k") <= kk) | prev_differs)
    eq_count = sum(
        (
            F.when(F.col(f"am{i}") == F.col(f"bm{i}"), 1).otherwise(0)
            for i in range(_MH_K)
        ),
        F.lit(0),
    )
    return (
        a.join(b, ["k"] + [f"b{j}" for j in range(r)])
        .filter((F.col("id_a") < F.col("id_b")) & first_shared)
        .select(
            "id_a",
            "id_b",
            F.round(eq_count.cast("double") / _MH_K, 6).alias("est_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# X1 (cont.): PORTABLE incremental-store classify — the oracle-checked
# twin of X1_incremental_dedup_store's per-document decision. Same
# contract (history = doc_id % 10 < 8, batch = rest; exact_dup by
# content hash > near_dup by banded MinHash agreement >= 0.5 with best
# match on (est DESC, match_id) > new), but the signature is the
# md5-polynomial MinHash above so DuckDB reproduces every decision.
# Spark keeps the store shape: batch side BROADCAST into both probes
# (exact hash join, banded candidate join), history only scanned. The
# xxhash64 store query remains the production path (warehouse-persisted
# fingerprints); this twin value-checks the classify semantics.
# --------------------------------------------------------------------------


def _incr_portable_sql() -> str:
    mins = ",\n".join(
        f"MIN(({a} * h + {b}) % {_MH_P}) AS m{i}"
        for i, (a, b) in enumerate(_MH_AB)
    )
    r = _MH_K // _MH_BANDS
    band_match = " OR ".join(
        "("
        + " AND ".join(
            f"hs.m{k * r + j} = bs.m{k * r + j}" for j in range(r)
        )
        + ")"
        for k in range(_MH_BANDS)
    )
    eq_count = " + ".join(
        f"CASE WHEN hs.m{i} = bs.m{i} THEN 1 ELSE 0 END"
        for i in range(_MH_K)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS ts
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, s
      FROM toks,
           UNNEST(list_transform(
               generate_series(1, greatest(len(ts) - 2, 0)),
               i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS u(s)
      WHERE s <> ''
    ), hx AS (
      SELECT doc_id, ({_MH_H_SQL}) AS h FROM sh
    ), sig AS (
      SELECT doc_id, {mins} FROM hx GROUP BY doc_id
    ), hist AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8
    ), batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
    ), exact AS (
      SELECT b.doc_id, MIN(h.doc_id) AS match_id
      FROM batch b JOIN hist h ON md5(h.text) = md5(b.text)
      GROUP BY b.doc_id
    ), cand AS (
      SELECT bs.doc_id, hs.doc_id AS match_id,
             round(({eq_count}) / {_MH_K}.0, 6) AS est
      FROM (SELECT s.* FROM sig s JOIN batch USING (doc_id)) bs
      JOIN (SELECT s.* FROM sig s JOIN hist USING (doc_id)) hs
        ON ({band_match})
    ), near AS (
      SELECT doc_id, match_id, est FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY est DESC, match_id) AS rn
        FROM cand WHERE est >= 0.5
      ) WHERE rn = 1
    )
    SELECT b.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS status,
           CASE WHEN e.doc_id IS NOT NULL THEN e.match_id
                ELSE n.match_id END AS match_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 1.0
                WHEN n.doc_id IS NOT NULL THEN n.est END AS est_jaccard
    FROM batch b
    LEFT JOIN exact e ON e.doc_id = b.doc_id
    LEFT JOIN near n ON n.doc_id = b.doc_id
    """


@query("X1_incremental_dedup_portable", _incr_portable_sql())
def incremental_dedup_portable(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    history = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)

    exact = (
        history.select(
            F.md5(F.col("text").cast("binary")).alias("ch"),
            F.col("doc_id").alias("match_id"),
        )
        .join(
            F.broadcast(
                batch.select(
                    "doc_id", F.md5(F.col("text").cast("binary")).alias("ch")
                )
            ),
            "ch",
        )
        .groupBy("doc_id")
        .agg(F.min("match_id").alias("match_id"))
        .withColumn("status", F.lit("exact_dup"))
        .withColumn("est_jaccard", F.lit(1.0))
    )

    r = _MH_K // _MH_BANDS

    def band_rows(sig, id_alias):
        return sig.select(
            F.col("doc_id").alias(id_alias),
            *[F.col(f"m{i}") for i in range(_MH_K)],
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("k"),
                            *[
                                F.col(f"m{k * r + j}").alias(f"b{j}")
                                for j in range(r)
                            ],
                        )
                        for k in range(_MH_BANDS)
                    ]
                )
            ).alias("band"),
        ).select(
            id_alias,
            *[F.col(f"m{i}") for i in range(_MH_K)],
            "band.k",
            *[F.col(f"band.b{j}") for j in range(r)],
        )

    hsig = _portable_sig(history)
    bsig = _portable_sig(batch)
    h_bands = band_rows(hsig, "match_id").select(
        "match_id",
        *[F.col(f"m{i}").alias(f"hm{i}") for i in range(_MH_K)],
        "k",
        *[f"b{j}" for j in range(r)],
    )
    b_bands = band_rows(bsig, "doc_id")
    cand = (
        h_bands.join(F.broadcast(b_bands), ["k"] + [f"b{j}" for j in range(r)])
        .select(
            "doc_id",
            "match_id",
            *[f"hm{i}" for i in range(_MH_K)],
            *[f"m{i}" for i in range(_MH_K)],
        )
        .dropDuplicates(["doc_id", "match_id"])
    )
    eq_count = sum(
        (
            F.when(F.col(f"hm{i}") == F.col(f"m{i}"), 1).otherwise(0)
            for i in range(_MH_K)
        ),
        F.lit(0),
    )
    scored = cand.withColumn(
        "est", F.round(eq_count.cast("double") / _MH_K, 6)
    ).filter(F.col("est") >= 0.5)
    near = dedup_exact(
        scored, ["doc_id"], [F.desc("est"), F.asc("match_id")]
    ).select(
        "doc_id",
        "match_id",
        F.col("est").alias("est_jaccard"),
    ).withColumn("status", F.lit("near_dup"))

    classified = exact.unionByName(
        near.join(exact.select("doc_id"), "doc_id", "left_anti")
    )
    return (
        batch.select("doc_id")
        .join(classified, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("status", F.lit("new")).alias("status"),
            "match_id",
            "est_jaccard",
        )
    )


# --------------------------------------------------------------------------
# X1: exact-substring duplicate spans (the ExactSubstr dedup of Lee et
# al.'s "Deduplicating Training Data Makes Language Models Better",
# arXiv:2107.06499, re-expressed Spark-first): any ≥L-char substring
# shared verbatim across ≥2 documents marks a span to cut. Suffix arrays
# don't distribute; the equivalent formulation does — a character
# L-gram at every position (stride 1 = full fidelity), grouped by gram
# to find cross-document repeats, then per-document island-merging of
# overlapping hit positions into maximal spans. Shapes: one shuffle on a
# 60-bit md5-derived GRAM HASH (8 bytes per key instead of L chars — the
# 100 TB form, ~5× less build-side shuffle; md5 is computed identically
# in Spark and DuckDB, so a collision — ~n²/2^61, vanishing — would be
# shared by both engines and the oracle stays exact), one broadcast-back
# semi-join, one doc-partitioned window for the island merge. The gram
# strings themselves exist only transiently inside codegen; the apply
# query's digest check (`X1_substring_dedup_apply`) re-verifies cut
# content verbatim. Pure integer logic — bit-identical both engines.
# --------------------------------------------------------------------------

_SUBSTR_L = 40


def _gram_hash_sql_duckdb(h: str) -> str:
    # first 15 hex digits of md5 → 60-bit BIGINT (DuckDB has no conv())
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1)"
            f" * {16 ** (14 - j)}"
            for j in range(15)
        )
        + ")"
    )


def _gram_hits(docs):
    """(doc_id, i) positions whose L-gram repeats across >= 2 documents.

    The shuffle key is the 60-bit md5-derived gram hash (8 bytes vs L
    chars — the build-side-bytes fix for 100 TB); the gram string itself
    exists only transiently inside codegen."""
    L = _SUBSTR_L
    grams = (
        docs.filter(F.length("text") >= L)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.expr(f"sequence(1, length(text) - {L} + 1)")
            ).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.expr(
                f"CAST(conv(substr(md5(CAST(substring(text, i, {L})"
                f" AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
            ).alias("gh"),
        )
    )
    # "repeats across >= 2 documents" == min(doc_id) != max(doc_id): the
    # count_distinct form expanded every (gh, doc_id) pair through a
    # two-phase distinct aggregation; min/max partial-aggregates to ONE
    # row per gh per map partition before the shuffle (§2.3) and needs a
    # single aggregation phase. Hot grams (boilerplate) are combined
    # map-side, so no key skews the aggregation.
    dup = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("_d0"), F.max("doc_id").alias("_d1"))
        .filter(F.col("_d0") != F.col("_d1"))
        .select("gh")
    )
    return grams.join(dup, "gh").select("doc_id", "i")



@query(
    "X1_substring_dedup_spans",
    f"""
    WITH grams AS (
      SELECT doc_id, i,
             CAST({_gram_hash_sql_duckdb(
                 f"md5(substr(text, i, {_SUBSTR_L}))")} AS BIGINT) AS gh
      FROM documents,
           UNNEST(generate_series(1, length(text) - {_SUBSTR_L} + 1)) AS u(i)
      WHERE length(text) >= {_SUBSTR_L}
    ), dup AS (
      SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT gr.doc_id, gr.i FROM grams gr JOIN dup USING (gh)
    ), brk AS (
      SELECT doc_id, i,
             CASE WHEN i - lag(i) OVER w > {_SUBSTR_L} THEN 1 ELSE 0 END AS b
      FROM hits
      WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ), isl AS (
      SELECT doc_id, i,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS island
      FROM brk
    )
    SELECT doc_id, MIN(i) AS span_start,
           MAX(i) + {_SUBSTR_L} - 1 AS span_end,
           MAX(i) - MIN(i) + {_SUBSTR_L} AS span_len
    FROM isl GROUP BY doc_id, island
    """,
)
def substring_dedup_spans(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    L = _SUBSTR_L
    hits = _gram_hits(docs)
    w = Window.partitionBy("doc_id").orderBy("i")
    brk = hits.withColumn(
        "b",
        F.when(F.col("i") - F.lag("i").over(w) > L, F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    isl = brk.withColumn(
        "island",
        F.sum("b").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("i").alias("span_start"),
        (F.max("i") + L - 1).alias("span_end"),
        (F.max("i") - F.min("i") + L).alias("span_len"),
    ).drop("island")


# --------------------------------------------------------------------------
# X1 (cont.): span APPLICATION — the cut step that turns detected
# duplicate spans into redacted documents. Contract: every cross-document
# duplicate span (the X1_substring_dedup_spans output) is removed from
# EVERY document carrying it (decontamination semantics; keep-one-copy
# is a policy layer on top — join the keeper table before cutting). The
# rebuild takes the complement intervals per document (lag over sorted
# spans), slices each, and concatenates in order; the declared output is
# (doc_id, n_chars, cleaned_len, md5 of the cleaned text) so the oracle
# value-checks the exact redacted bytes without shipping full texts
# through the comparator. One spans window + one ordered string_agg per
# doc — both doc-partitioned.
# --------------------------------------------------------------------------


@query(
    "X1_substring_dedup_apply",
    f"""
    WITH grams AS (
      SELECT doc_id, i,
             CAST({_gram_hash_sql_duckdb(
                 f"md5(substr(text, i, {_SUBSTR_L}))")} AS BIGINT) AS gh
      FROM documents,
           UNNEST(generate_series(1, length(text) - {_SUBSTR_L} + 1)) AS u(i)
      WHERE length(text) >= {_SUBSTR_L}
    ), dup AS (
      SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT gr.doc_id, gr.i FROM grams gr JOIN dup USING (gh)
    ), brk AS (
      SELECT doc_id, i,
             CASE WHEN i - lag(i) OVER w > {_SUBSTR_L} THEN 1 ELSE 0 END AS b
      FROM hits
      WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ), isl AS (
      SELECT doc_id, i,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS island
      FROM brk
    ), spans AS (
      SELECT doc_id, MIN(i) AS s, MAX(i) + {_SUBSTR_L} - 1 AS e
      FROM isl GROUP BY doc_id, island
    ), keeps AS (
      SELECT doc_id,
             COALESCE(lag(e) OVER w2 + 1, 1) AS ks,
             s - 1 AS ke,
             0 AS is_tail
      FROM spans
      WINDOW w2 AS (PARTITION BY doc_id ORDER BY s)
      UNION ALL
      SELECT doc_id, MAX(e) + 1, 2147483647, 1 FROM spans GROUP BY doc_id
    ), pieces AS (
      SELECT k.doc_id, k.ks,
             CASE WHEN k.is_tail = 1
                  THEN substr(d.text, k.ks)
                  ELSE substr(d.text, k.ks, k.ke - k.ks + 1) END AS piece
      FROM keeps k JOIN documents d USING (doc_id)
      WHERE k.is_tail = 1 OR k.ke >= k.ks
    ), rebuilt AS (
      SELECT doc_id, string_agg(piece, '' ORDER BY ks) AS cleaned
      FROM pieces GROUP BY doc_id
    )
    SELECT d.doc_id, d.n_chars,
           CAST(length(COALESCE(r.cleaned, d.text)) AS BIGINT) AS cleaned_len,
           md5(COALESCE(r.cleaned, d.text)) AS cleaned_md5
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def substring_dedup_apply(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    L = _SUBSTR_L
    hits = _gram_hits(docs)
    w = Window.partitionBy("doc_id").orderBy("i")
    isl = hits.withColumn(
        "b",
        F.when(F.col("i") - F.lag("i").over(w) > L, F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "island", F.sum("b").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("i").alias("s"), (F.max("i") + L - 1).alias("e")
    )
    w2 = Window.partitionBy("doc_id").orderBy("s")
    mids = spans.select(
        "doc_id",
        F.coalesce(F.lag("e").over(w2) + 1, F.lit(1)).alias("ks"),
        (F.col("s") - 1).alias("ke"),
        F.lit(0).alias("is_tail"),
    )
    tails = spans.groupBy("doc_id").agg(
        (F.max("e") + 1).alias("ks"),
        F.lit(2147483647).alias("ke"),
        F.lit(1).alias("is_tail"),
    )
    keeps = mids.unionByName(tails).filter(
        (F.col("is_tail") == 1) | (F.col("ke") >= F.col("ks"))
    )
    pieces = keeps.join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "ks",
        F.when(
            F.col("is_tail") == 1, F.expr("substring(text, ks)")
        ).otherwise(F.expr("substring(text, ks, ke - ks + 1)")).alias("piece"),
    )
    rebuilt = pieces.groupBy("doc_id").agg(
        F.expr(
            "concat_ws('', transform(array_sort("
            "collect_list(struct(ks, piece))), p -> p.piece))"
        ).alias("cleaned")
    )
    return (
        docs.select("doc_id", "n_chars", "text")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.length(F.coalesce("cleaned", "text")).cast("bigint").alias(
                "cleaned_len"
            ),
            F.md5(F.coalesce("cleaned", "text").cast("binary")).alias(
                "cleaned_md5"
            ),
        )
    )


# --------------------------------------------------------------------------
# X4 (here for shingle-machinery reuse): novelty score — the share of a
# document's distinct 3-shingles that appear NOWHERE else in the corpus.
# The per-document complement of the dup-rate family: curation pipelines
# up-weight high-novelty documents in mixtures and down-weight templated
# text. One inverted-index pass (shingle df) + one per-doc aggregate —
# the same scale shape as X2's exact pair generation without the pair
# join.
# --------------------------------------------------------------------------


@query(
    "X4_novelty_score",
    _SQL_SHINGLES
    + """
    , df AS (
      SELECT s, COUNT(DISTINCT doc_id) AS d FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(MAX(sh.n) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           round(CAST(SUM(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / MAX(sh.n), 6) AS novelty
    FROM sh JOIN df USING (s)
    GROUP BY sh.doc_id
    """,
)
def novelty_score(spark, sf_dir):
    from ..functions.text import tokens, word_shingles

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    sh = (
        docs.select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", word_shingles("toks", 3).alias("shingles"))
        .select(
            "doc_id",
            F.size("shingles").alias("n"),
            F.explode("shingles").alias("s"),
        )
    )
    df = sh.groupBy("s").agg(F.count_distinct("doc_id").alias("d"))
    return (
        sh.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
            F.round(
                F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("double")
                / F.max("n"),
                6,
            ).alias("novelty"),
        )
    )


# --------------------------------------------------------------------------
# X1: winnowing fingerprint matches (Schleimer, Wilkerson & Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
# the MOSS algorithm): per-document char-8-gram rolling hashes, a
# 4-gram sliding window selecting each window's MIN hash, distinct
# selected hashes = the document's fingerprint set. The winnowing
# guarantee: any shared substring of ≥ w+k−1 = 11 chars shares at least
# one selected fingerprint, at ~1/w the storage of every gram —
# positioned between exact content-hash dedup (whole-doc only) and
# ExactSubstr (exact spans, heavier): cheap plagiarism/overlap-candidate
# detection. Hot fingerprints (df > 50 docs, i.e. boilerplate/common
# English) are cut before pairing — the same occupancy discipline as the
# MinHash max_bucket guard, keeping posting lists bounded. A pair is
# reported on CONTAINMENT (shared / min fingerprint-set size) ≥ 0.5 with
# both sets ≥ 20 fingerprints — scale-free, unlike an absolute
# shared-count threshold (document-length distributions shift it across
# corpora; measured on the fixtures). Hashes are the portable polynomial
# rolling hash (X4_doc_fingerprint's fold, exact int64 arithmetic), so
# the whole pipeline hash-matches DuckDB. Scale shape: gram hashing is
# row-local, window selection is one doc-partitioned window, the df cut
# and pairing shuffle on the fingerprint key with df-bounded fan-out.
# Production swaps the portable polynomial hash for xxhash64 and
# normalizes text first; the plan shape is identical.
# --------------------------------------------------------------------------

_WINNOW_K = 8       # gram length
_WINNOW_W = 4       # window size (guarantee threshold = W + K - 1 chars)
_WINNOW_DF = 50     # boilerplate cut: fingerprints in more docs dropped
_WINNOW_CONT = 0.5  # containment threshold for a reported pair
_WINNOW_MINSET = 20  # both fingerprint sets must be at least this large


@query(
    "X1_winnowing_matches",
    f"""
    WITH g AS (
        SELECT doc_id, i,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(ascii(c) AS BIGINT)
                    for c in string_split(substr(text, i, {_WINNOW_K}), '')]),
                   (a, b) -> (a * 31 + b) % 1000000007) AS h,
               length(text) - {_WINNOW_K - 1} AS n_grams
        FROM documents,
             UNNEST(generate_series(1, length(text) - {_WINNOW_K - 1})) AS s(i)
        WHERE length(text) >= {_WINNOW_K}
    ),
    m AS (
        SELECT doc_id, i, n_grams,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
                   AS mh
        FROM g
    ),
    sel AS (
        SELECT DISTINCT doc_id, mh FROM m
        WHERE i + {_WINNOW_W - 1} <= n_grams
    ),
    dfc AS (SELECT mh, COUNT(*) AS ndocs FROM sel GROUP BY mh),
    keep AS (
        SELECT s.doc_id, s.mh FROM sel s JOIN dfc USING (mh)
        WHERE ndocs <= {_WINNOW_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS nf FROM keep GROUP BY doc_id),
    prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM keep a JOIN keep b ON a.mh = b.mh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           round(CAST(p.n_shared AS DOUBLE) / LEAST(sa.nf, sb.nf), 6)
               AS containment
    FROM prs p JOIN sizes sa ON sa.doc_id = p.doc_a
               JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE LEAST(sa.nf, sb.nf) >= {_WINNOW_MINSET}
      AND CAST(p.n_shared AS DOUBLE) / LEAST(sa.nf, sb.nf) >= {_WINNOW_CONT}
    """,
)
def winnowing_matches(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents", scan_parallel=True).filter(
        F.length("text") >= _WINNOW_K
    )
    g = docs.select(
        "doc_id",
        (F.length("text") - (_WINNOW_K - 1)).alias("n_grams"),
        F.explode(
            F.expr(f"sequence(1, length(text) - {_WINNOW_K - 1})")
        ).alias("i"),
        "text",
    ).select(
        "doc_id", "n_grams", "i",
        F.expr(
            f"aggregate(split(substr(text, i, {_WINNOW_K}), ''), 0L,"
            " (a, c) -> (a * 31 + ascii(c)) % 1000000007)"
        ).alias("h"),
    )
    win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(
        0, _WINNOW_W - 1
    )
    m = g.select(
        "doc_id", "i", "n_grams", F.min("h").over(win).alias("mh")
    )
    sel = (
        m.filter(F.col("i") + (_WINNOW_W - 1) <= F.col("n_grams"))
        .select("doc_id", "mh")
        .distinct()
    )
    dfc = sel.groupBy("mh").agg(F.count(F.lit(1)).alias("ndocs"))
    keep = cut_lineage(  # referenced twice by the pair self-join
        sel.join(dfc, "mh")
        .filter(F.col("ndocs") <= _WINNOW_DF)
        .select("doc_id", "mh")
    )
    sizes = keep.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    a = keep.select(F.col("doc_id").alias("doc_a"), "mh")
    b = keep.select(F.col("doc_id").alias("doc_b"), "mh")
    prs = (
        a.join(b, "mh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    joined = prs.join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na")),
        "doc_a",
    ).join(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb")),
        "doc_b",
    )
    mn = F.least("na", "nb")
    cont = F.col("n_shared").cast("double") / mn
    return (
        joined.filter((mn >= _WINNOW_MINSET) & (cont >= _WINNOW_CONT))
        .select(
            "doc_a", "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.round(cont, 6).alias("containment"),
        )
    )


# --------------------------------------------------------------------------
# X2: QUALITY-weighted representative selection — the curation policy
# real pipelines run after clustering: within each near-dup component,
# keep the HIGHEST-QUALITY member (the X4 composite quality score —
# length/punctuation/stopword/distinct signals), not merely the longest.
# A boilerplate-padded copy can out-length the clean original; quality
# ordering keeps the clean one. The score is the same double expression
# the hash-green X4_quality_score query computes — bit-identical on both
# engines — so (quality DESC, doc_id) is a portable total order and the
# whole components→score→argmax composition is oracle-checked.
# Scale shape: component labels from distributed propagation, one score
# projection in the scan, one per-component window — same cost as the
# n_chars policy.
# --------------------------------------------------------------------------

_SQL_QUALITY = """
        0.25 * (CASE WHEN n_tokens >= 20 THEN 1.0 ELSE n_tokens / 20.0 END)
        + 0.25 * (1.0 - punct_ratio)
        + 0.25 * (CASE WHEN stopword_ratio > 0.02 THEN 1.0 ELSE 0.0 END)
        + 0.25 * distinct_ratio
"""


@query(
    "X2_component_best_quality",
    _SQL_COMPONENTS
    + """
    , feat AS (
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                    AS DOUBLE) / length(text) AS punct_ratio,
               CAST(len(list_filter(toks, x ->
                        list_contains(['the', 'a', 'of', 'and', 'to', 'in'], x)))
                    AS DOUBLE) / len(toks) AS stopword_ratio,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                   AS distinct_ratio
        FROM (SELECT doc_id, text,
                     string_split_regex(trim(text), '\\s+') AS toks
              FROM documents)
    ), scored AS (
        SELECT f.doc_id, COALESCE(c.component, f.doc_id) AS component,
               """ + _SQL_QUALITY + """ AS quality_score
        FROM feat f LEFT JOIN comp c ON f.doc_id = c.node
    )
    SELECT doc_id, component, quality_score,
           FIRST_VALUE(doc_id) OVER w AS rep_doc_id,
           doc_id = FIRST_VALUE(doc_id) OVER w AS is_kept
    FROM scored
    WINDOW w AS (PARTITION BY component ORDER BY quality_score DESC, doc_id)
    """,
)
def component_best_quality(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    pairs = ngram_jaccard_pairs(docs, threshold=_JACCARD_THRESHOLD)
    labels = connected_components(pairs)
    feat = docs.select(
        "doc_id",
        F.expr("size(split(trim(text), '\\\\s+'))").cast("int").alias("n_tokens"),
        (
            F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double")
            / F.length("text")
        ).alias("punct_ratio"),
        (
            F.expr(
                "size(filter(split(trim(text), '\\\\s+'), x ->"
                " array_contains(array('the', 'a', 'of', 'and', 'to', 'in'), x)))"
            ).cast("double")
            / F.expr("size(split(trim(text), '\\\\s+'))")
        ).alias("stopword_ratio"),
        (
            F.expr("size(array_distinct(split(trim(text), '\\\\s+')))").cast(
                "double"
            )
            / F.expr("size(split(trim(text), '\\\\s+'))")
        ).alias("distinct_ratio"),
    )
    scored = feat.join(labels, feat.doc_id == labels.node, "left").select(
        "doc_id",
        F.coalesce("comp", "doc_id").alias("component"),
        F.expr(
            "0.25 * (CASE WHEN n_tokens >= 20 THEN 1.0"
            " ELSE n_tokens / 20.0 END)"
            " + 0.25 * (1.0 - punct_ratio)"
            " + 0.25 * (CASE WHEN stopword_ratio > 0.02 THEN 1.0"
            " ELSE 0.0 END)"
            " + 0.25 * distinct_ratio"
        ).alias("quality_score"),
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    return scored.select(
        "doc_id",
        "component",
        "quality_score",
        F.first("doc_id").over(w).alias("rep_doc_id"),
        (F.col("doc_id") == F.first("doc_id").over(w)).alias("is_kept"),
    )


# --------------------------------------------------------------------------
# X1: content-defined chunking dedup (the backup/dedup-store boundary
# scheme: Muthitacharoen et al., "A Low-Bandwidth Network File System",
# SOSP 2001; FastCDC, ATC 2016). X1_chunk_dedup_reassemble chunks at
# FIXED offsets, so one inserted byte shifts every later chunk and kills
# dedup; content-defined boundaries cut where a rolling window hash
# satisfies h % D == 0, so edits only perturb neighboring chunks and
# identical content RE-SYNCS to identical chunk hashes at any offset.
# This declared form drops FastCDC's min-size suppression (that rule is
# sequential; boundary-at-every-qualifying-position is position-local,
# which keeps the whole pipeline declarative and SQL-replayable — the
# oracle verifies every boundary, every chunk split, and the dedup-store
# rollup). The window hash is the winnowing fold (base-31 poly mod 1e9+7
# over a 16-char window, O(len x W) — a production byte pipeline would
# use the O(len) Gear recurrence inside mapInPandas; the fold form is
# what makes the boundary rule cross-engine-checkable). Expected chunk
# length = D = 64 chars + one tail chunk per doc.
# --------------------------------------------------------------------------

_CDC_W = 16       # rolling window (chars)
_CDC_DIV = 64     # boundary divisor -> expected 64-char chunks
_CDC_P = 1000000007


@query(
    "X1_cdc_chunk_dedup",
    f"""
    WITH g AS (
        SELECT doc_id, i,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(ascii(c) AS BIGINT)
                    for c in string_split(substr(text, i - {_CDC_W - 1}, {_CDC_W}), '')]),
                   (a, b) -> (a * 31 + b) % {_CDC_P}) AS h
        FROM documents,
             UNNEST(generate_series({_CDC_W}, length(text))) AS s(i)
        WHERE length(text) >= 1
    ),
    pos AS (
        SELECT DISTINCT doc_id, i FROM (
            SELECT doc_id, i FROM g WHERE h % {_CDC_DIV} = 0
            UNION ALL
            SELECT doc_id, length(text) AS i FROM documents
            WHERE length(text) >= 1
        )
    ),
    ch AS (
        SELECT doc_id, i,
               COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0)
                   AS prev
        FROM pos
    ),
    chunks AS (
        SELECT ch.doc_id,
               md5(substr(d.text, ch.prev + 1, ch.i - ch.prev)) AS chash,
               ch.i - ch.prev AS clen
        FROM ch JOIN documents d USING (doc_id)
    )
    SELECT chash,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keeper_doc,
           CAST(MIN(clen) AS BIGINT) AS chunk_len,
           CAST(SUM(clen) AS BIGINT) AS total_chars
    FROM chunks GROUP BY chash
    """,
)
def cdc_chunk_dedup(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents", scan_parallel=True).filter(
        F.length("text") >= 1
    )
    # guard: Spark sequence(16, len) DESCENDS when len < 16 (DuckDB's
    # generate_series is empty) — window positions only exist for docs
    # long enough to hold one window; shorter docs are tail-chunk-only
    g = docs.filter(F.length("text") >= _CDC_W).select(
        "doc_id",
        "text",
        F.explode(F.expr(f"sequence({_CDC_W}, length(text))")).alias("i"),
    ).select(
        "doc_id",
        "i",
        F.expr(
            f"aggregate(split(substr(text, i - {_CDC_W - 1}, {_CDC_W}), ''), 0L,"
            f" (a, c) -> (a * 31 + ascii(c)) % {_CDC_P})"
        ).alias("h"),
    )
    bounds = g.filter(F.col("h") % _CDC_DIV == 0).select("doc_id", "i")
    ends = docs.select("doc_id", F.length("text").alias("i"))
    pos = bounds.union(ends).distinct()
    w = Window.partitionBy("doc_id").orderBy("i")
    ch = pos.withColumn(
        "prev", F.coalesce(F.lag("i").over(w), F.lit(0))
    )
    chunks = ch.join(docs, "doc_id").select(
        "doc_id",
        F.md5(
            F.expr("substr(text, prev + 1, i - prev)").cast("binary")
        ).alias("chash"),
        (F.col("i") - F.col("prev")).alias("clen"),
    )
    return chunks.groupBy("chash").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("keeper_doc"),
        F.min("clen").cast("bigint").alias("chunk_len"),
        F.sum("clen").cast("bigint").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# X2: LSH band-TUNING report — the design study behind every banded-LSH
# deployment, as an oracle-checked query. For each (bands, rows) split of
# the 12-hash portable MinHash signature it reports:
#   - the analytic S-curve collision probability 1-(1-t^r)^b at the
#     design threshold t=0.5 (the number you tune against on paper);
#   - the MEASURED candidate-pair volume under that banding;
#   - how many candidates are estimated-true (equal-min fraction ≥ t ⇔
#     eq_count ≥ 6 of 12 — pure integer, no float hazard);
#   - measured precision (micro-scaled integer).
# Reading the b=4 row against its neighbors is exactly how max_bucket /
# band-count choices in operators/dedup.py were justified; this makes
# that justification a VERIFIED artifact instead of a docstring claim.
# DuckDB replays signatures, all six bandings, and every count. Scale
# note: a tuning report runs on a fixture/sample by design — the widest
# banding (b=12, r=1) is intentionally high-recall/low-precision and
# would be quadratic-ish on a full corpus.
# --------------------------------------------------------------------------

_TUNE_LAYOUTS = [(12, 1), (6, 2), (4, 3), (3, 4), (2, 6), (1, 12)]
_TUNE_T = 0.5
_TUNE_EQ_MIN = 6  # eq_count >= 6 of 12 <=> est_jaccard >= 0.5


def _scurve_micro(b: int, r: int) -> int:
    return round(1_000_000 * (1.0 - (1.0 - _TUNE_T**r) ** b))


def _band_tuning_oracle() -> str:
    eq_count = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(_MH_K)
    )
    arms = []
    for nb, r in _TUNE_LAYOUTS:
        band_match = " OR ".join(
            "("
            + " AND ".join(
                f"a.m{k * r + j} = b.m{k * r + j}" for j in range(r)
            )
            + ")"
            for k in range(nb)
        )
        arms.append(f"""
        SELECT {nb} AS bands, {r} AS rows_per_band,
               a.doc_id AS id_a, b.doc_id AS id_b, ({eq_count}) AS eq
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE {band_match}""")
    unioned = " UNION ALL ".join(arms)
    scurve = " ".join(
        f"WHEN {nb} THEN CAST({_scurve_micro(nb, r)} AS BIGINT)"
        for nb, r in _TUNE_LAYOUTS
    )
    base = _portable_minhash_sql()
    sig_cte = base[base.index("WITH") + 4 : base.index("SELECT a.doc_id")]
    sig_cte = sig_cte.rstrip().rstrip(")") + ")"
    return f"""
    WITH {sig_cte}, cand AS ({unioned})
    SELECT bands, rows_per_band,
           COUNT(*) AS n_cands,
           CAST(SUM(CASE WHEN eq >= {_TUNE_EQ_MIN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true,
           CASE WHEN COUNT(*) = 0 THEN CAST(NULL AS BIGINT)
                ELSE CAST(ROUND(1000000.0 *
                     CAST(SUM(CASE WHEN eq >= {_TUNE_EQ_MIN} THEN 1
                              ELSE 0 END) AS BIGINT)
                     / COUNT(*)) AS BIGINT) END AS precision_micro,
           CASE bands {scurve} END AS s_curve_at_t_micro
    FROM cand GROUP BY bands, rows_per_band
    """


@query("X2_lsh_band_tuning_report", _band_tuning_oracle())
def lsh_band_tuning_report(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    sig = cut_lineage(_portable_sig(docs), eager=True)  # shared by 6 arms
    # ONE tagged relation instead of one self-join per layout: the (b, r)
    # config rides as grouping columns, so all six arms share a single
    # bucket join + distinct + verify join (12 -> ~4 shuffles; identical
    # candidate volume, the per-arm joins just stop paying per-arm
    # exchanges). Missing arms (zero candidates) are restored by the
    # left join from the literal layout axis.
    arms = None
    for nb, r in _TUNE_LAYOUTS:
        arm = sig.select(
            F.lit(nb).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            ":",
                            F.lit(k),
                            *[
                                F.col(f"m{k * r + j}").cast("string")
                                for j in range(r)
                            ],
                        )
                        for k in range(nb)
                    ]
                )
            ).alias("bkey"),
        )
        arms = arm if arms is None else arms.unionByName(arm)
    pairs = (
        arms.alias("a")
        .join(arms.alias("b"), ["bands", "rows_per_band", "bkey"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            "bands",
            "rows_per_band",
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    eq = sum(
        (
            F.when(F.col(f"sa.m{i}") == F.col(f"sb.m{i}"), 1).otherwise(0)
            for i in range(_MH_K)
        ),
        F.lit(0),
    )
    scored = (
        pairs.join(
            F.broadcast(sig.alias("sa")),
            F.col("id_a") == F.col("sa.doc_id"),
        )
        .join(
            F.broadcast(sig.alias("sb")),
            F.col("id_b") == F.col("sb.doc_id"),
        )
        .select(
            "bands",
            "rows_per_band",
            (eq >= _TUNE_EQ_MIN).cast("int").alias("is_true"),
        )
    )
    agg = scored.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).alias("n_cands"),
        F.sum("is_true").cast("bigint").alias("n_true"),
    )
    layouts = spark.createDataFrame(
        [(nb, r, _scurve_micro(nb, r)) for nb, r in _TUNE_LAYOUTS],
        "bands int, rows_per_band int, s_curve_at_t_micro bigint",
    )
    return layouts.join(agg, ["bands", "rows_per_band"], "left").select(
        "bands",
        "rows_per_band",
        F.coalesce("n_cands", F.lit(0)).cast("bigint").alias("n_cands"),
        F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
        F.when(
            F.col("n_cands") > 0,
            F.round(1_000_000.0 * F.col("n_true") / F.col("n_cands")).cast(
                "bigint"
            ),
        ).alias("precision_micro"),
        "s_curve_at_t_micro",
    )
