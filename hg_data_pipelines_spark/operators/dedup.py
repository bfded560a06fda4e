"""Deduplication operators (SURVEY.md X1/X2) — exact and near-duplicate.

Scale design:
- exact: one hash-shuffle on the dedup key, deterministic keep-first via
  window tiebreak (never nondeterministic ``dropDuplicates`` for declared
  output — SURVEY.md §7.2).
- n-gram Jaccard: inverted-index join on shingles (|pairs sharing a
  shingle|), NOT an O(n²) cross join.
- MinHash+LSH: signature + banded bucketing makes candidate generation
  near-linear; exact Jaccard verification only on candidates. This is the
  100 TB path — the exact inverted-index form is the small-scale oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import lsh_band_keys, minhash_signature, simhash64, tokens, word_shingles
from ..session import cut_lineage


def dedup_exact(df: DataFrame, keys: list[str], order: list) -> DataFrame:
    """Keep exactly one row per key combination, deterministically.

    ``order`` columns define which row wins (first under the given sort).
    One shuffle on ``keys``.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    """
    sh = (
        docs.select(F.col(id_col).alias("_id"), tokens(text_col).alias("toks"))
        .select("_id", word_shingles("toks", ngram).alias("shingles"))
        .select("_id", F.size("shingles").alias("_n"), F.explode("shingles").alias("s"))
    )
    # Bucket-then-combine instead of an inverted-index self-join: the
    # shingle subtree is evaluated ONCE (a self-join recomputes it per
    # side) and pairs expand inside each shingle's posting list. Posting
    # lists are bounded by document-frequency (hot shingles are rare in
    # the candidate set by the Jaccard threshold's nature), so the
    # expansion stays near-linear; the (least, greatest) canonicalization
    # makes output independent of collect_list order.
    buckets = (
        sh.groupBy("s")
        .agg(F.collect_list(F.struct("_id", "_n")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pair_expr = (
        "flatten(transform(ms, (x, i) ->"
        " transform(slice(ms, i + 2, size(ms)), y ->"
        " CASE WHEN x._id < y._id"
        " THEN struct(x._id as id_a, y._id as id_b, x._n as na, y._n as nb)"
        " ELSE struct(y._id as id_a, x._id as id_b, y._n as na, x._n as nb)"
        " END)))"
    )
    common = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b", "p.na", "p.nb")
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = common.withColumn(
        "jaccard", F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def jaccard_prefix_filter_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering (PPJoin-family).

    Same output contract as ``ngram_jaccard_pairs`` — (id_a, id_b,
    jaccard) with jaccard >= threshold, exactly — but candidate
    generation indexes only each document's PREFIX: its
    ``floor((1 - t) * n) + 1`` globally-rarest shingles under a canonical
    (document-frequency, shingle) order. The prefix-filter lemma: two
    sets with Jaccard >= t overlap in >= ceil(t/(1+t) * (|A|+|B|))
    elements, so each side can drop its (t * n) most-frequent shingles
    and a qualifying pair still collides on some indexed shingle.

    Why this is the 100 TB shape: the plain inverted index posts EVERY
    shingle occurrence, and its cost concentrates in the hottest posting
    lists (template boilerplate, stopword shingles) whose pair expansion
    is quadratic in list length. Prefix filtering deletes exactly those
    lists — a hot shingle is almost never among a document's rarest — so
    posting volume drops by ~t and the quadratic heads disappear. A
    length filter (|smaller| >= t * |larger|) prunes candidates further
    before verification. Costs one extra shuffle pair (global
    document-frequency count + re-group); wins whenever posting-list
    skew, not shuffle count, is the bottleneck — i.e. at scale.

    Exactness makes it fully oracle-checkable: output must EQUAL the
    inverted-index form's, and the declared query shares its SQL oracle.
    """
    base = docs.select(F.col(id_col).alias("_id"), tokens(text_col).alias("toks")).select(
        "_id", word_shingles("toks", ngram).alias("shingles")
    )
    # Posting/order key = xxhash64(shingle): every shuffle in candidate
    # generation carries 8-byte longs instead of ~30-byte shingle strings.
    # A hash collision merges two shingles into one index entry, which can
    # only GROW hashed intersections (hashed-Jaccard >= real Jaccard), so
    # candidates remain a superset of all qualifying pairs and the exact
    # verification below keeps the output exact.
    exploded = base.select(
        "_id",
        F.size("shingles").alias("_n"),
        F.explode(F.expr("transform(shingles, s -> xxhash64(s))")).alias("h"),
    )
    dfreq = exploded.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    # canonical rare-first order per doc, then keep the prefix
    ranked = (
        exploded.join(dfreq, "h")
        .groupBy("_id", "_n")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "h"))).alias("ordered"))
        .select(
            "_id",
            "_n",
            F.expr(
                f"slice(ordered, 1, cast(floor((1 - {threshold}) * _n) + 1 as int))"
            ).alias("prefix"),
        )
    )
    pre = ranked.select("_id", "_n", F.explode("prefix.h").alias("h"))
    buckets = (
        pre.groupBy("h")
        .agg(F.collect_list(F.struct("_id", "_n")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pair_expr = (
        "flatten(transform(ms, (x, i) ->"
        " transform(slice(ms, i + 2, size(ms)), y ->"
        " CASE WHEN x._id < y._id"
        " THEN struct(x._id as id_a, y._id as id_b, x._n as na, y._n as nb)"
        " ELSE struct(y._id as id_a, x._id as id_b, y._n as na, x._n as nb)"
        " END)))"
    )
    cand = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b", "p.na", "p.nb")
        # length filter: Jaccard >= t forces |smaller| >= t * |larger|
        .filter(F.least("na", "nb") >= threshold * F.greatest("na", "nb"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    verified = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def pair_expansion_expr() -> str:
    """SQL expression expanding an ``ids`` array into all unordered
    candidate pairs (struct<id_a, id_b>). Apply AFTER
    ``capped_window_slices_expr`` when an occupancy cap is in force, so
    the largest single materialized array is C(cap, 2) structs."""
    return (
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)), y ->"
        " struct(least(x, y) as id_a, greatest(x, y) as id_b))))"
    )


def capped_window_slices_expr(max_bucket: int | None) -> str:
    """SQL expression turning a sorted ``ids`` array into an ARRAY OF
    WINDOW ARRAYS — the LSH occupancy guard.

    Buckets at or under ``max_bucket`` pass through whole
    (``array(ids)``). Oversized buckets (degenerate band keys:
    verbatim-copy cliques, boilerplate shingle sets — all-pairs is
    QUADRATIC and was measured at 78 GB spill/DNF on a 100× composed
    fixture) are CHUNKED into overlapping windows of ``max_bucket``
    sorted ids with stride ``max_bucket - 1``: all-pairs within each
    window, adjacent windows sharing one chaining element. Candidate
    volume stays LINEAR in bucket size (≈ n·cap/2 pairs), every member
    pairs with ~cap-1 neighbors (not a single hub, the recall flaw of
    the round-7 star expansion), and the chain keeps downstream
    connected components spanning the whole bucket. Residual contract:
    a pair straddling a window boundary is emitted only if it
    co-collides in another band/table — that loss is bounded by the
    window width and disappears under any component pass.

    Callers explode the WINDOWS first and pair-expand each window row
    separately (``pair_expansion_expr``): a 30k-id degenerate bucket
    then materializes ~30 independent ≤C(cap,2) arrays across rows
    instead of one ~15M-struct value (measured: a single 243 MB
    allocation → GCLocker heap death at 1M vectors). Callers must
    ``array_sort`` ids first when a cap is set (deterministic windows).
    ``None`` keeps exact all-pairs (the oracle-twin setting).
    """
    if max_bucket is None:
        return "array(ids)"
    cap = int(max_bucket)
    if cap < 2:
        raise ValueError(f"max_bucket must be >= 2, got {cap}")
    stride = cap - 1
    chunked = (
        "transform(sequence(0,"
        f" CAST(ceil((size(ids) - 1) / CAST({stride} AS DOUBLE)) AS INT) - 1),"
        f" j -> slice(ids, j * {stride} + 1, {cap}))"
    )
    return f"CASE WHEN size(ids) > {cap} THEN {chunked} ELSE array(ids) END"


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.2,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + banded-LSH near-dup pairs, exact-Jaccard verified.

    Candidate pairs come from band-bucket collisions (near-linear); the
    exact Jaccard check on candidates removes false positives, so output
    precision is exact and only recall is probabilistic (tuned by
    bands/rows-per-band around the threshold knee).

    ``max_bucket`` is the occupancy guard (standard LSH skew control):
    oversized degenerate buckets expand via overlapping capped windows
    instead of quadratic all-pairs — see
    ``capped_window_slices_expr`` + ``pair_expansion_expr`` for the full contract (linear
    candidate volume, ~cap-1 direct neighbors per member, chained
    windows so components span the bucket). ``None`` keeps exact
    all-pairs expansion (the oracle-twin setting).
    """
    base = docs.select(F.col(id_col).alias("_id"), tokens(text_col).alias("toks")).select(
        "_id", word_shingles("toks", ngram).alias("shingles")
    )
    sigs = base.select(
        "_id", "shingles", minhash_signature("shingles", num_hashes).alias("sig")
    )
    banded = sigs.select(
        "_id",
        F.posexplode(lsh_band_keys("sig", bands)).alias("band", "key"),
    )
    # Bucket-then-combine instead of a banded self-join: the signature
    # subtree is evaluated ONCE (a self-join recomputes it per side), and
    # only doc ids — not shingle arrays — flow through the band shuffle.
    # In-bucket pair expansion is the LSH contract: bucket sizes are small
    # for non-degenerate band keys, so flatten(combinations) stays linear.
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.collect_list("_id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.withColumn("ids", F.array_sort("ids"))
    windows = buckets.select(
        F.explode(F.expr(capped_window_slices_expr(max_bucket))).alias("ids")
    )
    pairs = (
        windows.select(F.explode(F.expr(pair_expansion_expr())).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Exact-Jaccard verification joins back to the cheap shingle table
    # (tokens + shingles only — no minhash recomputation on this path).
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    verified = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of an undirected edge list → (node, component).

    The dedup-grouping step after pairwise near-dup detection: every
    document in a component is a duplicate cluster, keyed by the
    component's minimum node id (deterministic).

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): the edge set itself is
    contracted toward a star forest whose centers are the component
    minima, converging in O(log) rounds instead of min-label
    propagation's O(diameter) — sorted-neighborhood chains measured 10
    rounds at sf0.1 and grow with data; this shape stays flat.  Per
    round and per node u over the current undirected neighborhood Γ(u)
    with m = min(Γ(u) ∪ {u}):

    - LARGE-STAR rewires every neighbor LARGER than u to m (each canonical
      edge is rewritten once, through its smaller endpoint's m; output
      rows = input rows);
    - SMALL-STAR rewires u and its smaller neighbors to m (each edge is
      keyed by its larger endpoint; again rows in = rows out).

    Both steps only ever replace an edge endpoint by something ≤ it, and
    after canonicalisation every edge keeps src > dst, so the fixed point
    is exactly the star forest rooted at component minima — the same
    (node, min-id) labeling the previous min-label implementation
    produced. Convergence is detected EXACTLY: each emitted edge carries
    a "rewired?" flag and a round with zero rewires is the fixed point
    (a fixed-point round is also provably reached — each step strictly
    decreases the sum of edge endpoints until stable).

    Per-round shape: both star steps reduce to per-NODE minima (m for
    large-star; the small-star group min m2 follows from m), so a round
    is two map-side-combinable aggregations — their shuffles carry one
    row per node per map partition, never the edges — plus two equi-joins
    of the edge table against those |V|-bounded min tables. AQE picks the
    join strategy: at fixture scale the min tables broadcast and the edge
    rows NEVER shuffle inside a round; at 100 TB they become shuffled
    joins — the same two-exchanges-per-round cost as the textbook
    groupBy-emit formulation, but with the map-side combine and without
    a sort, and high-degree hubs never pass through any collected
    neighbor list (§2 skew). Lineage is truncated once per round by a
    lazy ``cut_lineage`` whose materializing action IS the convergence
    count — one Spark job per round (a session with a checkpoint
    directory writes the cut reliably first, then counts it).
    Self-loop-only nodes re-enter as
    singletons at label extraction; the input relation is consumed
    exactly once (the canonical projection is what gets checkpointed).
    """
    e0 = cut_lineage(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
    )
    loops = e0.filter(F.col("u") == F.col("v")).select("u")
    e = e0.filter(F.col("u") != F.col("v"))
    for _ in range(max_iter):
        # per-node large-star target m = min(Γ(u) ∪ {u}) over BOTH edge
        # directions: one partial-aggregated groupBy over the symmetric
        # view (the union is two scans of the checkpointed edges, not a
        # shuffle; the shuffle carries per-map-partition node minima).
        sym = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        # large-star: canonical edge (a, b), a > b, is rewritten through
        # its smaller endpoint's m to (a, m(b)) — still canonical because
        # m(b) <= b < a. chg flags a genuine rewire (m(b) != b).
        ls = e.join(
            mins.select(F.col("u").alias("v"), "m"), "v"
        ).select(
            "u",
            F.col("m").alias("v"),
            (F.col("m") != F.col("v")).alias("chg"),
        )
        # small-star: group key = the larger endpoint u of the LS output;
        # all members v < u, so the group min m2 needs no least(·, u).
        # The member row carrying the min re-emits (u, m2) — keeping u
        # attached — every other member is rewired to m2. Duplicate
        # member rows only duplicate emissions: row count is invariant
        # across rounds, never amplified.
        m2 = ls.groupBy("u").agg(F.min("v").alias("m2"))
        ss = ls.join(m2, "u").select(
            F.when(F.col("v") == F.col("m2"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("nu"),
            F.col("m2").alias("nv"),
            (F.col("chg") | (F.col("v") != F.col("m2"))).alias("chg"),
        ).select(F.col("nu").alias("u"), F.col("nv").alias("v"), "chg")
        ss = cut_lineage(ss)
        changed = ss.filter(F.col("chg")).count()
        e = ss.select("u", "v")
        if changed == 0:
            break
    # star forest -> labels: children from the edges, centers map to
    # themselves, self-loop singletons rejoin; the min-agg collapses
    # duplicate child edges (and is a no-op bystander at the fixed point).
    # Lazily checkpointed so multi-consumer callers (incremental fold,
    # representative picks) read the label TABLE, not a re-run of the
    # extraction aggregate — the same contract the min-label
    # implementation's checkpointed iterate provided.
    nodes = (
        e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("comp")))
        .union(loops.select(F.col("u").alias("node"), F.col("u").alias("comp")))
    )
    return cut_lineage(nodes.groupBy("node").agg(F.min("comp").alias("comp")))


def connected_components_incremental(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Fold a NEW edge batch into an existing (node, comp) labeling →
    updated (node, comp), identical to re-running ``connected_components``
    on the full historical-plus-new edge set.

    The historical pair graph is never rescanned: each old component is
    collapsed to its spanning STAR (node → comp edges — stars preserve
    exactly the connectivity CC needs), and ``connected_components``'
    alternating large-star/small-star rounds run on star ∪ new edges.
    Cost ∝ |labeled nodes| + |new edges| per round, and the round count
    is the O(log) of that contracted graph (stars are already fixed
    points; only the old components a batch chains together still
    contract) — at 100 TB this is the difference between a daily-batch
    fold and re-clustering the entire corpus. Output keeps the min-node-id component key, so
    labels stay stable across folds unless a merge genuinely relabels
    them.
    """
    stars = labels.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(src), F.col("comp").alias(dst)
    )
    # Isolated labeled nodes (comp == node, no star edge) re-enter via
    # new_edges if the batch touches them; if not, they stay their own
    # component — re-appended after propagation.
    combined = stars.unionByName(new_edges.select(src, dst))
    updated = connected_components(combined, src, dst, max_iter=max_iter)
    singletons = labels.filter(F.col("node") == F.col("comp")).join(
        updated.select(F.col("node").alias("_n")),
        F.col("node") == F.col("_n"),
        "left_anti",
    )
    return updated.unionByName(singletons.select("node", "comp"))


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document (near-dup via small Hamming distance)."""
    return docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks")
    ).select("doc_id", simhash64("toks").alias("simhash"))


def hamming_near_pairs(
    fingerprints: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 8,
    n_chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs of 64-bit fingerprints via chunk-blocked Hamming.

    Pigeonhole: any pair within Hamming distance ``n_chunks - 1`` shares
    at least one exact ``64 // n_chunks``-bit chunk (uncovered top bits
    from uneven division only weaken the adversary — a differing
    uncovered bit can't break chunk equality — so the ≤ n_chunks-1
    guarantee holds regardless). ``n_chunks`` therefore defaults to
    ``max_hamming + 1``: FULL recall at the requested radius — but only
    for ``max_hamming + 1 <= 16`` (64-bit fingerprints support at most
    16 chunks); a larger default would silently degrade to a distance-15
    guarantee, so it raises instead. Passing a
    smaller ``n_chunks`` explicitly trades recall for selectivity — wider chunks
    collide less, which matters for huge corpora where 7-bit chunks
    (128 bucket values) would put n/128 fingerprints in one bucket; the
    guarantee then drops to ≤ n_chunks-1 and pairs beyond it are found
    only if their flipped bits happen to leave one chunk clean.
    Bucket-then-combine (one evaluation of the fingerprint subtree, pair
    expansion inside each chunk bucket) keeps candidate generation
    near-linear; the exact ``bit_count`` check filters. Works for any
    64-bit LSH family: SimHash text fingerprints, perceptual image
    hashes (pHash/dHash), etc.
    """
    if n_chunks is None:
        if max_hamming + 1 > 16:
            raise ValueError(
                f"hamming_near_pairs: max_hamming={max_hamming} needs "
                f"{max_hamming + 1} chunks for full recall, but 64-bit "
                "fingerprints support at most 16; pass n_chunks<=16 "
                "explicitly to accept the reduced (n_chunks-1) guarantee"
            )
        n_chunks = max_hamming + 1
    bits = 64 // n_chunks
    mask = (1 << bits) - 1
    base = fingerprints.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h")
    )
    chunks = base.select(
        "_id",
        "_h",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_chunks - 1}),"
                f" c -> shiftright(_h, c * {bits}) & {mask}L)"
            )
        ).alias("chunk_idx", "chunk"),
    )
    buckets = (
        chunks.groupBy("chunk_idx", "chunk")
        .agg(F.collect_list(F.struct("_id", "_h")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pair_expr = (
        "flatten(transform(ms, (x, i) ->"
        " transform(slice(ms, i + 2, size(ms)), y ->"
        " CASE WHEN x._id < y._id"
        " THEN struct(x._id as id_a, y._id as id_b, x._h as ha, y._h as hb)"
        " ELSE struct(y._id as id_a, x._id as id_b, y._h as ha, x._h as hb)"
        " END)))"
    )
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b", "p.ha", "p.hb")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.expr("bit_count(ha ^ hb)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs via chunk blocking with full recall at
    ``max_hamming`` (see ``hamming_near_pairs``)."""
    fp = simhash_fingerprints(docs, id_col, text_col)
    return hamming_near_pairs(fp, "doc_id", "simhash", max_hamming)


# ---------------------------------------------------------------------------
# Incremental dedup against a historical fingerprint store
# ---------------------------------------------------------------------------


def document_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """Per-document dedup fingerprints: (doc_id, content_hash, n_shingles,
    sig). ``content_hash`` is xxhash64 over the whitespace-normalized
    token stream (exact-dup key); ``sig`` is the MinHash signature
    (near-dup key). This row is ~0.5 KB regardless of document size —
    the compression that makes a 100 TB corpus's dedup state a mere
    multi-GB table."""
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks")
    ).select("doc_id", "toks", word_shingles("toks", ngram).alias("shingles"))
    return base.select(
        "doc_id",
        F.xxhash64(F.array_join("toks", " ")).alias("content_hash"),
        F.size("shingles").alias("n_shingles"),
        minhash_signature("shingles", num_hashes).alias("sig"),
    )


def build_fingerprint_store(
    docs: DataFrame,
    warehouse_dir: str,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> str:
    """Materialize the corpus's dedup state as two warehouse tables:

    - ``<table>``: one fingerprint row per document;
    - ``<table>_bands``: the LSH posting table (band, key, doc_id),
      pre-exploded at BUILD time so per-batch queries never re-derive or
      re-explode the historical side.

    This is the store every incremental ingest batch dedups against —
    the alternative (rescanning the whole corpus per crawl batch) is the
    canonical 100 TB anti-pattern.
    """
    from ..io import write_warehouse_table

    fp = document_fingerprints(docs, id_col, text_col, ngram, num_hashes)
    write_warehouse_table(fp, warehouse_dir, table)
    posts = fp.select(
        "doc_id", F.posexplode(lsh_band_keys("sig", bands)).alias("band", "key")
    )
    write_warehouse_table(posts, warehouse_dir, f"{table}_bands")
    return table


def dedup_against_store(
    spark,
    new_docs: DataFrame,
    warehouse_dir: str,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Classify an ingest batch against the historical fingerprint store
    → (doc_id, status ∈ {exact_dup, near_dup, new}, match_id,
    est_jaccard).

    Scale shape — the batch is SMALL relative to the store (the
    incremental-ingest contract; batch ≈ corpus means run the full
    corpus dedup instead), so the batch side is broadcast into both
    probes and the store is only ever SCANNED, never shuffled:

    - exact: store content hashes ⋈ broadcast batch hashes;
    - near: pre-built posting table ⋈ broadcast batch band keys, then
      signature agreement (matching MinHash positions / num_hashes, an
      unbiased Jaccard estimate) against the candidate's stored
      signature; best match per doc by (est DESC, match_id).

    exact_dup takes precedence over near_dup; docs matching nothing are
    ``new``. Determinism: ties broken on match_id everywhere.
    """
    from ..io import read_warehouse_table

    store = read_warehouse_table(spark, warehouse_dir, table)
    posts = read_warehouse_table(spark, warehouse_dir, f"{table}_bands")
    fp = cut_lineage(  # probed three times below
        document_fingerprints(new_docs, id_col, text_col, ngram, num_hashes)
    )

    exact = (
        store.select("content_hash", F.col("doc_id").alias("match_id"))
        .join(F.broadcast(fp.select("doc_id", "content_hash")), "content_hash")
        .groupBy("doc_id")
        .agg(F.min("match_id").alias("match_id"))
        .withColumn("status", F.lit("exact_dup"))
        .withColumn("est_jaccard", F.lit(1.0))
    )

    new_bands = fp.select(
        "doc_id",
        "sig",
        F.posexplode(lsh_band_keys("sig", bands)).alias("band", "key"),
    )
    cand = (
        posts.withColumnRenamed("doc_id", "match_id")
        .join(F.broadcast(new_bands), ["band", "key"])
        .select("doc_id", "match_id", "sig")
        .dropDuplicates(["doc_id", "match_id"])
    )
    agree = (
        "aggregate(zip_with(sig, m_sig, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    )
    scored = (
        # candidate set is delta-scale (≤ |batch| × matched postings) —
        # broadcast it so the store-side signature fetch is again a scan,
        # not a store shuffle on match_id
        store.select(
            F.col("doc_id").alias("match_id"), F.col("sig").alias("m_sig")
        )
        .join(F.broadcast(cand), "match_id")
        .withColumn(
            "est_jaccard", F.expr(agree).cast("double") / num_hashes
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    near = dedup_exact(
        scored, ["doc_id"], [F.desc("est_jaccard"), F.asc("match_id")]
    ).select("doc_id", "match_id", "est_jaccard").withColumn(
        "status", F.lit("near_dup")
    )

    classified = exact.unionByName(
        near.join(exact.select("doc_id"), "doc_id", "left_anti"),
        allowMissingColumns=False,
    )
    return (
        fp.select("doc_id")
        .join(classified, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("status", F.lit("new")).alias("status"),
            "match_id",
            "est_jaccard",
        )
    )


def update_fingerprint_store(
    spark,
    docs: DataFrame,
    warehouse_dir: str,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> str:
    """Fold a batch's fingerprints into the store (upsert by doc_id on
    the doc table; (doc_id, band) on the posting table). Cost ∝ |batch|
    + touched rows — the MERGE machinery's delta contract, never a store
    rewrite. Typical flow: ``dedup_against_store`` → keep status='new'
    rows → update the store with exactly those."""
    from ..io import merge_warehouse_table

    fp = document_fingerprints(docs, id_col, text_col, ngram, num_hashes)
    merge_warehouse_table(
        spark, fp, warehouse_dir, table, keys=["doc_id"], order=["content_hash"]
    )
    posts = fp.select(
        "doc_id", F.posexplode(lsh_band_keys("sig", bands)).alias("band", "key")
    )
    merge_warehouse_table(
        spark,
        posts,
        warehouse_dir,
        f"{table}_bands",
        keys=["doc_id", "band"],
        order=["key"],
    )
    return table


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment |A∩B| / |A| — the
    sub-document-inclusion test (a quote, a mirrored section, a doc
    embedded in a digest) that Jaccard misses when the containing
    document is much larger. Same bucket-then-combine inverted index as
    ``ngram_jaccard_pairs`` (one shuffle on the shingle key, posting-list
    pair expansion); emits BOTH directions, each with its own score,
    filtered at ``threshold``. Returns (id_a, id_b, containment) where
    containment = |shingles(a) ∩ shingles(b)| / |shingles(a)|.
    """
    sh = (
        docs.select(F.col(id_col).alias("_id"), tokens(text_col).alias("toks"))
        .select("_id", word_shingles("toks", ngram).alias("shingles"))
        .select(
            "_id", F.size("shingles").alias("_n"), F.explode("shingles").alias("s")
        )
    )
    buckets = (
        sh.groupBy("s")
        .agg(F.collect_list(F.struct("_id", "_n")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pair_expr = (
        "flatten(transform(ms, (x, i) ->"
        " transform(slice(ms, i + 2, size(ms)), y ->"
        " CASE WHEN x._id < y._id"
        " THEN struct(x._id as lo, y._id as hi, x._n as nlo, y._n as nhi)"
        " ELSE struct(y._id as lo, x._id as hi, y._n as nlo, x._n as nhi)"
        " END)))"
    )
    common = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.lo", "p.hi", "p.nlo", "p.nhi")
        .groupBy("lo", "hi", "nlo", "nhi")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fwd = common.select(
        F.col("lo").alias("id_a"), F.col("hi").alias("id_b"),
        (F.col("c").cast("double") / F.col("nlo")).alias("containment"),
    )
    rev = common.select(
        F.col("hi").alias("id_a"), F.col("lo").alias("id_b"),
        (F.col("c").cast("double") / F.col("nhi")).alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)
