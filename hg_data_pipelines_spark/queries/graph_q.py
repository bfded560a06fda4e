"""Graph-analytics queries (SURVEY.md X11): PageRank over the k-NN graph.

The k-NN graph (each embedding → its 3 nearest cosine neighbors) is the
standard similarity backbone for corpus curation: rank mass flows toward
documents many others point at, marking cluster centers / canonical
copies. The declared query runs fixed-point (scaled-BIGINT) PageRank —
see ``operators/graph.py`` — so the iterative result is bit-identical on
any engine and the DuckDB oracle is an exact hash match, something a
float PageRank cannot promise.

The oracle unrolls the Spark-side iteration loop as chained CTEs: one
``s{i}`` (in-neighbor contribution sum) + ``r{i}`` (damped update) pair
per iteration, all in ``//`` integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.graph import SCALE, pagerank_fixed_point
from ..operators.similarity import knn_graph_blocked
from ..session import cut_lineage
from .common import load, query
from .similarity import _KNN_K, _SQL_COSINE

_PR_ITER = 4


def _pagerank_oracle(
    n_iter: int = _PR_ITER, k: int = _KNN_K, edges_with: str | None = None
) -> str:
    if edges_with is None:
        edges_with = f"""
    WITH edges AS MATERIALIZED (
        SELECT q.vec_id AS src, c.vec_id AS dst
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.vec_id ORDER BY {_SQL_COSINE} DESC, c.vec_id
        ) <= {k}
    )"""
    parts = [
        edges_with
        + f""", nodes AS MATERIALIZED (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), nn AS (
        SELECT COUNT(*) AS n FROM nodes
    ), deg AS MATERIALIZED (
        SELECT src, COUNT(*) AS d FROM edges GROUP BY src
    ), r0 AS (
        SELECT node, ({SCALE} // nn.n) AS r FROM nodes CROSS JOIN nn
    )"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", s{i} AS (
        SELECT e.dst, CAST(SUM(r.r // deg.d) AS BIGINT) AS s
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.node
        JOIN deg ON e.src = deg.src
        GROUP BY e.dst
    ), r{i} AS (
        SELECT n.node,
               ((15 * ({SCALE} // nn.n)) // 100)
               + (85 * COALESCE(s{i}.s, 0)) // 100 AS r
        FROM nodes n
        CROSS JOIN nn
        LEFT JOIN s{i} ON n.node = s{i}.dst
    )"""
        )
    parts.append(f"\n    SELECT node, r AS rank_scaled FROM r{n_iter}")
    return "".join(parts)


@query("X11_pagerank_knn", _pagerank_oracle())
def pagerank_knn(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings", scan_parallel="vector")
    edges = knn_graph_blocked(emb, k=_KNN_K).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return pagerank_fixed_point(edges, n_iter=_PR_ITER)


@query("X11_pagerank_ann")
def pagerank_ann(spark, sf_dir):
    """Scale-path sibling of X11_pagerank_knn: the IDENTICAL fixed-point
    PageRank over RHP-LSH-bucketed kNN edges (``lsh_topk``) instead of
    the exact O(n²) graph. The exact sibling exists to give the hash
    oracle a reproducible edge set; at 100 TB this is the form you run —
    edge derivation cost is |bucket collisions|, not |V|². Rows-only
    (xxhash64 hyperplanes aren't reproducible in DuckDB); pytest pins
    top-rank overlap against the exact sibling on the fixture, and
    tools/scale_smoke.py measures its 10× ratio next to the exact
    form's.

    Plane count scales with the corpus (``auto_planes``): a fixed plane
    count makes bucket occupancy — and the candidate join — grow
    quadratically with n. The count() is one bounded driver job over an
    already-required scan.
    """
    from ..operators.similarity import auto_planes, lsh_topk

    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    planes = auto_planes(emb.count())
    edges = lsh_topk(emb, emb, k=_KNN_K, n_planes=planes, n_tables=16).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return pagerank_fixed_point(edges, n_iter=_PR_ITER)


def _pagerank_ann_portable_oracle() -> str:
    from .similarity import _portable_lsh_cands_sql

    edges_with = f"""
    WITH {_portable_lsh_cands_sql()}, edges AS MATERIALIZED (
        SELECT ca.query_id AS src, ca.neighbor_id AS dst
        FROM cands ca
        JOIN embeddings q ON q.vec_id = ca.query_id
        JOIN embeddings c ON c.vec_id = ca.neighbor_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY ca.query_id ORDER BY {_SQL_COSINE} DESC, ca.neighbor_id
        ) <= {_KNN_K}
    )"""
    return _pagerank_oracle(edges_with=edges_with)


@query("X11_pagerank_ann_portable", _pagerank_ann_portable_oracle())
def pagerank_ann_portable(spark, sf_dir):
    """Fully oracle-checked ANN PageRank: fixed-point PageRank over
    PORTABLE-LSH kNN edges. The md5/fixed-point RHP bucketing
    (``_rhp_signature_portable``) lets DuckDB replay the exact buckets →
    exact candidate set → exact edge set → exact integer PageRank, so the
    whole approximate pipeline is hash-checked end to end — the edge
    derivation of X11_pagerank_ann is no longer trust-me. Plane/table
    counts are FIXED to the static oracle (see
    ``X3_cosine_topk_lsh_portable``); the production sibling keeps
    ``auto_planes`` + xxhash64."""
    from ..operators.similarity import lsh_topk
    from .similarity import _LSH_PORTABLE_PLANES, _LSH_PORTABLE_TABLES

    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    edges = lsh_topk(
        emb,
        emb,
        k=_KNN_K,
        n_planes=_LSH_PORTABLE_PLANES,
        n_tables=_LSH_PORTABLE_TABLES,
        portable=True,
    ).select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))
    return pagerank_fixed_point(edges, n_iter=_PR_ITER)


# --------------------------------------------------------------------------
# SQL surface: Spark 4 recursive CTEs. The SAME recursive shape runs on
# both engines — bounded-depth BFS reachability from the lowest vec_id
# over the k-NN graph. Exact integer depths, so no float discipline
# needed; only the cosine inside the edge derivation needs the usual
# 6dp-rounded ordering. Path count is bounded by out-degree^max_depth
# (k=3, depth<=4 → ≤81 paths per expansion), the standard guard for
# recursive traversals without a visited-set.
# --------------------------------------------------------------------------

_REACH_DEPTH = 4

_SPARK_COSINE = """
    round(
        aggregate(zip_with(q.embedding, c.embedding,
                           (x, y) -> cast(x as double) * cast(y as double)),
                  cast(0.0 as double), (acc, v) -> acc + v)
        / sqrt(aggregate(zip_with(q.embedding, q.embedding,
                                  (x, y) -> cast(x as double) * cast(y as double)),
                         cast(0.0 as double), (acc, v) -> acc + v)
             * aggregate(zip_with(c.embedding, c.embedding,
                                  (x, y) -> cast(x as double) * cast(y as double)),
                         cast(0.0 as double), (acc, v) -> acc + v)),
        6)
"""


def _reachability_sql(
    cosine: str, k: int = _KNN_K, depth: int = _REACH_DEPTH, mat: str = ""
) -> str:
    # ``mat=" MATERIALIZED"`` for the DuckDB oracle: the recursive walk
    # references ``edges`` per iteration, and without materialization
    # DuckDB re-derives the O(n²) k-NN subquery each time (OOM at 10×
    # fixture scale). Spark has no MATERIALIZED keyword and handles reuse
    # via its own plan, so the Spark variant passes the default "".
    return f"""
    WITH RECURSIVE edges AS{mat} (
        SELECT src, dst FROM (
            SELECT q.vec_id AS src, c.vec_id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id ORDER BY {cosine} DESC, c.vec_id
                   ) AS rnk
            FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        ) ranked WHERE rnk <= {k}
    ), seed AS (
        SELECT MIN(vec_id) AS node FROM embeddings
    ), walk(node, depth) AS (
        SELECT node, 0 FROM seed
        UNION ALL
        SELECT e.dst, w.depth + 1
        FROM walk w JOIN edges e ON w.node = e.src
        WHERE w.depth < {depth}
    )
    SELECT node, MIN(depth) AS hops, COUNT(*) AS n_paths
    FROM walk GROUP BY node
    """


@query(
    "SQL_recursive_reachability",
    _reachability_sql(_SQL_COSINE, mat=" MATERIALIZED"),
)
def recursive_reachability(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    emb.createOrReplaceTempView("embeddings")
    return spark.sql(_reachability_sql(_SPARK_COSINE))


# --------------------------------------------------------------------------
# X11: triangle counting over the undirected k-NN graph — the clustering
# -coefficient primitive. The standard scalable shape: orient every edge
# low→high (kills the permutation triple-count AND caps the join fan-out
# by each node's forward-degree), join oriented edges on the middle
# vertex, then close the wedge with a semi-join back to the edge set.
# Exact integer output; identical SQL on both engines.
# --------------------------------------------------------------------------

_TRI_SQL = f"""
    WITH knn AS (
        SELECT q.vec_id AS src, c.vec_id AS dst
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.vec_id ORDER BY {_SQL_COSINE} DESC, c.vec_id
        ) <= {_KNN_K}
    ), und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM knn
    )
    SELECT COUNT(*) AS n_triangles FROM und e1
    JOIN und e2 ON e1.b = e2.a
    WHERE EXISTS (
        SELECT 1 FROM und e3 WHERE e3.a = e1.a AND e3.b = e2.b
    )
"""


@query("X11_triangle_count", _TRI_SQL)
def triangle_count(spark, sf_dir):
    # triangle_total lineage-truncates the k-NN edge derivation so the
    # O(n²) top-k subtree computes once, not once per edge reference
    # (the census pair got the same fix in round 8; this collapses the
    # plan from 16 shuffles to the census's ~5). The total is
    # orientation-invariant, so the raw-id-order oracle still matches.
    from ..operators.graph import triangle_total

    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    knn = knn_graph_blocked(emb, k=_KNN_K).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    und = knn.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    return triangle_total(und, degree_ordered=True)


# --------------------------------------------------------------------------
# X11: bounded-hop weighted single-source shortest paths over the k-NN
# graph, edge weight = cosine distance in scaled-BIGINT fixed point
# (round((1 - cosine) · 10^6)) — exact integer path sums, so the
# Bellman–Ford Spark run (operators/graph.py::shortest_paths_bounded)
# hash-matches a DuckDB recursive walk enumeration bit-for-bit. The walk
# oracle is exponential in depth (k^D paths — fine for k=3, D=4); the
# Spark side is the linear-per-round relaxation you would actually run
# at 100 TB.
# --------------------------------------------------------------------------

_SSSP_DEPTH = 4
_W_SCALE = 10**6


def _sssp_sql(k: int = _KNN_K, depth: int = _SSSP_DEPTH) -> str:
    return f"""
    WITH RECURSIVE edges AS MATERIALIZED (
        SELECT src, dst,
               CAST(round((1 - cos) * {_W_SCALE}) AS BIGINT) AS w
        FROM (
            SELECT q.vec_id AS src, c.vec_id AS dst, {_SQL_COSINE} AS cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id ORDER BY {_SQL_COSINE} DESC, c.vec_id
                   ) AS rnk
            FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        ) ranked WHERE rnk <= {k}
    ), seed AS (
        SELECT MIN(vec_id) AS node FROM embeddings
    ), walk(node, dist, depth) AS (
        SELECT node, CAST(0 AS BIGINT), 0 FROM seed
        UNION ALL
        SELECT e.dst, w.dist + e.w, w.depth + 1
        FROM walk w JOIN edges e ON w.node = e.src
        WHERE w.depth < {depth}
    )
    SELECT node, MIN(dist) AS dist_scaled
    FROM walk GROUP BY node
    """


@query("X11_sssp_knn", _sssp_sql())
def sssp_knn(spark, sf_dir):
    from ..operators.graph import shortest_paths_bounded

    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    edges = knn_graph_blocked(emb, k=_KNN_K).select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        F.round((1 - F.col("cosine")) * _W_SCALE)
        .cast("bigint")
        .alias("w"),
    )
    source = emb.agg(F.min("vec_id")).first()[0]  # bounded 1-scalar collect
    return shortest_paths_bounded(edges, source, rounds=_SSSP_DEPTH)


# --------------------------------------------------------------------------
# X11: personalized PageRank over the k-NN graph — teleport restarts only
# at the 3 lowest vec_ids, so rank concentrates in the seeds'
# neighborhoods (the related-document retrieval / seed-expansion score).
# Same scaled-BIGINT exactness as X11_pagerank_knn; the oracle unrolls
# the iteration with a seed-membership CASE in the teleport term.
# --------------------------------------------------------------------------

_PPR_SEEDS = 3


def _ppr_oracle(n_iter: int = _PR_ITER, k: int = _KNN_K) -> str:
    parts = [
        f"""
    WITH edges AS MATERIALIZED (
        SELECT q.vec_id AS src, c.vec_id AS dst
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.vec_id ORDER BY {_SQL_COSINE} DESC, c.vec_id
        ) <= {k}
    ), nodes AS MATERIALIZED (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), seeds AS (
        SELECT vec_id AS node FROM embeddings WHERE vec_id < {_PPR_SEEDS}
    ), ns AS (
        SELECT COUNT(*) AS n FROM seeds
    ), nodes_s AS MATERIALIZED (
        SELECT n.node,
               CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
        FROM nodes n LEFT JOIN seeds s ON n.node = s.node
    ), deg AS MATERIALIZED (
        SELECT src, COUNT(*) AS d FROM edges GROUP BY src
    ), r0 AS (
        SELECT node,
               CASE WHEN is_seed = 1 THEN ({SCALE} // ns.n) ELSE 0 END AS r
        FROM nodes_s CROSS JOIN ns
    )"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", s{i} AS (
        SELECT e.dst, CAST(SUM(r.r // deg.d) AS BIGINT) AS s
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.node
        JOIN deg ON e.src = deg.src
        GROUP BY e.dst
    ), r{i} AS (
        SELECT n.node,
               CASE WHEN n.is_seed = 1
                    THEN ((15 * ({SCALE} // ns.n)) // 100) ELSE 0 END
               + (85 * COALESCE(s{i}.s, 0)) // 100 AS r
        FROM nodes_s n
        CROSS JOIN ns
        LEFT JOIN s{i} ON n.node = s{i}.dst
    )"""
        )
    parts.append(f"\n    SELECT node, r AS rank_scaled FROM r{n_iter}")
    return "".join(parts)


@query("X11_personalized_pagerank", _ppr_oracle())
def personalized_pagerank_knn(spark, sf_dir):
    from ..operators.graph import personalized_pagerank_fixed_point

    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    edges = knn_graph_blocked(emb, k=_KNN_K).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    seeds = emb.filter(F.col("vec_id") < _PPR_SEEDS).select(
        F.col("vec_id").alias("node")
    )
    return personalized_pagerank_fixed_point(edges, seeds, n_iter=_PR_ITER)


# --------------------------------------------------------------------------
# X11 (cont.): k-core peel over the near-dup pair graph — the density
# filter that strips dangling pairs (degree-1 chains) before duplicate-
# cluster analysis, keeping only cohesive groups where every member has
# ≥ k near-dup neighbors. Fixed 4-round peel (unrollable → exact oracle);
# pytest asserts the fixture converges within the budget, so the result
# is the true 2-core. Each round is one degree aggregation + two
# key-partitioned semi-joins — no step sees more than the live edge set.
# --------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    from .dedup import _JACCARD_THRESHOLD, _SQL_SHINGLES

    parts = [
        _SQL_SHINGLES
        + f"""
    , cpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
               COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ), good AS (
        SELECT id_a, id_b FROM cpairs
        WHERE CAST(c AS DOUBLE) / (na + nb - c) >= {_JACCARD_THRESHOLD}
    ), e0 AS (
        SELECT id_a AS src, id_b AS dst FROM good
        UNION ALL
        SELECT id_b, id_a FROM good
    )"""
    ]
    for r in range(rounds):
        parts.append(
            f""", d{r} AS (
        SELECT src, COUNT(*) AS deg FROM e{r} GROUP BY src
    ), k{r} AS (
        SELECT src FROM d{r} WHERE deg >= {k}
    ), e{r + 1} AS (
        SELECT e.src, e.dst FROM e{r} e
        JOIN k{r} ks ON e.src = ks.src
        JOIN k{r} kd ON e.dst = kd.src
    )"""
        )
    parts.append(
        f"""
    SELECT src AS node, COUNT(*) AS degree FROM e{rounds} GROUP BY src
    """
    )
    return "".join(parts)


@query("X11_kcore_neardup", _kcore_oracle())
def kcore_neardup(spark, sf_dir):
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graph import kcore_peel
    from .dedup import _JACCARD_THRESHOLD

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    pairs = ngram_jaccard_pairs(docs, threshold=_JACCARD_THRESHOLD).select(
        "id_a", "id_b"
    )
    return kcore_peel(pairs, k=_KCORE_K, rounds=_KCORE_ROUNDS)


# --------------------------------------------------------------------------
# X11: triangle counting over the k-NN similarity graph — the graph-motif
# census (local clustering signal): a document whose neighbors are also
# neighbors of EACH OTHER sits inside a dense semantic cluster, while
# triangle-free nodes are bridges/outliers. Standard distributed shape:
# canonicalize the directed kNN edges to undirected a<b pairs, then the
# two-join ordered-wedge closure (a<b<c: (a,b)⋈(b,c) probe (a,c)) — each
# triangle is produced exactly once, join keys are node ids, no motif
# enumerated twice. At 100 TB the canonical refinement is degree-ordered
# orientation (order by (degree, id) instead of raw id) which bounds
# wedge fan-out by arboricity; id order is the fixture-faithful oracle
# form on the bounded-degree kNN graph (out-degree = k).
# Per-node participation counts via one explode + hash aggregation.
# --------------------------------------------------------------------------


def _triangle_oracle() -> str:
    return f"""
    WITH dir_edges AS MATERIALIZED (
        SELECT q.vec_id AS src, c.vec_id AS dst
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.vec_id ORDER BY {_SQL_COSINE} DESC, c.vec_id
        ) <= {_KNN_K}
    ), und AS MATERIALIZED (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM dir_edges
    ), tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM und e1 JOIN und e2 ON e1.b = e2.a
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ), member AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY node
    """


@query("X11_triangle_counts", _triangle_oracle())
def triangle_counts(spark, sf_dir):
    from ..operators.graph import triangle_census

    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    dir_edges = knn_graph_blocked(emb, k=_KNN_K).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    und = (
        dir_edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    # id order keeps the census literally the oracle SQL's shape; the
    # ANN sibling below runs the degree-ordered production form.
    return triangle_census(und, degree_ordered=False)


@query("X11_triangle_counts_ann")
def triangle_counts_ann(spark, sf_dir):
    """Scale-path sibling of X11_triangle_counts: the triangle census
    over RHP-LSH-bucketed kNN edges (``lsh_topk`` + ``auto_planes``)
    instead of the exact O(n²) graph — the same exact-twin/ANN-sibling
    split as X11_pagerank_knn / X11_pagerank_ann. Unlike the id-ordered
    exact twin, edges here are DEGREE-ordered before the wedge join
    (orient low→high by (degree, id)): a hub of degree d contributes
    wedges quadratic in its OUT-degree, which degree orientation bounds
    by O(sqrt(m)) (arboricity) instead of d — the 100 TB refinement the
    exact twin's docstring notes. Per-node participation counts are
    orientation-invariant, so the output is identical. Rows-only
    (xxhash64 hyperplanes aren't DuckDB-reproducible); pytest pins
    participant-node overlap against the exact census on the fixture,
    and tools/scale_smoke.py measures the 10× ratio next to the exact
    form's."""
    from ..operators.graph import triangle_census
    from ..operators.similarity import auto_planes, lsh_topk

    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    planes = auto_planes(emb.count())
    dir_edges = lsh_topk(
        emb, emb, k=_KNN_K, n_planes=planes, n_tables=16
    ).select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))
    und = (
        dir_edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    return triangle_census(und, degree_ordered=True)


# --------------------------------------------------------------------------
# X11: synchronous label propagation (Raghavan et al. 2007) over the
# undirected k-NN graph — community detection for near-dup/topic islands
# where connected components are too coarse (everything k-NN-connected
# collapses to one component) and modularity methods don't distribute.
# The deterministic variant: all nodes simultaneously adopt the most
# frequent neighbor label, ties to the LOWEST label — exact integer
# counts + a total order, so the unrolled CTE states every round
# bit-identically. Spark shape: Θ(|E|) per round, one node-keyed shuffle
# each, edge set lineage-truncated once (operators/graph.py).
# --------------------------------------------------------------------------

_LPA_ITERS = 3


def _lpa_sql(iters: int = _LPA_ITERS, materialized: bool = False) -> str:
    # materialized=True pins und/dir (and so the O(n^2) kNN derivation)
    # to a single evaluation — required by consumers that reference the
    # edge set several times downstream (X11_modularity_report: degrees,
    # edge count, intra-community joins), where plain CTEs re-execute
    # the quadratic chain per reference and OOM DuckDB at sf0.1.
    mat = "MATERIALIZED " if materialized else ""
    q = f"""
    WITH knn AS (
        SELECT q.vec_id AS src, c.vec_id AS dst
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.vec_id ORDER BY {_SQL_COSINE} DESC, c.vec_id
        ) <= {_KNN_K}
    ), und AS {mat}(
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM knn
    ), dir AS {mat}(
        SELECT a AS node, b AS nbr FROM und
        UNION ALL
        SELECT b AS node, a AS nbr FROM und
    ),
    l0 AS (SELECT DISTINCT node, node AS label FROM dir),
    """
    for t in range(iters):
        q += f"""
    c{t} AS (
        SELECT d.node, l.label, COUNT(*) AS cnt
        FROM dir d JOIN l{t} l ON d.nbr = l.node
        GROUP BY d.node, l.label
    ),
    l{t + 1} AS (
        SELECT node, label FROM (
            SELECT node, label, ROW_NUMBER() OVER (
                PARTITION BY node ORDER BY cnt DESC, label
            ) AS rn FROM c{t}
        ) WHERE rn = 1
    ),
    """
    q = q.rstrip().rstrip(",")
    return q + f" SELECT node, label FROM l{iters}"


@query("X11_label_propagation", _lpa_sql())
def label_propagation_query(spark, sf_dir):
    # Edges from the pivot-pruned BLOCKED exact search (round 10): the
    # oracle stays the full quadratic kNN CTE, so the hash match proves
    # the metric-space pruning dropped no edge — the J15 proven-complete
    # pattern lifted to cosine space. The verification anchor itself now
    # scales ~n^1.5 instead of n^2.
    from ..operators.graph import label_propagation

    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    knn = knn_graph_blocked(emb, k=_KNN_K).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    und = knn.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    return label_propagation(und, iters=_LPA_ITERS)


def _lpa_ann_portable_sql(iters: int = _LPA_ITERS) -> str:
    from .similarity import _portable_lsh_cands_sql

    q = f"""
    WITH {_portable_lsh_cands_sql()}, knn AS MATERIALIZED (
        SELECT ca.query_id AS src, ca.neighbor_id AS dst
        FROM cands ca
        JOIN embeddings q ON q.vec_id = ca.query_id
        JOIN embeddings c ON c.vec_id = ca.neighbor_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY ca.query_id ORDER BY {_SQL_COSINE} DESC, ca.neighbor_id
        ) <= {_KNN_K}
    ), und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM knn
    ), dir AS (
        SELECT a AS node, b AS nbr FROM und
        UNION ALL
        SELECT b AS node, a AS nbr FROM und
    ),
    l0 AS (SELECT DISTINCT node, node AS label FROM dir),
    """
    for t in range(iters):
        q += f"""
    c{t} AS (
        SELECT d.node, l.label, COUNT(*) AS cnt
        FROM dir d JOIN l{t} l ON d.nbr = l.node
        GROUP BY d.node, l.label
    ),
    l{t + 1} AS (
        SELECT node, label FROM (
            SELECT node, label, ROW_NUMBER() OVER (
                PARTITION BY node ORDER BY cnt DESC, label
            ) AS rn FROM c{t}
        ) WHERE rn = 1
    ),
    """
    q = q.rstrip().rstrip(",")
    return q + f" SELECT node, label FROM l{iters}"


@query("X11_label_propagation_ann_portable", _lpa_ann_portable_sql())
def label_propagation_ann_portable(spark, sf_dir):
    """The LPA scale path, fully hash-checked: the SAME deterministic
    synchronous label propagation over PORTABLE-LSH kNN edges instead of
    the exact O(n²) graph — DuckDB replays the md5/fixed-point RHP
    buckets → exact candidate set → exact edge set → exact integer LPA
    rounds, so community detection composed with approximate edge
    derivation is oracle-checked end to end (the same closure
    X11_pagerank_ann_portable gives PageRank). At 100 TB this is the
    form you run: edge cost = bucket collisions, not |V|²."""
    from ..operators.graph import label_propagation
    from ..operators.similarity import lsh_topk
    from .similarity import _LSH_PORTABLE_PLANES, _LSH_PORTABLE_TABLES

    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    knn = lsh_topk(
        emb, emb, k=_KNN_K,
        n_planes=_LSH_PORTABLE_PLANES,
        n_tables=_LSH_PORTABLE_TABLES,
        portable=True,
    ).select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))
    und = knn.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    return label_propagation(und, iters=_LPA_ITERS)


# --------------------------------------------------------------------------
# X11: community MODULARITY report — the quality measurement for the LPA
# communities above (Newman's Q, the standard partition-quality metric).
# Per community c: q_term = e_c/m - (d_c/2m)^2 with e_c intra-community
# edges, d_c degree mass, m total undirected edges — computed as the
# all-integer numerator (4·m·e_c - d_c²) over 4·m², one double division
# rounded to micro units, so both engines agree exactly. The oracle
# replays the kNN edge derivation, all three LPA rounds, AND the
# modularity arithmetic. Scale: degrees and intra-edge counts are one
# key-shuffle each over the (lineage-truncated) edge set — measurement
# costs no more than one LPA round.
# --------------------------------------------------------------------------


def _modularity_oracle() -> str:
    base = _lpa_sql(materialized=True)
    tail = f" SELECT node, label FROM l{_LPA_ITERS}"
    assert base.endswith(tail)
    # MATERIALIZED is load-bearing: lab is referenced three times below
    # and without it DuckDB re-executes the whole O(n^2) kNN + LPA chain
    # per reference (observed: OOM at sf0.1 — the exact failure mode the
    # verify notes warn about)
    return base[: -len(tail)] + f""",
    lab AS MATERIALIZED (SELECT node, label FROM l{_LPA_ITERS}),
    mm AS MATERIALIZED (SELECT COUNT(*) AS m FROM und),
    deg AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM dir GROUP BY node),
    comm AS (
        SELECT l.label AS community, COUNT(*) AS n_nodes,
               CAST(SUM(deg.d) AS BIGINT) AS degree_sum
        FROM lab l JOIN deg ON deg.node = l.node
        GROUP BY l.label
    ),
    intra AS (
        SELECT la.label AS community, COUNT(*) AS e_in
        FROM und
        JOIN lab la ON la.node = und.a
        JOIN lab lb ON lb.node = und.b
        WHERE la.label = lb.label
        GROUP BY la.label
    )
    SELECT c.community, c.n_nodes,
           CAST(COALESCE(i.e_in, 0) AS BIGINT) AS intra_edges,
           c.degree_sum,
           CAST(ROUND((1000000.0 * (4 * mm.m * COALESCE(i.e_in, 0)
                                    - c.degree_sum * c.degree_sum))
                      / (4.0 * mm.m * mm.m)) AS BIGINT) AS q_term_micro
    FROM comm c LEFT JOIN intra i ON i.community = c.community
    CROSS JOIN mm
    """


@query("X11_modularity_report", _modularity_oracle())
def modularity_report(spark, sf_dir):
    # Blocked exact kNN edges (see X11_label_propagation) — quadratic
    # oracle, ~n^1.5 Spark side, hash-proven complete.
    from ..operators.graph import label_propagation

    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    knn = knn_graph_blocked(emb, k=_KNN_K).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    und = cut_lineage(  # shared by LPA, degrees, intra
        knn.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        ).distinct(),
        eager=True,
    )
    lab = label_propagation(und, iters=_LPA_ITERS)
    dirr = und.select(F.col("a").alias("node")).unionByName(
        und.select(F.col("b").alias("node"))
    )
    deg = dirr.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    mm = und.agg(F.count(F.lit(1)).alias("m"))
    comm = (
        lab.join(deg, "node")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").cast("bigint").alias("degree_sum"),
        )
    )
    la = lab.select(F.col("node").alias("a"), F.col("label").alias("la"))
    lb = lab.select(F.col("node").alias("b"), F.col("label").alias("lb"))
    intra = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    out = (
        comm.join(intra, "community", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            "community",
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).cast("bigint").alias("intra_edges"),
            "degree_sum",
            F.round(
                (
                    F.lit(1000000.0)
                    * (
                        4 * F.col("m") * F.coalesce("e_in", F.lit(0))
                        - F.col("degree_sum") * F.col("degree_sum")
                    )
                )
                / (F.lit(4.0) * F.col("m") * F.col("m"))
            )
            .cast("bigint")
            .alias("q_term_micro"),
        )
    )
    return out
