"""The benchmark workloads: inputs, the timed unit, and the output check.

``facade``   one ``run_pipeline("street_level_grouping")`` call per unit.
``queries``  one pass over the frozen-13 query list per unit, each query
             built with ``QUERIES[name](spark, dir)`` and run to the noop sink.
``curation`` one ``run_pipeline("llm_corpus_curation")`` call per unit (run
             by hand; BENCHMARK.json leaves it out, see README.md).

Each workload class has ``prepare`` (untimed: write inputs), ``unit`` (the
timed work, instrumented through the tracer) and ``check`` (untimed: returns
a list of problems with the last unit's outputs).
"""

from __future__ import annotations

import importlib
import math
import os
import sys

import numpy as np
import pyarrow.parquet as pq

import inputs
from tracing import Tracer, patched

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _landed(path: str) -> tuple[float, int]:
    """(MB, files) of the data files under a warehouse directory."""
    mb, files = 0.0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                mb += os.path.getsize(os.path.join(d, n)) / 1e6
                files += 1
    return mb, files


class _Pipeline:
    """A registered pipeline run through ``jobs.run_pipeline``; subclasses
    set ``pipeline``, ``operators`` and, in ``prepare``, ``config`` and
    ``warehouse``."""

    pipeline: str
    operators: tuple[tuple[str, str], ...] = ()  # (module, name) to trace

    def unit(self, spark, tracer: Tracer):
        """One ``run_pipeline`` call. Traced, each stage is a span from its
        build to the next stage's build: build and write are child spans
        (wrapped ``Stage.fn`` and ``jobs.write_warehouse_table``), so the
        stage's self time is the re-read and row count that follow the
        write in ``Pipeline.run``."""
        from hg_data_pipelines_spark import jobs

        if not tracer.enabled:
            jobs.run_pipeline(spark, self.pipeline, self.warehouse, self.config)
            return None
        stages = jobs.get_pipeline(self.pipeline).stages
        current = []

        def enter(name, fn):
            def build(spark, ctx):
                if current:
                    tracer.close(current.pop())
                current.append(tracer.open(name, "stage"))
                with tracer.span(name, "build"):
                    return fn(spark, ctx)

            return build

        saved = [(st, st.fn) for st in stages]
        for st in stages:
            st.fn = enter(st.name, st.fn)
        targets = [(jobs, "write_warehouse_table", "write", "io")]
        targets += [(importlib.import_module(m), f, f, "operators") for m, f in self.operators]
        try:
            with patched(tracer, targets):
                with tracer.span("unit", "unit") as root:
                    try:
                        jobs.run_pipeline(spark, self.pipeline, self.warehouse, self.config)
                    finally:
                        if current:
                            tracer.close(current.pop())
        finally:
            for st, fn in saved:
                st.fn = fn
        return root

    def layer_metrics(self, tracer: Tracer, root) -> dict:
        out = {}
        for st in tracer.descendants(root):
            if st.layer != "stage":
                continue
            kids = [c for c in tracer.descendants(st) if c is not st]
            build = [c for c in kids if c.layer == "build"]
            write = [c for c in kids if c.layer == "io"]
            out[f"jobs.{st.name}.build_s"] = sum(c.wall for c in build)
            out[f"jobs.{st.name}.spark_jobs"] = sum(
                c.jobs for b in build for c in tracer.descendants(b)
            )
            out[f"jobs.{st.name}.write_s"] = sum(c.wall for c in write)
            out[f"jobs.{st.name}.land_s"] = st.self_s
        out["jobs.land_s"] = sum(v for k, v in out.items() if k.endswith(".land_s"))
        out["io.landed_mb"], out["io.landed_files"] = _landed(self.warehouse)
        out.update(_operator_metrics(tracer, root, [f for _, f in self.operators]))
        return out


def _operator_metrics(tracer: Tracer, root, names) -> dict:
    out = {}
    spans = tracer.descendants(root)
    for op in names:
        calls = [s for s in spans if s.layer == "operators" and s.name == op]
        out[f"operators.{op}.s"] = sum(s.wall for s in calls)
        out[f"operators.{op}.jobs"] = sum(c.jobs for s in calls for c in tracer.descendants(s))
        out[f"operators.{op}.calls"] = len(calls)
    return out


class Facade(_Pipeline):
    """The paper's chain: per-photo IoU grouping, best detection per group
    cast to 3D rays, rays intersected with a facade mesh."""

    pipeline = "street_level_grouping"
    n_photos, per_photo, n_vertices = 200, 24, 200
    wall_cells = (25, 10)  # 2 walls x 25 x 10 quads = 1000 triangles

    def prepare(self, rng, work: str) -> dict:
        os.makedirs(os.path.join(work, "in"))
        self.gen = inputs.generate_facade(
            rng, os.path.join(work, "in"), self.n_photos, self.per_photo,
            self.n_vertices, self.wall_cells,
        )
        self.config = {k: self.gen[k] for k in ("results_json_path", "pose_csv_path", "mesh_triangles")}
        self.warehouse = os.path.join(work, "warehouse")
        return {
            "photos": self.n_photos,
            "detections": self.n_photos * self.per_photo,
            "ring_vertices": self.n_vertices,
            "triangles": len(self.gen["mesh_triangles"]),
        }

    def check(self, spark) -> list[str]:
        return check_facade(self.gen, self.warehouse)


class Curation(_Pipeline):
    """The eight-stage corpus-curation DAG: quality and repetition gates,
    exact, near-duplicate (connected components over Jaccard pairs) and
    semantic (components over cosine pairs) dedup, span dedup, split and
    chunking, each stage landed in the warehouse."""

    pipeline = "llm_corpus_curation"
    operators = (("hg_data_pipelines_spark.operators.dedup", "connected_components"),)
    docs, embeddings, families = 5000, 2000, 100
    # Random 64-d unit vectors have cosine s.d. 1/8, so the default 0.45
    # (3.6 s.d.) links ~300 random pairs of 2000 vectors into chains; at
    # 0.9 the only edges are the planted near-clones (cosine >= 0.94).
    cos_threshold = 0.9
    jaccard_threshold = 0.5  # the stage default

    def prepare(self, rng, work: str) -> dict:
        self.data = os.path.join(work, "corpus")
        os.makedirs(self.data)
        self.gen = inputs.generate_corpus(rng, self.data, self.docs, self.embeddings, self.families)
        self.config = {"sf_dir": self.data, "semantic_cos_threshold": self.cos_threshold}
        self.warehouse = os.path.join(work, "warehouse")
        return {
            "documents": self.gen["n_docs"],
            "embeddings": self.gen["n_embeddings"],
            "families_per_kind": self.families,
        }

    def check(self, spark) -> list[str]:
        return check_curation(self.gen, self.data, self.warehouse, self.jaccard_threshold, self.cos_threshold)


def _read(path: str) -> dict:
    return pq.read_table(path).to_pydict()


def check_facade(gen: dict, warehouse: str) -> list[str]:
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from reference_oracle import oracle_grouping, oracle_point_to_3d

    problems = []
    photos = {p["file_name"]: p["objects"] for p in gen["photos"]}

    g = _read(os.path.join(warehouse, "grouped_detected_objects"))
    got: dict[str, dict[int, int]] = {}
    for f, i, gi in zip(g["file_name"], g["obj_idx"], g["group_idx"]):
        got.setdefault(f, {})[i] = gi
    expected_best = set()
    for f, objs in photos.items():
        want = oracle_grouping([o["bbox"] for o in objs], 0.01)
        have = [got.get(f, {}).get(i) for i in range(len(objs))]
        if have != want:
            problems.append(f"grouping differs on {f}")
        best = {}
        for i, o in enumerate(objs):
            if o["ring"] is None:
                continue
            k = want[i]
            if k not in best or o["score"] > objs[best[k]]["score"]:
                best[k] = i
        expected_best |= {(f, i) for i in best.values()}

    b = _read(os.path.join(warehouse, "best_lines_3d"))
    keys = list(zip(b["file_name"], b["obj_idx"]))
    if set(keys) != expected_best or len(keys) != len(expected_best):
        problems.append(f"best detections: {len(keys)} rows, expected {len(expected_best)}")
        return problems
    rays = {k: (np.array(p, dtype=np.float64), np.array(o)) for k, p, o in zip(keys, b["polygon_3d"], b["origin"])}

    rng = np.random.default_rng(0)
    for idx in rng.choice(len(keys), size=min(100, len(keys)), replace=False):
        f, i = keys[idx]
        pose = gen["poses"][f.split(".")[0]]
        ring = photos[f][i]["ring"].tolist()
        if ring[0] != ring[-1]:
            ring.append(ring[0])
        want = np.array([
            oracle_point_to_3d(
                (int(x), int(y)), math.radians(-pose[0]), math.radians(pose[1]),
                math.radians(pose[2] + 90.0), pose[3:6], inputs.PANO_W, inputs.PANO_H,
            )
            for x, y in ring[::10]
        ])
        if want.shape != rays[(f, i)][0].shape or not np.allclose(want, rays[(f, i)][0], rtol=0, atol=1e-9):
            problems.append(f"rays differ from the oracle on {f}#{i}")

    m = _read(os.path.join(warehouse, "point_and_mesh_intersection"))
    walls = gen["walls"]
    (x0, x1), (z0, z1) = walls["x"], walls["z"]
    bad = 0
    for f, i, poly in zip(m["file_name"], m["obj_idx"], m["polygon_3d"]):
        if (f, i) not in rays:
            bad += 1
            continue
        pts, origin = rays[(f, i)]
        out = np.array(poly, dtype=np.float64)
        d = pts - origin
        best_t = np.full(len(d), np.inf)
        margin = np.full(len(d), -np.inf)
        for y in walls["y"]:
            with np.errstate(divide="ignore", invalid="ignore"):
                t = (y - origin[1]) / d[:, 1]
            h = origin + t[:, None] * d
            inside = np.minimum.reduce([h[:, 0] - x0, x1 - h[:, 0], h[:, 2] - z0, z1 - h[:, 2]])
            take = (t > 1e-12) & np.isfinite(t) & (inside >= -1e-6) & (t < best_t)
            best_t = np.where(take, t, best_t)
            margin = np.where(take, inside, margin)
        hit = np.isfinite(best_t)
        expect = origin + np.where(hit, best_t, 0)[:, None] * d
        sure_hit = hit & (margin > 1e-6)
        sure_miss = ~hit
        if not np.all(np.abs(out[sure_hit] - expect[sure_hit]) <= 1e-6):
            bad += 1
        elif not np.array_equal(out[sure_miss], pts[sure_miss]):
            bad += 1
        else:
            moved = ~np.all(out == pts, axis=1)
            on_wall = np.min([np.abs(out[:, 1] - y) for y in walls["y"]], axis=0) <= 1e-6
            if not np.all(on_wall[moved]):
                bad += 1
    if bad or len(m["file_name"]) != len(keys):
        problems.append(f"mesh intersection: {bad} polygons off the walls or missed, {len(m['file_name'])} rows")
    return problems


def check_curation(gen: dict, data: str, warehouse: str, jac_t: float, cos_t: float) -> list[str]:
    """Dedup decisions of the landed stage tables against numpy/Python
    recomputation: surviving texts are distinct; each planted family keeps
    exactly its minimum doc_id; every removal has an exact edge (identical
    text, 3-gram Jaccard or cosine at the stage threshold) to a kept lower id."""
    def ids(stage):
        return set(_read(os.path.join(warehouse, stage))["doc_id"])

    docs = _read(os.path.join(data, "documents.parquet"))
    text = dict(zip(docs["doc_id"], docs["text"]))
    gated = ids("corpus_repetition")
    exact, near, sem = ids("corpus_exact_dedup"), ids("corpus_neardup"), ids("corpus_semantic_dedup")
    final = _read(os.path.join(warehouse, "corpus_split"))
    kept = set(final["doc_id"])
    if not exact <= set(text):
        return ["doc_ids that are not in the input"]
    problems = []
    if len(set(final["text"])) != len(final["text"]):
        problems.append("two surviving documents share text")

    for kind in ("exact", "near", "embed"):
        wrong = sum(1 for f in gen[kind] if kept & set(f) != set(sorted(set(f) & gated)[:1]))
        if wrong:
            problems.append(f"{wrong} {kind} families do not keep exactly their minimum doc_id")
    final_text = dict(zip(final["doc_id"], final["text"]))
    wrong = 0
    for f in gen["span"]:
        holders = [d for d in f["members"] if final_text.get(d, "").startswith(f["span"] + " ")]
        wrong += holders != [min(f["members"])] or not set(f["members"]) <= kept
    if wrong:
        problems.append(f"{wrong} shared spans not kept by exactly their minimum doc_id")

    by_text = {}
    for d in sorted(exact):
        by_text.setdefault(text[d], d)
    if any(by_text.get(text[d], d) >= d for d in gated - exact):
        problems.append("an exact-dedup removal has no identical kept lower doc")

    sh = {d: inputs.shingles(text[d]) for d in exact}
    index = {}
    for d in near:
        for g in sh[d]:
            index.setdefault(g, []).append(d)
    for d in exact - near:
        cands = {c for g in sh[d] for c in index.get(g, ()) if c < d}
        if not any(inputs.jaccard(sh[d], sh[c]) >= jac_t for c in cands):
            problems.append(f"near-dup removal {d} has no kept lower doc at Jaccard >= {jac_t}")
            break

    emb = _read(os.path.join(data, "embeddings.parquet"))
    vec = dict(zip(emb["vec_id"], emb["embedding"]))
    kept_ids = np.array(sorted(d for d in sem if d in vec))
    kept_vecs = np.array([vec[d] for d in kept_ids], dtype=np.float64)
    kept_vecs /= np.linalg.norm(kept_vecs, axis=1, keepdims=True)
    for d in near - sem:
        v = np.asarray(vec[d], dtype=np.float64)
        cos = kept_vecs @ (v / np.linalg.norm(v))
        if not np.any((cos >= cos_t) & (kept_ids < d)):
            problems.append(f"semantic removal {d} has no kept lower doc at cosine >= {cos_t}")
            break
    return problems


class Queries:
    """The frozen-13 set from bench.py, on seeded tables."""

    scale = 0.01  # of sf1 row counts: 60k lineitem, 15k orders, 10k events
    docs, embeddings = 2000, 1000

    def prepare(self, rng, work: str) -> dict:
        import bench  # the repository root is on sys.path (run.py)

        self.names = bench.HEADLINE[:13]
        self.data = os.path.join(work, "tables")
        os.makedirs(self.data)
        rows = inputs.generate_tables(rng, self.data, self.scale)
        corpus = inputs.generate_corpus(rng, self.data, self.docs, self.embeddings, families=50)
        rows["documents"], rows["embeddings"] = corpus["n_docs"], corpus["n_embeddings"]
        return rows

    def unit(self, spark, tracer: Tracer) -> dict:
        from hg_data_pipelines_spark.queries import QUERIES
        from hg_data_pipelines_spark.queries import dedup, events, similarity

        targets = [
            (dedup, "minhash_lsh_pairs", "minhash_lsh_pairs", "operators"),
            (events, "asof_join", "asof_join", "operators"),
            (similarity, "cosine_topk", "cosine_topk", "operators"),
        ]
        self.frames = {}
        with patched(tracer, targets if tracer.enabled else []):
            with tracer.span("unit", "unit") as root:
                for name in self.names:
                    with tracer.span(name, "build"):
                        df = self.frames[name] = QUERIES[name](spark, self.data)
                    with tracer.span(name, "exec"):
                        df.write.format("noop").mode("overwrite").save()
        return root

    def layer_metrics(self, tracer: Tracer, root) -> dict:
        out = {}
        spans = tracer.descendants(root)
        for phase in ("build", "exec"):
            mine = [s for s in spans if s.layer == phase]
            for s in mine:
                out[f"queries.{s.name}.{phase}_s"] = s.wall
            out[f"queries.{phase}_s"] = sum(s.wall for s in mine)
            out[f"queries.{phase}_jobs"] = sum(
                c.jobs for s in mine for c in tracer.descendants(s)
            )
        out["queries.exec_tasks"] = sum(
            st["tasks"] for s in spans if s.layer == "exec" for st in s.stages
        )
        out.update(_operator_metrics(tracer, root, ("minhash_lsh_pairs", "asof_join", "cosine_topk")))
        return out

    def check(self, spark) -> list[str]:
        """Re-executes the last unit's DataFrames with ``collect`` and
        compares each with its DuckDB oracle on the same files, as
        tools/check_correctness.py does."""
        import duckdb
        from hg_data_pipelines_spark.queries import ORACLES
        from tools.check_correctness import TABLES, table_hash

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        problems = []
        for name in self.names:
            df = self.frames[name]
            cols, rows = df.columns, df.collect()
            if name == "X2_minhash_lsh_pairs":
                problems += self._check_pairs(con, rows)
                continue
            res = con.execute(ORACLES[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            if sorted(cols) != sorted(ocols) or len(rows) != len(orows):
                problems.append(f"{name}: shape differs from the oracle")
            elif table_hash(cols, [[r[c] for c in cols] for r in rows]) != table_hash(ocols, orows):
                problems.append(f"{name}: value hash differs from the oracle")
        return problems

    def _check_pairs(self, con, rows) -> list[str]:
        """MinHash-LSH output has no SQL oracle: every emitted pair must be
        a distinct id_a < id_b pair whose exact 3-gram Jaccard is the
        reported value and clears the query's threshold."""
        from hg_data_pipelines_spark.queries.dedup import _JACCARD_THRESHOLD

        text = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
        seen, bad = set(), 0
        for r in rows:
            a, b = r["id_a"], r["id_b"]
            if a not in text or b not in text:
                bad += 1
                continue
            j = inputs.jaccard(inputs.shingles(text[a]), inputs.shingles(text[b]))
            if a >= b or (a, b) in seen or abs(j - r["jaccard"]) > 1e-12 or j < _JACCARD_THRESHOLD:
                bad += 1
            seen.add((a, b))
        if not rows:
            return ["X2_minhash_lsh_pairs: no pairs"]
        return [f"X2_minhash_lsh_pairs: {bad} of {len(rows)} pairs fail exact verification"] if bad else []


WORKLOADS = {"facade": Facade, "queries": Queries, "curation": Curation}
