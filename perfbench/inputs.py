"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and an output directory,
writes the files the program reads, and returns the planted structure the
output checks need. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "of", "and", "to", "in"]
SPAN_TOKENS = 10  # the curation pipeline's default span chunk
SHINGLE_N = 3  # word n-gram of the near-dup operators


# ---------------------------------------------------------------------------
# Corpus: documents + embeddings with planted duplicate families
# ---------------------------------------------------------------------------


def shingles(text: str, n: int = SHINGLE_N) -> frozenset:
    toks = text.split()
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


def _passes_gates(toks: list[str]) -> bool:
    """The curation quality and repetition gates, with margin, so planted
    family members never fall out before the dedup stages."""
    n = len(toks)
    if n < 40 or len(set(toks)) / n < 0.55:
        return False
    _, counts = np.unique(toks, return_counts=True)
    bigrams = [toks[i] + " " + toks[i + 1] for i in range(n - 1)]
    _, bcounts = np.unique(bigrams, return_counts=True)
    return counts.max() / n <= 0.25 and bcounts.max() / (n - 1) <= 0.12


class _Words:
    """Zipf(1.0) vocabulary whose top ranks are common stopwords."""

    def __init__(self, rng: np.random.Generator, size: int = 4000):
        self.rng = rng
        self.vocab = np.array(STOPWORDS + [f"w{i}" for i in range(size - len(STOPWORDS))])
        p = 1.0 / np.arange(1, size + 1)
        self.p = p / p.sum()

    def draw(self, n: int) -> list[str]:
        return list(self.vocab[self.rng.choice(len(self.vocab), size=n, p=self.p)])

    def doc(self, lo: int, hi: int, gated: bool = False) -> list[str]:
        while True:
            toks = self.draw(int(self.rng.integers(lo, hi)))
            if not gated or _passes_gates(toks):
                return toks


def generate_corpus(
    rng: np.random.Generator,
    out_dir: str,
    n_docs: int,
    n_embeddings: int,
    families: int,
) -> dict:
    """documents.parquet + embeddings.parquet.

    ``families`` of each kind are planted: exact copies, near-duplicate
    cliques (pairwise 3-gram Jaccard >= 0.5), shared-span groups (the same
    first 10-token chunk) and embedding near-clones (pairwise cosine
    >= 0.94). Families are disjoint, and every member passes the quality
    and repetition gates.
    """
    words = _Words(rng)
    texts: list[str] = []
    fam = {"exact": [], "near": [], "span": [], "embed": []}

    def add(toks) -> int:
        texts.append(" ".join(toks))
        return len(texts) - 1

    for _ in range(families):
        base = words.doc(50, 110, gated=True)
        fam["exact"].append([add(base) for _ in range(int(rng.integers(2, 5)))])

    for _ in range(families):
        while True:
            base = words.doc(60, 110, gated=True)
            members = [base]
            for _ in range(int(rng.integers(1, 4))):
                v = list(base)
                for pos in rng.choice(len(v), size=int(rng.integers(1, 4)), replace=False):
                    v[pos] = words.draw(1)[0]
                members.append(v)
            sh = [shingles(" ".join(m)) for m in members]
            distinct = len({" ".join(m) for m in members}) == len(members)
            if distinct and all(
                _passes_gates(m) for m in members
            ) and all(
                jaccard(sh[i], sh[j]) >= 0.55
                for i in range(len(sh))
                for j in range(i + 1, len(sh))
            ):
                break
        fam["near"].append([add(m) for m in members])

    for _ in range(families):
        head = words.draw(SPAN_TOKENS)
        group = []
        for _ in range(int(rng.integers(2, 6))):
            while True:
                toks = head + words.doc(40, 100)
                if _passes_gates(toks):
                    break
            group.append(add(toks))
        fam["span"].append({"members": group, "span": " ".join(head)})

    for _ in range(families):
        size = int(rng.integers(2, 4))
        fam["embed"].append([add(words.doc(40, 110, gated=True)) for _ in range(size)])

    while len(texts) < n_docs:
        add(words.doc(30, 120))

    # Doc ids are seeded permutations, so a family's minimum id is not its
    # first-generated member, and rows land in permuted order. As in the
    # fixture tables, the docs with embeddings hold ids 0..n_embeddings-1.
    n = len(texts)
    embed_members = [m for f in fam["embed"] for m in f]
    others = np.setdiff1d(np.arange(n), embed_members)
    extra = rng.choice(others, size=max(0, n_embeddings - len(embed_members)), replace=False)
    covered = np.concatenate([np.array(embed_members, dtype=np.int64), extra])
    ids = np.empty(n, dtype=np.int64)
    ids[covered] = rng.permutation(len(covered))
    ids[np.setdiff1d(np.arange(n), covered)] = len(covered) + rng.permutation(n - len(covered))
    order = np.argsort(ids)
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)]
    sources = np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n)]
    docs = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array(langs[order], pa.string()),
            "source": pa.array(sources[order], pa.string()),
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    dim = 64
    vecs = rng.standard_normal((len(covered), dim))
    row = 0
    for f in fam["embed"]:
        base = vecs[row]
        for k in range(len(f)):
            vecs[row + k] = base + 0.2 * rng.standard_normal(dim)
        row += len(f)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    eperm = rng.permutation(len(covered))
    emb = pa.table(
        {
            "vec_id": pa.array(ids[covered][eperm], pa.int64()),
            "embedding": pa.array(list(vecs[eperm]), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, len(covered))[eperm], pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    def remap(group):
        return sorted(int(ids[i]) for i in group)

    return {
        "n_docs": n,
        "n_embeddings": len(covered),
        "exact": [remap(f) for f in fam["exact"]],
        "near": [remap(f) for f in fam["near"]],
        "span": [{"members": remap(f["members"]), "span": f["span"]} for f in fam["span"]],
        "embed": [remap(f) for f in fam["embed"]],
    }


# ---------------------------------------------------------------------------
# Facade: panorama detections, camera poses and a wall mesh
# ---------------------------------------------------------------------------

PANO_W, PANO_H = 8000, 4000
CLASSES = [1, 2, 3, 4, 7, 8, 9, 10]
ORIGIN = np.array([1000.0, 2000.0, 50.0])  # street start, projected metres
WALL_OFFSET = 8.0  # walls at y = ORIGIN.y +- WALL_OFFSET
WALL_HEIGHT = 15.0


def _ring(rng, bbox, n_vertices: int, seam: bool) -> np.ndarray:
    x1, y1, x2, y2 = bbox
    if seam:  # [x1, y1, x2, y2] spans the seam: the box runs x2 -> W -> x1
        cx, rx = (x2 + x1 + PANO_W) / 2.0, (x1 + PANO_W - x2) / 2.0
    else:
        cx, rx = (x1 + x2) / 2.0, (x2 - x1) / 2.0
    cy, ry = (y1 + y2) / 2.0, (y2 - y1) / 2.0
    a = np.linspace(0, 2 * np.pi, n_vertices, endpoint=False)
    r = 0.85 + 0.15 * rng.random(n_vertices)
    xs = (cx + rx * r * np.cos(a)) % PANO_W
    ys = cy + ry * r * np.sin(a)
    return np.round(np.stack([xs, ys], axis=1), 1)


def _photo_json(photo: dict) -> str:
    objs = []
    for o in photo["objects"]:
        poly = "null"
        if o["ring"] is not None:
            poly = '{"type": "Polygon", "coordinates": [%s]}' % json.dumps(o["ring"].tolist())
        objs.append(
            '{"bbox": %s, "polygon": %s, "score": %r, "class": %d}'
            % (json.dumps(o["bbox"]), poly, o["score"], o["class"])
        )
    return '{"file_name": "%s", "objects": [%s]}' % (photo["file_name"], ",".join(objs))


def generate_facade(
    rng: np.random.Generator,
    out_dir: str,
    n_photos: int,
    per_photo: int,
    n_vertices: int,
    wall_cells: tuple[int, int],
) -> dict:
    """results/*.json (detections), pose.csv and the wall triangle mesh.

    About a third of each photo's detections are jittered copies of an
    earlier one (IoU well above the 0.01 grouping threshold); one photo in
    ten has a box across the panorama seam; 2% of polygons are missing.
    Cameras walk a straight street between two planar facades, each
    triangulated into ``wall_cells`` (along x, along z) quads.
    """
    photos = []
    for p in range(n_photos):
        objs = []
        for k in range(per_photo):
            if k and rng.random() < 0.35:
                bx = objs[int(rng.integers(0, k))]["bbox"]
                w, h = max(bx[2] - bx[0], 50), bx[3] - bx[1]
                dx, dy = rng.uniform(-0.3, 0.3) * w, rng.uniform(-0.3, 0.3) * h
                x1 = min(max(bx[0] + dx, 0), PANO_W - w - 1)
                bbox = [float(int(x1)), float(int(bx[1] + dy)), float(int(x1 + w)), float(int(bx[3] + dy))]
            elif k == 0 and p % 10 == 0:
                y1 = float(rng.integers(800, 2800))
                bbox = [float(rng.integers(20, 150)), y1,
                        float(rng.integers(PANO_W - 150, PANO_W - 20)), y1 + float(rng.integers(100, 500))]
            else:
                w, h = rng.integers(100, 600), rng.integers(100, 500)
                x1, y1 = rng.integers(0, PANO_W - w - 1), rng.integers(800, 3200 - h)
                bbox = [float(x1), float(y1), float(x1 + w), float(y1 + h)]
            seam = bbox[2] - bbox[0] > 0.95 * PANO_W  # the engine's seam rule
            ring = _ring(rng, bbox, n_vertices, seam) if rng.random() >= 0.02 else None
            objs.append(
                {
                    "bbox": bbox,
                    "ring": ring,
                    "score": round(float(rng.uniform(0.3, 0.99)), 3),
                    "class": int(rng.choice(CLASSES)),
                }
            )
        photos.append({"file_name": f"pano_{p:05d}.jpg", "objects": objs})

    results_dir = os.path.join(out_dir, "results")
    os.makedirs(results_dir)
    n_files = 8
    for i in range(n_files):
        with open(os.path.join(results_dir, f"part-{i:02d}.json"), "w") as f:
            f.write("[" + ",".join(_photo_json(p) for p in photos[i::n_files]) + "]")

    poses = {}
    lines = ["file_name\troll[deg]\tpitch[deg]\theading[deg]\tprojectedX[m]\tprojectedY[m]\tprojectedZ[m]"]
    for p in range(n_photos):
        stem = f"pano_{p:05d}"
        pose = [
            round(float(rng.uniform(-2, 2)), 4),
            round(float(rng.uniform(-2, 2)), 4),
            round(float(rng.uniform(0, 360)), 4),
            round(float(ORIGIN[0] + p * 1.0 + rng.uniform(-0.2, 0.2)), 4),
            round(float(ORIGIN[1] + rng.uniform(-1.5, 1.5)), 4),
            round(float(ORIGIN[2] + 2.5 + rng.uniform(-0.1, 0.1)), 4),
        ]
        poses[stem] = pose
        lines.append("\t".join([stem] + [repr(v) for v in pose]))
    pose_path = os.path.join(out_dir, "pose.csv")
    with open(pose_path, "w") as f:
        f.write("\n".join(lines) + "\n")

    x0, x1 = ORIGIN[0] - 20.0, ORIGIN[0] + n_photos + 20.0
    z0, z1 = ORIGIN[2], ORIGIN[2] + WALL_HEIGHT
    walls = [ORIGIN[1] - WALL_OFFSET, ORIGIN[1] + WALL_OFFSET]
    nx, nz = wall_cells
    xs, zs = np.linspace(x0, x1, nx + 1), np.linspace(z0, z1, nz + 1)
    tris = []
    for y in walls:
        for i in range(nx):
            for j in range(nz):
                a, b = [xs[i], y, zs[j]], [xs[i + 1], y, zs[j]]
                c, d = [xs[i + 1], y, zs[j + 1]], [xs[i], y, zs[j + 1]]
                tris += [[a, b, c], [a, c, d]]
    return {
        "results_json_path": results_dir,
        "pose_csv_path": pose_path,
        "mesh_triangles": np.array(tris, dtype=np.float64),
        "photos": photos,
        "poses": poses,
        "walls": {"y": walls, "x": (x0, x1), "z": (z0, z1)},
    }


# ---------------------------------------------------------------------------
# Relational tables for the query workload (TPC-H-ish star + events)
# ---------------------------------------------------------------------------


def _days(rng, start: datetime, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def generate_tables(rng: np.random.Generator, out_dir: str, scale: float) -> dict:
    """The ten tables the declared queries read, at ``scale`` of sf1 row
    counts (documents and embeddings come from the corpus generator).
    Value ranges and literal-predicate selectivities follow the repo's
    fixture tables, so every query has a non-trivial result."""

    def write(name, cols):
        t = pa.table(cols)
        perm = rng.permutation(t.num_rows)
        pq.write_table(t.take(pa.array(perm)), os.path.join(out_dir, f"{name}.parquet"))
        return t.num_rows

    rows = {}
    rows["region"] = write(
        "region",
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    rows["nation"] = write(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    rows["customer"] = write(
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        },
    )
    rows["supplier"] = write(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
    )
    adj = np.array(["large", "small", "hot", "cold", "shiny", "matte"])
    noun = np.array(["ring", "bolt", "gear", "plate", "valve", "spring"])
    rows["part"] = write(
        "part",
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "), noun[rng.integers(0, 6, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + rng.uniform(0, 1100, n_part), 2),
        },
    )
    odate = _days(rng, datetime(1995, 1, 1), 2404, n_ord)
    rows["orders"] = write(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        },
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    starts = np.cumsum(lines) - lines
    linenumber = np.arange(n_li) - np.repeat(starts, lines) + 1
    ship = odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    rows["lineitem"] = write(
        "lineitem",
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        },
    )
    n_ev, n_users = int(1_000_000 * scale), min(int(15_000 * scale), n_cust)
    ts = np.datetime64(datetime(2024, 1, 1), "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    rows["events"] = write(
        "events",
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(["view", "click", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(40.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        },
    )
    return rows

