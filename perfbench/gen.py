"""Seeded input generators, one per workload part.

A workload runs two parts (`PARTS`), each with its own tables. Every
generator is a pure function of (part, seed, scale): it draws from
`numpy.random.default_rng([part salt, seed])`, writes its tables as
parquet with pyarrow (no Spark involved, so generation is excluded from
set-up by construction) and returns a `truth` dict of the facts the
output checks compare against. A different seed keeps every table's row
count and only changes content; entity ids are offset by the seed so no
two seeds share ids.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# workload -> its parts, run in this order
PARTS = {
    "pages": ("geojoin", "dedupe"),
    "osm": ("tiles", "patch"),
}

# scale -> rows per table; "tiny" is the smoke-test size
SIZES = {
    "geojoin": {
        "full": {"pages": 2_000, "nodes": 2_000},
        "tiny": {"pages": 600, "nodes": 2_000},
    },
    "dedupe": {
        "full": {"docs": 800, "vectors": 500, "queries": 16},
        "tiny": {"docs": 300, "vectors": 200, "queries": 8},
    },
    "tiles": {
        "full": {"ways": 300, "points": 600, "rings": 40},
        "tiny": {"ways": 60, "points": 120, "rings": 12},
    },
    "patch": {
        "full": {"base_ways": 400, "patch_ways": 80},
        "tiny": {"base_ways": 80, "patch_ways": 24},
    },
}

ID_STRIDE = 10_000_000  # seed-offset ids: seed s owns [s * stride, (s+1) * stride)

TAGS_TYPE = pa.map_(pa.string(), pa.string())


def _rng(name: str, seed: int) -> np.random.Generator:
    """The stream of one part and seed; `name` salts it per part."""
    return np.random.default_rng([sum(ord(c) for c in name), int(seed)])


FILES = 4  # each table is split into this many parquet files, so scans run in parallel


def _write(path: str, table: pa.Table) -> int:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for k in range(FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))
    return table.num_rows


def _e7(x: np.ndarray) -> np.ndarray:
    """Snap coordinates to the 1e-7 degree PBF grid (exact round trip)."""
    return np.round(x * 1e7) / 1e7


# ---------------------------------------------------------------------------
# pages / geojoin
# ---------------------------------------------------------------------------

GEO_BBOX = (-120.65, 46.45, -119.65, 46.85)  # covers every gazetteer center
GRID = 8  # GRID x GRID rectangles tile GEO_BBOX for point_in_polygon
# polygon edges carry a 7th decimal, so no 5-decimal coordinate lies on one
EDGE_NUDGE = 3e-7
FILLER = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip commodo"
).split()
SIGNAL_SHARE = (0.7, 0.2, 0.1)  # coordinate, place name, none
HOT_CENTERS = 6
HOT_SHARE = 0.85  # coordinate pages drawn around the hot centers
KNN_K = 4
# node density: the k-th neighbour of every page lies within one z12 tile,
# so knn_join's first ring settles every query and its loop stops there


def grid_polygons() -> list[tuple[int, list[tuple[float, float]]]]:
    west, south, east, north = GEO_BBOX
    dx, dy = (east - west) / GRID, (north - south) / GRID
    polys = []
    for gy in range(GRID):
        for gx in range(GRID):
            x0 = west + gx * dx + EDGE_NUDGE
            y0 = south + gy * dy + EDGE_NUDGE
            polys.append((gy * GRID + gx, [(x0, y0), (x0 + dx, y0), (x0 + dx, y0 + dy), (x0, y0 + dy)]))
    return polys


def _polygon_of(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    west, south, east, north = GEO_BBOX
    dx, dy = (east - west) / GRID, (north - south) / GRID
    gx = np.floor((lon - west - EDGE_NUDGE) / dx).astype(np.int64)
    gy = np.floor((lat - south - EDGE_NUDGE) / dy).astype(np.int64)
    return gy * GRID + gx


def gen_geojoin(seed: int, scale: str, out: str) -> dict:
    from osmix_spark.sources.pages import GAZETTEER

    size = SIZES["geojoin"][scale]
    rng = _rng("pages_geojoin", seed)
    n = size["pages"]
    n_coord = int(round(n * SIGNAL_SHARE[0]))
    n_place = int(round(n * SIGNAL_SHARE[1]))
    kind = np.array([0] * n_coord + [1] * n_place + [2] * (n - n_coord - n_place))
    rng.shuffle(kind)

    west, south, east, north = GEO_BBOX
    # hot cells: zipf-weighted centers, tight gaussian around each
    centers = np.column_stack([
        rng.uniform(west + 0.1, east - 0.1, HOT_CENTERS),
        rng.uniform(south + 0.08, north - 0.08, HOT_CENTERS),
    ])
    w = 1.0 / np.arange(1, HOT_CENTERS + 1) ** 1.3
    which = rng.choice(HOT_CENTERS, size=n, p=w / w.sum())
    hot = rng.random(n) < HOT_SHARE
    lon = np.where(hot, centers[which, 0] + rng.normal(0, 0.004, n), rng.uniform(west, east, n))
    lat = np.where(hot, centers[which, 1] + rng.normal(0, 0.003, n), rng.uniform(south, north, n))
    lon = np.clip(lon, west + 1e-3, east - 1e-3)
    lat = np.clip(lat, south + 1e-3, north - 1e-3)
    place = rng.integers(0, len(GAZETTEER), n)

    ids = seed * ID_STRIDE + np.arange(n, dtype=np.int64)
    filler = rng.integers(0, len(FILLER), (n, 16))
    texts, true_lon, true_lat = [], np.empty(n), np.empty(n)
    for i in range(n):
        words = [FILLER[j] for j in filler[i]]
        head, tail = " ".join(words[:8]), " ".join(words[8:])
        if kind[i] == 0:
            s_lat, s_lon = f"{lat[i]:.5f}", f"{lon[i]:.5f}"
            texts.append(f"{head} located at {s_lat}, {s_lon} {tail}")
            true_lon[i], true_lat[i] = float(s_lon), float(s_lat)
        elif kind[i] == 1:
            name, g_lon, g_lat = GAZETTEER[place[i]]
            texts.append(f"{head} near {name} {tail}")
            true_lon[i], true_lat[i] = g_lon, g_lat
        else:
            texts.append(f"{head} {tail}")
    ts = np.datetime64("2024-01-01T00:00:00") + rng.integers(0, 86400 * 30, n).astype("timedelta64[s]")
    pages = pa.table({
        "url": [f"https://example.org/page/{i}" for i in ids],
        "warc_ts": pa.array(ts.astype("datetime64[us]")),
        "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
        "text": texts,
        "lang": np.array(["en", "fr", "de", "es"])[rng.integers(0, 4, n)],
    })
    m = size["nodes"]
    nodes = pa.table({
        "id": seed * ID_STRIDE + np.arange(m, dtype=np.int64),
        "lon": rng.uniform(west, east, m),
        "lat": rng.uniform(south, north, m),
    })
    polys = grid_polygons()
    polygons = pa.table({
        "polygon_id": [p for p, _ in polys],
        "lons": [[x for x, _ in v] for _, v in polys],
        "lats": [[y for _, y in v] for _, v in polys],
    })
    rows = _write(os.path.join(out, "pages.parquet"), pages)
    rows += _write(os.path.join(out, "nodes.parquet"), nodes)
    rows += _write(os.path.join(out, "polygons.parquet"), polygons)
    tagged = kind < 2
    return {
        "rows": rows,
        "pages": n,
        "coord": n_coord,
        "place": n_place,
        "none": n - n_coord - n_place,
        "polygon_id_sum": int(_polygon_of(true_lon[tagged], true_lat[tagged]).sum()),
        "knn_rows": KNN_K * int(tagged.sum()),
    }


# ---------------------------------------------------------------------------
# osm / tiles
# ---------------------------------------------------------------------------

TILE_Z = 14  # vector tiles
RASTER_Z = 13  # composite raster tiles
TILE_BBOX = (-120.62, 46.55, -120.38, 46.70)
# every tag set matches exactly one shortbread Point layer
POINT_TAGS = [
    {"amenity": "cafe"}, {"amenity": "restaurant"}, {"shop": "bakery"},
    {"place": "village"}, {"place": "hamlet"}, {"addr:housenumber": "12"},
    {"tourism": "museum"},
]
RING_ID_BASE = 5_000_000  # raster fids: rings and points must not collide


def _tile_x(lon: np.ndarray, z: int) -> np.ndarray:
    return (lon / 360.0 + 0.5) * float(1 << z)


def _tile_y(lat: np.ndarray, z: int) -> np.ndarray:
    s = np.sin(np.radians(lat))
    return (0.5 - 0.25 * np.log((1.0 + s) / (1.0 - s)) / np.pi) * float(1 << z)


def _span(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    return np.floor(hi).astype(np.int64) - np.floor(lo).astype(np.int64) + 1


def gen_tiles(seed: int, scale: str, out: str) -> dict:
    size = SIZES["tiles"][scale]
    rng = _rng("osm_tiles", seed)
    west, south, east, north = TILE_BBOX
    base = seed * ID_STRIDE

    # streets: axis-aligned polylines (a city grid), 4-10 vertices, each
    # spanning 0.02-0.08 deg so every covered tile keeps >= 2 distinct
    # clamped vertices — the feature x tile count is the bbox tile range
    nw = size["ways"]
    horiz = rng.random(nw) < 0.5
    nv = 4 + np.arange(nw) % 7  # fixed vertex total: same row count for every seed
    golden = (np.arange(max(nw, size["rings"])) * 0.6180339887) % 1.0  # even spread of sizes
    length = 0.02 + 0.06 * golden[:nw]
    x0 = rng.uniform(west, east - 0.08, nw)
    y0 = rng.uniform(south, north - 0.08, nw)
    v_way, v_seq, v_lon, v_lat = [], [], [], []
    way_tiles = 0
    for i in range(nw):
        t = np.sort(np.concatenate([[0.0, 1.0], rng.random(nv[i] - 2)]))
        if horiz[i]:
            lons, lats = _e7(x0[i] + t * length[i]), np.full(nv[i], _e7(y0[i]))
        else:
            lons, lats = np.full(nv[i], _e7(x0[i])), _e7(y0[i] + t * length[i])
        xf, yf = _tile_x(lons, TILE_Z), _tile_y(lats, TILE_Z)
        way_tiles += int(_span(xf.min(), xf.max()) * _span(yf.min(), yf.max()))
        v_way += [base + i] * nv[i]
        v_seq += list(range(nv[i]))
        v_lon += list(lons)
        v_lat += list(lats)
    verts = pa.table({
        "way_id": np.array(v_way, dtype=np.int64),
        "s1": np.array(v_seq, dtype=np.int32),
        "s2": base + 1_000_000 + np.arange(len(v_way), dtype=np.int64),
        "lon": np.array(v_lon), "lat": np.array(v_lat),
    })

    npt = size["points"]
    p_lon = _e7(rng.uniform(west, east, npt))
    p_lat = _e7(rng.uniform(south, north, npt))
    tag_idx = rng.integers(0, len(POINT_TAGS), npt)
    points = pa.table({
        "id": base + 2_000_000 + np.arange(npt, dtype=np.int64),
        "lon": p_lon, "lat": p_lat,
        "tags": pa.array([list(POINT_TAGS[j].items()) for j in tag_idx], type=TAGS_TYPE),
    })

    # areas: rectangles (closed outer rings), a third with one inner hole
    nr = size["rings"]
    r_id, r_idx, r_role, r_lons, r_lats = [], [], [], [], []
    area_tiles = raster_area_tiles = 0
    for i in range(nr):
        w_, h_ = 0.004 + 0.036 * golden[i], 0.003 + 0.027 * golden[(i * 7) % nr]
        rx, ry = rng.uniform(west, east - w_), rng.uniform(south, north - h_)
        xs = _e7(np.array([rx, rx + w_, rx + w_, rx, rx]))
        ys = _e7(np.array([ry, ry, ry + h_, ry + h_, ry]))
        fid = base + RING_ID_BASE + i
        r_id.append(fid); r_idx.append(0); r_role.append("outer")
        r_lons.append(list(xs)); r_lats.append(list(ys))
        if i % 3 == 0:
            hx = _e7(np.array([rx + w_ * .3, rx + w_ * .3, rx + w_ * .6, rx + w_ * .6, rx + w_ * .3]))
            hy = _e7(np.array([ry + h_ * .3, ry + h_ * .6, ry + h_ * .6, ry + h_ * .3, ry + h_ * .3]))
            r_id.append(fid); r_idx.append(1); r_role.append("inner")
            r_lons.append(list(hx)); r_lats.append(list(hy))
        for z, acc in ((TILE_Z, "mvt"), (RASTER_Z, "raster")):
            n_t = int(_span(_tile_x(xs.min(), z), _tile_x(xs.max(), z))
                      * _span(_tile_y(ys.max(), z), _tile_y(ys.min(), z)))
            if acc == "mvt":
                area_tiles += n_t
            else:
                raster_area_tiles += n_t
    rings = pa.table({
        "relation_id": np.array(r_id, dtype=np.int64),
        "ring_index": np.array(r_idx, dtype=np.int32),
        "role": r_role, "lons": r_lons, "lats": r_lats,
    })
    rows = _write(os.path.join(out, "verts.parquet"), verts)
    rows += _write(os.path.join(out, "points.parquet"), points)
    rows += _write(os.path.join(out, "rings.parquet"), rings)
    return {
        "rows": rows,
        "way_features": way_tiles,
        "point_features": npt,
        "area_features": area_tiles,
        "raster_features": npt + raster_area_tiles,
    }


# ---------------------------------------------------------------------------
# osm / patch
# ---------------------------------------------------------------------------

MERGE_BBOX = (-120.60, 46.55, -120.40, 46.68)
EXTRACT_BBOX = (-120.58, 46.56, -120.42, 46.67)
COINCIDENT_SHARE = 0.25  # patch ways drawn on top of base nodes (new ids)
NEWER_SHARE = 0.25  # patch ways re-issuing a base way at version 2
CROSSING_SHARE = 0.25  # patch ways crossing exactly one base way
DUP_SHARE = 0.05  # per-dataset duplicate ways (same refs and tags)
HIGHWAYS = ["residential", "primary", "secondary", "tertiary", "service"]


def gen_patch(seed: int, scale: str, out: str) -> dict:
    """Base ways are short east-west polylines on distinct latitude rows,
    so no two base ways cross; patch crossing ways are north-south
    segments over one base way each."""
    size = SIZES["patch"][scale]
    rng = _rng("osm_merge", seed)
    west, south, east, north = MERGE_BBOX
    base = seed * ID_STRIDE
    nb = size["base_ways"]
    b_nodes, b_ways = [], []
    next_node = base
    rows_lat = south + (np.arange(nb) + 0.5) * (north - south) / nb
    for i in range(nb):
        nv = 3 + i % 4
        x = _e7(rng.uniform(west, east - 0.01) + np.sort(rng.random(nv)) * 0.008)
        y = _e7(rows_lat[i])
        refs = list(range(next_node, next_node + nv))
        next_node += nv
        b_nodes += [(r, float(xx), float(y), None) for r, xx in zip(refs, x)]
        tags = [("highway", HIGHWAYS[int(rng.integers(len(HIGHWAYS)))])]
        b_ways.append((base + i, refs, tags))
    n_dup = int(nb * DUP_SHARE)
    for j in range(n_dup):  # exact duplicates inside the base
        _, refs, tags = b_ways[j]
        b_ways.append((base + nb + j, list(refs), list(tags)))

    npw = size["patch_ways"]
    n_coin = int(npw * COINCIDENT_SHARE)
    n_newer = int(npw * NEWER_SHARE)
    n_cross = int(npw * CROSSING_SHARE)
    by_id = {r[0]: r for r in b_nodes}
    p_nodes, p_ways = [], []
    patch_way = base + 5_000_000
    patch_node = base + 6_000_000
    pick = rng.permutation(nb // 4) * 4  # 3-node base ways only: fixed patch size
    cursor = 0
    for _ in range(n_newer):  # same ids, version bump, same geometry
        wid, refs, tags = b_ways[pick[cursor]]; cursor += 1
        p_nodes += [by_id[r] for r in refs]
        p_ways.append((wid, list(refs), tags + [("version", "2")]))
    for _ in range(n_coin):  # new ids on top of base nodes
        _, refs, tags = b_ways[pick[cursor]]; cursor += 1
        new_refs = list(range(patch_node, patch_node + len(refs)))
        patch_node += len(refs)
        p_nodes += [(nr_, by_id[r][1], by_id[r][2], None) for nr_, r in zip(new_refs, refs)]
        p_ways.append((patch_way, new_refs, [("highway", "service"), ("name", "copy")]))
        patch_way += 1
    crossings = 0
    for _ in range(n_cross):  # north-south segment over one base way
        _, refs, _tags = b_ways[pick[cursor]]; cursor += 1
        a, b = by_id[refs[0]], by_id[refs[1]]
        x = _e7((a[1] + b[1]) / 2.0)
        half = 0.3 * (north - south) / nb
        ids_ = [patch_node, patch_node + 1]
        patch_node += 2
        p_nodes += [(ids_[0], x, _e7(a[2] - half), None), (ids_[1], x, _e7(a[2] + half), None)]
        p_ways.append((patch_way, ids_, [("highway", "footway")]))
        patch_way += 1
        crossings += 1
    for j in range(npw - n_newer - n_coin - n_cross):  # fresh disjoint ways
        nv = 2 + j % 3
        y = _e7(rng.uniform(south, north))
        x = _e7(east + 0.01 + np.sort(rng.random(nv)) * 0.01)  # east of the base
        ids_ = list(range(patch_node, patch_node + nv))
        patch_node += nv
        p_nodes += [(r, float(xx), float(y), None) for r, xx in zip(ids_, x)]
        p_ways.append((patch_way, ids_, [("highway", "path")]))
        patch_way += 1
    for j in range(int(npw * DUP_SHARE)):  # exact duplicates inside the patch
        wid, refs, tags = p_ways[n_newer + j]
        p_ways.append((patch_way, list(refs), list(tags)))
        patch_way += 1
    # a node may be listed twice (newer ways sharing nothing, but keep ids unique)
    p_nodes = list({r[0]: r for r in p_nodes}.values())

    def nodes_table(rows):
        return pa.table({
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "lon": pa.array([r[1] for r in rows], pa.float64()),
            "lat": pa.array([r[2] for r in rows], pa.float64()),
            "tags": pa.array([r[3] for r in rows], TAGS_TYPE),
        })

    def ways_table(rows):
        return pa.table({
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "refs": pa.array([r[1] for r in rows], pa.list_(pa.int64())),
            "tags": pa.array([r[2] for r in rows], TAGS_TYPE),
        })

    rows = _write(os.path.join(out, "base_nodes.parquet"), nodes_table(b_nodes))
    rows += _write(os.path.join(out, "base_ways.parquet"), ways_table(b_ways))
    rows += _write(os.path.join(out, "patch_nodes.parquet"), nodes_table(p_nodes))
    rows += _write(os.path.join(out, "patch_ways.parquet"), ways_table(p_ways))
    return {
        "rows": rows,
        "crossings": crossings,
        "coincident_ways": n_coin,
        "base_dup_ways": n_dup,
        # direct_merge upserts by id: the union of base and patch ids
        "merged_nodes": len({r[0] for r in b_nodes} | {r[0] for r in p_nodes}),
        "merged_ways": len({r[0] for r in b_ways} | {r[0] for r in p_ways}),
        "newer_ways": n_newer,
    }


# ---------------------------------------------------------------------------
# pages / dedupe
# ---------------------------------------------------------------------------

NEAR_DUP_SHARE = 0.3  # docs that are edited copies of another doc
EDIT_RATE = 0.05  # share of a copy's words replaced
VOCAB = 4_000
EMB_DIM = 64
EMB_CLUSTERS = 40
ANN_K = 5


def exact_topk(emb: np.ndarray, n_queries: int, k: int) -> list[set[int]]:
    """Exact cosine top-k (self excluded) of the first n_queries vectors,
    as row indices."""
    x = emb.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    sim = x[:n_queries] @ x.T
    sim[np.arange(n_queries), np.arange(n_queries)] = -np.inf
    return [set(np.argsort(-row, kind="stable")[:k].tolist()) for row in sim]


def gen_dedupe(seed: int, scale: str, out: str) -> dict:
    size = SIZES["dedupe"][scale]
    rng = _rng("page_dedupe", seed)
    n = size["docs"]
    n_copy = int(n * NEAR_DUP_SHARE)
    n_orig = n - n_copy
    zipf = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
    zipf /= zipf.sum()
    words = [f"w{j}" for j in range(VOCAB)]
    toks = [rng.choice(VOCAB, size=int(rng.integers(40, 90)), p=zipf) for _ in range(n_orig)]
    # long-tailed cluster sizes: copies attach to originals by a zipf rank
    w = 1.0 / np.arange(1, n_orig + 1) ** 1.2
    parent = rng.choice(n_orig, size=n_copy, p=w / w.sum())
    for p in parent:
        t = toks[p].copy()
        edit = rng.random(len(t)) < EDIT_RATE
        t[edit] = rng.choice(VOCAB, size=int(edit.sum()), p=zipf)
        toks.append(t)
    order = rng.permutation(n)
    ids = seed * ID_STRIDE + np.arange(n, dtype=np.int64)
    texts = [" ".join(words[j] for j in toks[k]) for k in order]
    docs = pa.table({
        "doc_id": ids,
        "url": [f"https://example.org/doc/{i}" for i in ids],
        "text": texts,
        "lang": np.array(["en", "fr", "de", "es"])[rng.integers(0, 4, n)],
    })
    nv = size["vectors"]
    centers = rng.normal(0, 1, (EMB_CLUSTERS, EMB_DIM))
    emb = centers[rng.integers(0, EMB_CLUSTERS, nv)] + rng.normal(0, 0.35, (nv, EMB_DIM))
    vec_ids = seed * ID_STRIDE + np.arange(nv, dtype=np.int64)
    vectors = pa.table({
        "vec_id": vec_ids,
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
    })
    rows = _write(os.path.join(out, "docs.parquet"), docs)
    rows += _write(os.path.join(out, "vectors.parquet"), vectors)
    nq = size["queries"]
    return {"rows": rows, "docs": n, "queries": nq, "near_dups": n_copy,
            "first_vec_id": int(vec_ids[0]),
            "exact_topk": [sorted(int(vec_ids[j]) for j in s)
                           for s in exact_topk(emb.astype(np.float32), nq, ANN_K)]}


GENERATORS = {
    "geojoin": gen_geojoin,
    "dedupe": gen_dedupe,
    "tiles": gen_tiles,
    "patch": gen_patch,
}


def generate(workload: str, seed: int, scale: str, out: str) -> dict:
    """Inputs of every part of the workload, each under out/<part>/.
    Returns {part: truth, "rows": input rows of all parts}."""
    truth: dict = {"rows": 0}
    for part in PARTS[workload]:
        path = os.path.join(out, part)
        os.makedirs(path, exist_ok=True)
        truth[part] = GENERATORS[part](seed, scale, path)
        truth["rows"] += truth[part]["rows"]
    truth["input_bytes"] = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(out) for f in files
    )
    return truth
