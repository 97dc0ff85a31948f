"""The two workloads, `pages` and `osm`, each made of two parts run one
after the other (`WORKLOADS`). A part drives the engine through the
public functions of `osmix_spark`, writes its result with one or more
terminal actions (each inside `ctx.sink()`), then checks the result
inside `ctx.checking()`, where no span is recorded. A part returns an
order-independent digest of its output and the checks that failed.

Modules are referenced as `module.function` at call time, so the
tracer's rebinding of module attributes reaches every call, including
the calls one layer makes into another.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmix_spark.functions import mvt
from osmix_spark.operators import dedupe, extract, merge, similarity, skew, spatial, tiles
from osmix_spark.plans import lineage
from osmix_spark.sources import geotag, pbf
from osmix_spark.sources import pages as pages_src

from . import gen


@dataclass
class Context:
    input_dir: str  # generated parquet, read-only
    out_dir: str  # fresh per run
    truth: dict
    traced: bool = False  # also compute the counters only the traced run reports
    sink: Callable = contextlib.nullcontext  # span around a terminal action
    checking: Callable = contextlib.nullcontext  # pauses spans during the checks
    t0: float = field(default_factory=time.perf_counter)
    run_s: float = 0.0  # wall from start to the last terminal action

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self.input_dir, name))

    def ran(self) -> None:
        self.run_s = time.perf_counter() - self.t0


@dataclass
class Result:
    digest: str
    bytes_written: int
    errors: list[str] = field(default_factory=list)
    facts: dict = field(default_factory=dict)  # layer-specific counters


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:32]


def combine(digests: list[str]) -> str:
    """Digest of a whole run from its parts' digests, in part order."""
    return hashlib.sha256("|".join(digests).encode()).hexdigest()[:32]


def _expect(errors: list[str], what: str, got, want) -> None:
    if got != want:
        errors.append(f"{what}: got {got}, expected {want}")


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# pages / geojoin: geotag -> adaptive cell -> point-in-polygon + kNN -> per cell
# ---------------------------------------------------------------------------

BASE_Z, FINE_Z = 12, 15


def hot_threshold(truth: dict) -> int:
    """Rows above which a z12 cell escalates to z15."""
    return max(truth["pages"] // 40, 10)


def pages_geojoin(spark: SparkSession, ctx: Context) -> Result:
    # point_in_polygon takes the polygons as a Python list: read them
    # without a Spark job
    polygons = [
        (r["polygon_id"], list(zip(r["lons"], r["lats"])))
        for r in pq.read_table(os.path.join(ctx.input_dir, "polygons.parquet")).to_pylist()
    ]
    tagged = geotag.geotag_pages(ctx.read(spark, "pages.parquet"), pages_src.GAZETTEER)
    tagged = tagged.withColumn("page_id", F.regexp_extract("url", r"(\d+)$", 1).cast("long"))
    cells = skew.with_adaptive_cell(tagged, base_z=BASE_Z, fine_z=FINE_Z,
                                    threshold=hot_threshold(ctx.truth))
    # written once: knn_join's ring loop and the final join both re-read it
    # instead of re-running geotagging and the polygon join
    inside_path = os.path.join(ctx.out_dir, "inside.parquet")
    with ctx.sink():
        spatial.point_in_polygon(
            cells, polygons, keep=["page_id", "lon", "lat", "cell", "geo_source"]
        ).write.parquet(inside_path)
    inside = spark.read.parquet(inside_path)
    knn = spatial.knn_join(
        inside.select(F.col("page_id").alias("query_id"), "lon", "lat"),
        ctx.read(spark, "nodes.parquet"), k=gen.KNN_K, z=BASE_Z,
    )
    near = knn.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_knn"), F.sum("id").alias("knn_ids")
    )
    per_cell = (
        inside.join(near, inside.page_id == near.query_id, "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum((F.col("geo_source") == "coord").cast("long")).alias("n_coord"),
            F.sum((F.col("geo_source") == "place").cast("long")).alias("n_place"),
            F.sum("polygon_id").alias("polygon_ids"),
            F.sum("n_knn").alias("n_knn"),
            F.sum("knn_ids").alias("knn_ids"),
        )
    )
    out = os.path.join(ctx.out_dir, "per_cell.parquet")
    with ctx.sink():
        per_cell.write.parquet(out)
    ctx.ran()

    with ctx.checking():
        rows = [tuple(r) for r in spark.read.parquet(out).collect()]
    t, errors = ctx.truth, []
    n_pages = sum(r[1] for r in rows)
    n_coord, n_place = sum(r[2] for r in rows), sum(r[3] for r in rows)
    dropped = t["pages"] - n_pages
    _expect(errors, "coordinate pages", n_coord, t["coord"])
    _expect(errors, "place pages", n_place, t["place"])
    _expect(errors, "dropped pages", dropped, t["none"])
    _expect(errors, "pages in = coord + place + dropped", t["pages"], n_coord + n_place + dropped)
    _expect(errors, "polygon id sum", sum(r[4] for r in rows), t["polygon_id_sum"])
    _expect(errors, "knn rows", sum(r[5] or 0 for r in rows), t["knn_rows"])
    # packed cell key: z << 58 | x << 29 | y
    mask = (1 << 29) - 1
    fine = {((c >> 29) & mask, c & mask) for c, *_ in rows if c >> 58 == FINE_Z}
    shift = FINE_Z - BASE_Z
    facts = {
        "sources.geotag.drop_share": dropped / t["pages"],
        "operators.skew.hot_cells": len({(x >> shift, y >> shift) for x, y in fine}),
        "operators.skew.max_cell_share": max(r[1] for r in rows) / n_pages,
        "operators.spatial.pairs_out": n_pages + sum(r[5] or 0 for r in rows),
    }
    return Result(_digest(rows), dir_bytes(out) + dir_bytes(inside_path), errors, facts)


# ---------------------------------------------------------------------------
# osm / tiles: line, point, polygon vector tiles + composite raster tiles
# ---------------------------------------------------------------------------

def osm_tiles(spark: SparkSession, ctx: Context) -> Result:
    verts = ctx.read(spark, "verts.parquet")
    points = ctx.read(spark, "points.parquet")
    rings = ctx.read(spark, "rings.parquet")
    z, rz = gen.TILE_Z, gen.RASTER_Z

    def table(df: DataFrame, kind: str, data: str) -> DataFrame:
        return df.select(F.lit(kind).alias("kind"), "z", "tx", "ty", "n_features",
                         F.col(data).alias("data"))

    ways = tiles.encode_way_mvt_vertices(verts, z=z)
    pois = tiles.shortbread_point_tiles(points, z=z)
    areas = tiles.encode_polygon_mvt(tiles.ring_tile_px(rings, z=z))
    raster = tiles.render_composite_raster(tiles.composite_raster_inputs(
        points_px=tiles.point_tile_px(points, z=rz),
        rings_px=tiles.ring_tile_px(rings, z=rz),
    ))
    out_df = (
        table(ways, "ways", "tile").unionByName(table(pois, "points", "tile"))
        .unionByName(table(areas, "areas", "tile")).unionByName(table(raster, "raster", "png"))
    )
    out = os.path.join(ctx.out_dir, "tiles.parquet")
    with ctx.sink():
        out_df.write.parquet(out)
    ctx.ran()

    with ctx.checking():
        rows = spark.read.parquet(out).collect()
    decoded = {"ways": 0, "points": 0, "areas": 0}
    reported = {"ways": 0, "points": 0, "areas": 0, "raster": 0}
    digest_rows, tile_bytes = [], 0
    for r in rows:
        data = bytes(r["data"])
        tile_bytes += len(data)
        reported[r["kind"]] += r["n_features"]
        if r["kind"] != "raster":
            decoded[r["kind"]] += sum(
                s["n_features"] for s in mvt.decode_tile_stats_np(data).values()
            )
        digest_rows.append((r["kind"], r["z"], r["tx"], r["ty"], hashlib.md5(data).hexdigest()))
    t, errors = ctx.truth, []
    _expect(errors, "decoded way features x tiles", decoded["ways"], t["way_features"])
    _expect(errors, "decoded point features", decoded["points"], t["point_features"])
    _expect(errors, "decoded area features x tiles", decoded["areas"], t["area_features"])
    _expect(errors, "raster features x tiles", reported["raster"], t["raster_features"])
    for kind in decoded:
        _expect(errors, f"{kind}: decoded = encoder count", decoded[kind], reported[kind])
    facts = {"operators.tiles.tiles_out": len(rows), "operators.tiles.tile_bytes": tile_bytes}
    return Result(_digest(digest_rows), dir_bytes(out), errors, facts)


# ---------------------------------------------------------------------------
# osm / patch: upsert a patch over a base with a lineage checkpoint ->
# extract -> PBF round trip
# ---------------------------------------------------------------------------

def _canon_tags(col: str):
    entries = F.transform(F.map_entries(F.col(col)), lambda e: F.concat(e.key, F.lit("="), e.value))
    return F.coalesce(F.array_join(F.array_sort(entries), ","), F.lit(""))


def _canon_digest(df: DataFrame, kind: str) -> DataFrame:
    """One row (kind, rows, hash): a count plus a commutative row-hash sum.
    Coordinates compare on the PBF's 1e-7 degree grid."""
    if kind.endswith("nodes"):
        key = F.concat_ws("|", F.col("id"), F.bround(F.col("lon") * 1e7, 0).cast("long"),
                          F.bround(F.col("lat") * 1e7, 0).cast("long"), _canon_tags("tags"))
    else:
        key = F.concat_ws("|", F.col("id"), F.array_join(F.col("refs"), ","), _canon_tags("tags"))
    return df.select(F.xxhash64(key).cast("decimal(38,0)").alias("h")).agg(
        F.lit(kind).alias("kind"), F.count(F.lit(1)).alias("n"),
        F.sum("h").cast("string").alias("h"),
    )


def osm_patch(spark: SparkSession, ctx: Context) -> Result:
    ckpt = os.path.join(ctx.out_dir, "checkpoints", "merged_nodes")
    if os.path.exists(ckpt):  # a reused directory would turn the run into a cache read
        raise RuntimeError(f"checkpoint directory is not fresh: {ckpt}")
    merged = merge.direct_merge(ctx.read(spark, "base_nodes.parquet"),
                                ctx.read(spark, "patch_nodes.parquet"))
    ways = merge.direct_merge(ctx.read(spark, "base_ways.parquet"),
                              ctx.read(spark, "patch_ways.parquet"))
    nodes = lineage.resume_or_run(spark, ckpt, stage="merged_nodes", key="id",
                                  build=lambda: merged)
    ex_nodes, ex_ways = extract.extract(nodes, ways, *gen.EXTRACT_BBOX)
    extracted = {k: os.path.join(ctx.out_dir, f"extract_{k}.parquet") for k in ("nodes", "ways")}
    with ctx.sink():
        ex_nodes.write.parquet(extracted["nodes"])
        ex_ways.write.parquet(extracted["ways"])
    path = os.path.join(ctx.out_dir, "extract.osm.pbf")
    pbf.write_pbf(path, spark.read.parquet(extracted["nodes"]),
                  spark.read.parquet(extracted["ways"]))
    back = pbf.read_pbf(spark, path)
    with ctx.sink():
        d = {r["kind"]: (r["n"], r["h"]) for r in _canon_digest(back["nodes"], "pbf_nodes")
             .unionByName(_canon_digest(back["ways"], "pbf_ways")).collect()}
    ctx.ran()

    t, errors = ctx.truth, []
    with ctx.checking():
        d.update({r["kind"]: (r["n"], r["h"]) for r in
                  _canon_digest(spark.read.parquet(extracted["nodes"]), "nodes")
                  .unionByName(_canon_digest(spark.read.parquet(extracted["ways"]), "ways"))
                  .collect()})
        verified = lineage.verify(spark, ckpt)
        merged_nodes = nodes.count()
        merged_ways = ways.count()
        newer = ways.filter(F.element_at("tags", F.lit("version")) == "2").count()
    _expect(errors, "read_pbf(write_pbf(nodes))", d["pbf_nodes"], d["nodes"])
    _expect(errors, "read_pbf(write_pbf(ways))", d["pbf_ways"], d["ways"])
    _expect(errors, "lineage.verify on the checkpoint", verified, True)
    _expect(errors, "merged nodes = base ids | patch ids", merged_nodes, t["merged_nodes"])
    _expect(errors, "merged ways = base ids | patch ids", merged_ways, t["merged_ways"])
    _expect(errors, "patch versions won", newer, t["newer_ways"])
    written = sum(dir_bytes(p) for p in (ckpt, path, *extracted.values()))
    facts = {"plans.lineage.bytes_written": dir_bytes(ckpt),
             "sources.pbf.bytes": os.path.getsize(path)}
    return Result(_digest(list(d.items())), written, errors, facts)


# ---------------------------------------------------------------------------
# pages / dedupe: MinHash/LSH + Jaccard + components, embedding ANN
# ---------------------------------------------------------------------------

JACCARD_MIN = 0.5
ANN_TABLES, ANN_BITS = 8, 4
# LSH (4 bands of 2 min-hashes) pairs two docs of Jaccard J with
# probability 1 - (1 - J^2)^4: 0.99 at J = 0.8 but 0.70 at J = 0.55, and
# jaccard_verify drops pairs under JACCARD_MIN. The copies' Jaccard with
# their original spreads over that range, so LSH leaves some copies
# unmerged (14% and 20% of them on seed 0 at two input sizes); a page
# that is no copy must never be merged.
DUP_MISS_TOLERANCE = 0.3  # share of near duplicates LSH may leave unmerged
ANN_MIN_RECALL = 0.9  # recall@k of ann_topk against the exact top-k


def pages_dedupe(spark: SparkSession, ctx: Context) -> Result:
    docs, vectors = ctx.read(spark, "docs.parquet"), ctx.read(spark, "vectors.parquet")
    shingles = dedupe.shingle_set(docs, "doc_id", "text", k=3)
    sig = dedupe.minhash_signatures(shingles, "doc_id")
    candidates = dedupe.lsh_candidate_pairs(sig, "doc_id")
    verified = dedupe.jaccard_verify(shingles, candidates, "doc_id", threshold=JACCARD_MIN)
    clusters = dedupe.dedupe_clusters(docs, verified.select("id_a", "id_b"), "doc_id")
    queries = vectors.filter(
        F.col("vec_id") < ctx.truth["first_vec_id"] + ctx.truth["queries"]
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    ann = similarity.ann_topk(queries, vectors, k=gen.ANN_K,
                              bits_per_table=ANN_BITS, n_tables=ANN_TABLES)
    paths = {n: os.path.join(ctx.out_dir, f"{n}.parquet") for n in ("clusters", "ann")}
    with ctx.sink():
        clusters.write.parquet(paths["clusters"])
        ann.write.parquet(paths["ann"])
    ctx.ran()

    facts = {}
    with ctx.checking():
        def read(name, *cols):
            return [tuple(r) for r in spark.read.parquet(paths[name]).select(*cols).collect()]

        cl = read("clusters", "doc_id", "component", "cluster_size", "is_survivor")
        an = read("ann", "query_id", "vec_id", "rank")
        if ctx.traced:
            n_cand = candidates.count()
            facts["operators.dedupe.candidate_pairs"] = n_cand
            facts["operators.dedupe.pair_yield"] = verified.count() / max(n_cand, 1)
            sig_q = similarity.lsh_signature(queries, "query_id", "embedding", gen.EMB_DIM,
                                             ANN_BITS, ANN_TABLES)
            sig_c = similarity.lsh_signature(vectors, "vec_id", "embedding", gen.EMB_DIM,
                                             ANN_BITS, ANN_TABLES)
            pairs = (sig_q.join(sig_c, ["table", "bucket"])
                     .filter(F.col("query_id") != F.col("vec_id"))
                     .select("query_id", "vec_id").distinct().count())
            facts["operators.similarity.candidates_per_query"] = pairs / ctx.truth["queries"]

    t, errors = ctx.truth, []
    ids = [r[0] for r in cl]
    _expect(errors, "clustered docs", len(ids), t["docs"])
    _expect(errors, "docs listed once", len(set(ids)), len(ids))
    members: dict[int, list[int]] = {}
    for doc, comp, _size, _surv in cl:
        members.setdefault(comp, []).append(doc)
    _expect(errors, "components not labelled by their min id",
            sum(min(m) != c for c, m in members.items()), 0)
    _expect(errors, "rows with a wrong size or survivor flag",
            sum(r[2] != len(members[r[1]]) or r[3] != (r[0] == r[1]) for r in cl), 0)
    merged = sum(not r[3] for r in cl)  # docs folded into another doc's cluster
    if not t["near_dups"] - DUP_MISS_TOLERANCE * t["near_dups"] <= merged <= t["near_dups"]:
        errors.append(f"docs merged into a cluster: got {merged}, expected "
                      f"{t['near_dups']} (tolerance {DUP_MISS_TOLERANCE:.0%} fewer)")
    ranks: dict[int, list[int]] = {}
    found: dict[int, set[int]] = {}
    for q, v, rank in an:
        ranks.setdefault(q, []).append(rank)
        found.setdefault(q, set()).add(v)
    _expect(errors, "queries answered", len(ranks), t["queries"])
    _expect(errors, "queries without ranks 1..k",
            sum(sorted(r) != list(range(1, gen.ANN_K + 1)) for r in ranks.values()), 0)
    exact = {t["first_vec_id"] + i: set(top) for i, top in enumerate(t["exact_topk"])}
    recall = sum(len(found.get(q, set()) & ids) for q, ids in exact.items()) / (
        gen.ANN_K * len(exact))
    if recall < ANN_MIN_RECALL:
        errors.append(f"ANN recall@{gen.ANN_K} {recall:.3f} < {ANN_MIN_RECALL}")
    written = sum(dir_bytes(p) for p in paths.values())
    rows = [("c",) + r for r in cl] + [("a",) + r for r in an]
    return Result(_digest(rows), written, errors, facts)


WORKLOADS = {
    "pages": {"geojoin": pages_geojoin, "dedupe": pages_dedupe},
    "osm": {"tiles": osm_tiles, "patch": osm_patch},
}
