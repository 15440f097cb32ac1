"""The four workloads: inputs, one pass, and the independent output check.

Each workload has three parts:

* ``prepare(ctx)`` writes the inputs for ``ctx.seed`` under ``ctx.input_dir``
  (part of set-up, never timed as a pass);
* ``run(ctx, out_dir, rec)`` makes one pass into a fresh ``out_dir`` and
  returns a :class:`PassResult` whose ``digest`` is an order-insensitive
  hash of everything the pass produced. ``rec`` is a span recorder
  (``tracing.Phases`` or ``tracing.Tracer``); when it is traced, the pass
  also forces lazy layers through a ``noop`` sink so each layer gets a
  span of its own;
* ``check(ctx, out_dir, res)`` compares the output of a pass with an
  independent computation (DuckDB, NumPy, or a second engine path) and
  raises :class:`CheckFailed` on a mismatch. Every later pass must then
  reproduce ``res.digest``.

The seed picks the page-id window and the zone-id window of the
deterministic generators (``synth_pages`` / ``synth_zones``), or the RNG
seed of the registry tables.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cloudtile_spark import caching

# Input sizes per workload (see README.md for why they are this small)
SIZES = {
    "tile_archive": {"pages": 400, "maxz": 8},
    "spatial_join": {"points": 10_000, "zones": 25, "shuffle_zones": 100,
                     "knn_queries": 128},
    "pyramid_lineage": {"points": 50_000, "maxz": 12},
    "registry_mix": {"documents": 2_000, "embeddings": 1_000,
                     "events": 40_000},
}
PAGE_WINDOWS = 1000  # distinct page-id windows the seed selects from
ZONE_WINDOWS = 50    # distinct zone-id windows the seed selects from

REGISTRY_QUERIES = [
    "dedup_minhash_lsh", "ann_lsh_topk", "dedup_cc_clusters",
    "text_tfidf_topk", "zone_overlap_area_poly", "geo_pyramid_z0_8",
    "knn_k5", "ts_asof_join",
]


class CheckFailed(Exception):
    """An output check found a mismatch."""


@dataclass
class Ctx:
    spark: object
    seed: int
    input_dir: str
    sizes: dict
    cores: int
    state: dict = field(default_factory=dict)


@dataclass
class PassResult:
    digest: object
    items: int  # tiles addressed / committed, join rows, result rows


# --------------------------------------------------------------------------
# Digests
# --------------------------------------------------------------------------

def spark_digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, sum of crc32 over "|"-joined columns) — one Spark job."""
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    r = df.select(F.crc32(key).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).collect()[0]
    return int(r.n), int(r.s or 0)


def py_digest(rows) -> tuple[int, int]:
    """The same digest as :func:`spark_digest`, over Python tuples."""
    rows = list(rows)
    return len(rows), sum(
        zlib.crc32("|".join(str(v) for v in r).encode()) for r in rows)


def force(rec, df: DataFrame, key: str) -> None:
    """Traced passes only: run ``df`` into a noop sink under span "force"
    and add its row count to ``rec.counts[key]``."""
    obs = Observation()
    with rec.span("force"):
        df.observe(obs, F.count(F.lit(1)).alias("rows")) \
            .write.format("noop").mode("overwrite").save()
    rec.counts[key] = rec.counts.get(key, 0) + obs.get["rows"]


def _window(seed: int, n: int, windows: int) -> int:
    return (seed % windows) * n


def _pages_window(spark, seed: int, n: int, cores: int) -> DataFrame:
    """``synth_pages`` rows for page ids [lo, lo + n), lo picked by seed."""
    from cloudtile_spark.sources.pages import synth_pages

    lo = _window(seed, n, PAGE_WINDOWS)
    return synth_pages(spark, lo + n, partitions=cores) \
        .filter(F.col("page_id") >= lo).drop("page_id")


def write_pages(spark, path: str, seed: int, n: int, cores: int) -> None:
    """Pages table (FIXTURES §1 columns) of the seed's page window."""
    _pages_window(spark, seed, n, cores) \
        .repartition(cores).write.mode("overwrite").parquet(path)


def write_points(spark, path: str, seed: int, n: int, cores: int) -> None:
    """Extracted points (feature_id, lon, lat) of the seed's page window."""
    from cloudtile_spark.operators.extract import extract_features

    extract_features(_pages_window(spark, seed, n, cores)) \
        .select("feature_id", "lon", "lat") \
        .repartition(cores).write.mode("overwrite").parquet(path)


def zone_window(seed: int, n: int):
    from cloudtile_spark.sources.zones import synth_zones

    lo = _window(seed, n, ZONE_WINDOWS)
    return synth_zones(lo + n).iloc[lo:].reset_index(drop=True)


# --------------------------------------------------------------------------
# tile_archive: pages -> features -> MVT tiles table -> PMTiles archive
# --------------------------------------------------------------------------

STEM = "pages"


class TileArchive:
    name = "tile_archive"
    # the first warm passes still speed up as the JVM compiles: two timed
    # passes per run average that drift and give every run the same pass
    # count (a third pass would not fit the benchmark's run-time budget)
    min_passes = 2

    def prepare(self, ctx: Ctx) -> None:
        ctx.state["pages"] = f"{ctx.input_dir}/{STEM}.parquet"
        write_pages(ctx.spark, ctx.state["pages"], ctx.seed,
                    ctx.sizes["pages"], ctx.cores)

    def run(self, ctx: Ctx, out_dir: str, rec) -> PassResult:
        """The calls of ``convert single-step <pages> 0 <maxz> --pmtiles``,
        in the CLI's order, with the CLI's default settings."""
        from cloudtile_spark.operators.extract import extract_features
        from cloudtile_spark.operators.mvt import encode_point_tiles
        from cloudtile_spark.operators.pmtiles import (
            sorted_tile_stream, tilestats, write_pmtiles_stream)
        from cloudtile_spark.settings import TilingSettings
        from cloudtile_spark.sources.readers import load_features

        from perfbench.tracing import TimedIter

        spark, maxz = ctx.spark, ctx.sizes["maxz"]
        settings = TilingSettings()
        settings["minimum-zoom"] = 0
        settings["maximum-zoom"] = maxz
        tiles_dir = f"{out_dir}/{STEM}-0-{maxz}"
        pm = f"{out_dir}/{STEM}-0-{maxz}.pmtiles"
        with rec.span("tiles_table"):
            with rec.span("extract"):
                feats = extract_features(load_features(spark, ctx.state["pages"]))
                keep = [c for c in ("feature_id", "lon", "lat", "props")
                        if c in feats.columns]
                feats = feats.select(*keep)
            with rec.span("mvt"):
                tiles_df = encode_point_tiles(feats, 0, maxz, settings=settings)
                with rec.span("write"):
                    tiles_df.write.mode("overwrite").partitionBy("z") \
                        .parquet(tiles_dir)
            if rec.traced:
                # probes run after the product call, so first-run costs of
                # the pass land on the write as they do in untraced passes
                with rec.span("extract"):
                    force(rec, feats, "extract.rows_out")
                with rec.span("mvt"):
                    force(rec, tiles_df, "mvt.tiles_out")
                    with rec.span("probe"):
                        rec.counts.update(_tiles_table_stats(spark, tiles_dir))
        with rec.span("archive"):
            tiles_src = spark.read.parquet(tiles_dir).select("z", "x", "y", "mvt")
            with rec.span("tilestats"):
                meta = {"name": STEM, "tilestats": tilestats(feats, settings)}
            with rec.span("pmtiles"):
                stream = TimedIter(sorted_tile_stream(tiles_src))
                stats = write_pmtiles_stream(pm, stream, 0, maxz, metadata=meta)
        rec.counts.update({f"pmtiles.{k}": v for k, v in stats.items()})
        rec.counts["pmtiles.stream_s"] = stream.wait_s
        rec.counts["pmtiles.archive_bytes"] = os.path.getsize(pm)
        return PassResult(_file_sha256(pm), stats["n_addressed"])

    def check(self, ctx: Ctx, out_dir: str, res: PassResult) -> None:
        """Every archive tile decodes to the ``build_pyramid`` feature count
        of its (z, x, y), and the archive addresses exactly those tiles."""
        from cloudtile_spark.operators.extract import extract_features
        from cloudtile_spark.operators.mvt import decode_tile
        from cloudtile_spark.operators.pmtiles import read_pmtiles
        from cloudtile_spark.operators.pyramid import build_pyramid

        feats = extract_features(ctx.spark.read.parquet(ctx.state["pages"]))
        expected = {
            hilbert_tile_id(r.z, r.x, r.y): r.feature_count
            for r in build_pyramid(feats.select("feature_id", "lon", "lat"),
                                   minz=0, maxz=ctx.sizes["maxz"],
                                   with_ids=False).collect()
        }
        tiles = read_pmtiles(
            f"{out_dir}/{STEM}-0-{ctx.sizes['maxz']}.pmtiles")["tiles"]
        if set(tiles) != set(expected):
            raise CheckFailed(
                f"archive addresses {len(tiles)} tiles, build_pyramid has "
                f"{len(expected)}")
        bad = [t for t, blob in tiles.items()
               if len(decode_tile(blob)["features"]) != expected[t]]
        if bad:
            raise CheckFailed(f"{len(bad)} archive tiles disagree with "
                              f"build_pyramid feature_count")


def _tiles_table_stats(spark, tiles_dir: str) -> dict[str, float]:
    """Encoded features and payload bytes of a written tiles table."""
    r = spark.read.parquet(tiles_dir).agg(
        F.sum("feature_count").alias("f"),
        F.sum(F.length("mvt")).alias("b")).collect()[0]
    return {"mvt.features_encoded": int(r.f or 0),
            "mvt.bytes_out": int(r.b or 0)}


def hilbert_tile_id(z: int, x: int, y: int) -> int:
    """PMTiles v3 tile id (spec reference algorithm, scalar)."""
    acc = (4 ** z - 1) // 3
    n = 1 << z
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return acc + d


def _file_sha256(path: str) -> str:
    import hashlib

    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


# --------------------------------------------------------------------------
# spatial_join: pip_join, pip_join_shuffle, knn_join_adaptive
# --------------------------------------------------------------------------

class SpatialJoin:
    name = "spatial_join"
    min_passes = 2
    joins = ("pip", "pip_shuffle", "knn")

    def prepare(self, ctx: Ctx) -> None:
        ctx.state["points"] = f"{ctx.input_dir}/points.parquet"
        write_points(ctx.spark, ctx.state["points"], ctx.seed,
                     ctx.sizes["points"], ctx.cores)
        ctx.state["zones"] = zone_window(ctx.seed, ctx.sizes["zones"])
        ctx.state["shuffle_zones"] = zone_window(
            ctx.seed, ctx.sizes["shuffle_zones"])

    def _queries(self, ctx: Ctx, pts: DataFrame) -> DataFrame:
        step = ctx.sizes["points"] // ctx.sizes["knn_queries"]
        return pts.filter(F.col("feature_id") % step == 0).select(
            F.col("feature_id").alias("query_id"),
            F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))

    def run(self, ctx: Ctx, out_dir: str, rec) -> PassResult:
        from cloudtile_spark.operators.joins import (
            knn_join_adaptive, pip_join, pip_join_shuffle, zones_to_df)

        spark = ctx.spark
        feats = spark.read.parquet(ctx.state["points"])
        digests = {}
        with rec.span("pip"):
            with rec.span("call"):
                df = pip_join(feats, ctx.state["zones"])
            with rec.span("action"):
                digests["pip"] = spark_digest(df, ["feature_id", "zone_id"])
        with rec.span("pip_shuffle"):
            old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                with rec.span("call"):
                    df = pip_join_shuffle(
                        feats, zones_to_df(spark, ctx.state["shuffle_zones"]),
                        res=7, salt_buckets=8)
                with rec.span("action"):
                    digests["pip_shuffle"] = spark_digest(
                        df, ["feature_id", "zone_id"])
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        with rec.span("knn"):
            try:
                with rec.span("stage"):
                    pts = caching.stage(spark.read.parquet(ctx.state["points"]))
                    pts.count()
                with rec.span("call"):
                    df = knn_join_adaptive(pts, self._queries(ctx, pts), k=5)
                with rec.span("action"):
                    digests["knn"] = spark_digest(
                        df, ["query_id", "feature_id", "rank"])
            finally:
                with rec.span("release"):
                    rec.counts["caching.staged"] = caching.release_staged()
        for j, (n, _) in digests.items():
            rec.counts[f"joins.{j}.rows_out"] = n
        return PassResult(digests, sum(n for n, _ in digests.values()))

    def check(self, ctx: Ctx, out_dir: str, res: PassResult) -> None:
        """PIP rows against DuckDB half-plane predicates
        (``zone_predicate_sql``); kNN rows against a NumPy brute force."""
        pts = ctx.spark.read.parquet(ctx.state["points"]) \
            .select("feature_id", "lon", "lat").toPandas()
        expected = {
            "pip": py_digest(_duck_pip(pts, ctx.state["zones"])),
            "pip_shuffle": py_digest(_duck_pip(pts, ctx.state["shuffle_zones"])),
            "knn": py_digest(_numpy_knn(
                pts, ctx.sizes["points"] // ctx.sizes["knn_queries"], k=5)),
        }
        for j in self.joins:
            if res.digest[j] != expected[j]:
                raise CheckFailed(f"{j}: spark {res.digest[j]} != "
                                  f"independent {expected[j]}")


def _duck_pip(pts, zones) -> list[tuple[int, int]]:
    import duckdb

    from cloudtile_spark.sources.zones import zone_predicate_sql

    con = duckdb.connect()
    try:
        con.register("pts", pts)
        parts = []
        for zid, ring in zip(zones.zone_id, zones.ring):
            ring = np.asarray(ring, dtype=np.float64)
            (x0, y0), (x1, y1) = ring.min(axis=0), ring.max(axis=0)
            parts.append(
                f"SELECT feature_id, {int(zid)} AS zone_id FROM pts "
                f"WHERE lon BETWEEN {x0!r} AND {x1!r} "
                f"AND lat BETWEEN {y0!r} AND {y1!r} "
                f"AND {zone_predicate_sql(ring, 'lon', 'lat')}")
        return con.execute(" UNION ALL ".join(parts)).fetchall()
    finally:
        con.close()


def _numpy_knn(pts, step: int, k: int) -> list[tuple[int, int, int]]:
    """Brute-force kNN with the haversine formula of ``geom.haversine_sql``;
    ties on distance break on feature_id, self matches excluded."""
    from cloudtile_spark.geom import EARTH_RADIUS_M

    fid = pts.feature_id.to_numpy(np.int64)
    lon = np.radians(pts.lon.to_numpy(np.float64))
    lat = np.radians(pts.lat.to_numpy(np.float64))
    out = []
    for i in np.flatnonzero(fid % step == 0):
        h = (np.sin((lat - lat[i]) / 2) ** 2
             + np.cos(lat[i]) * np.cos(lat) * np.sin((lon - lon[i]) / 2) ** 2)
        d = 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))
        d[i] = np.inf
        cand = np.flatnonzero(d <= np.partition(d, k)[k])
        order = cand[np.lexsort((fid[cand], d[cand]))][:k]
        out += [(int(fid[i]), int(fid[j]), r + 1) for r, j in enumerate(order)]
    return out


# --------------------------------------------------------------------------
# pyramid_lineage: resumable per-zoom commits
# --------------------------------------------------------------------------

TILE_COLS = ["z", "x", "y", "feature_count", "checksum"]


class PyramidLineage:
    name = "pyramid_lineage"
    min_passes = 1

    def prepare(self, ctx: Ctx) -> None:
        ctx.state["points"] = f"{ctx.input_dir}/points.parquet"
        write_points(ctx.spark, ctx.state["points"], ctx.seed,
                     ctx.sizes["points"], ctx.cores)

    def run(self, ctx: Ctx, out_dir: str, rec) -> PassResult:
        from cloudtile_spark.operators.pyramid import (
            assign_xy, capped_tile_summary)
        from cloudtile_spark.plans.lineage import (
            committed_zooms, read_tiles, resume_pyramid)
        from cloudtile_spark.settings import TilingSettings

        spark, maxz = ctx.spark, ctx.sizes["maxz"]
        feats = spark.read.parquet(ctx.state["points"])
        with rec.span("lineage"):
            resume_pyramid(feats, out_dir, "perfbench", 0, maxz)
        with rec.span("verify"):
            zooms = committed_zooms(spark, out_dir)
            digest = spark_digest(read_tiles(spark, out_dir), TILE_COLS)
        if rec.traced:
            cap = TilingSettings()["maximum-tile-features"]
            with rec.span("summary"):
                for z in range(maxz + 1):
                    force(rec, capped_tile_summary(
                        assign_xy(feats.withColumn("z", F.lit(z))), cap,
                        with_ids=True), "pyramid.tiles_out")
        if zooms != set(range(maxz + 1)):
            raise CheckFailed(f"committed zooms {sorted(zooms)}")
        return PassResult(digest, digest[0])

    def check(self, ctx: Ctx, out_dir: str, res: PassResult) -> None:
        """The committed tiles equal one ``build_pyramid(with_ids=True)``
        plan over the same points, row for row."""
        from cloudtile_spark.operators.pyramid import build_pyramid
        from cloudtile_spark.plans.lineage import read_tiles

        got = read_tiles(ctx.spark, out_dir).select(*TILE_COLS).collect()
        want = build_pyramid(ctx.spark.read.parquet(ctx.state["points"]),
                             minz=0, maxz=ctx.sizes["maxz"], with_ids=True) \
            .select(*TILE_COLS).collect()
        if sorted(map(tuple, got)) != sorted(map(tuple, want)):
            raise CheckFailed("committed tiles differ from build_pyramid")
        if py_digest(map(tuple, want)) != res.digest:
            raise CheckFailed("tile digest differs from build_pyramid rows")


# --------------------------------------------------------------------------
# registry_mix: staged registry queries through REGISTRY[...].spark_fn
# --------------------------------------------------------------------------

class RegistryMix:
    name = "registry_mix"
    min_passes = 1

    def prepare(self, ctx: Ctx) -> None:
        from perfbench.tables import write_tables

        ctx.state["sf_dir"] = f"{ctx.input_dir}/tables"
        write_tables(ctx.state["sf_dir"], ctx.seed, ctx.sizes["documents"],
                     ctx.sizes["embeddings"], ctx.sizes["events"])

    def run(self, ctx: Ctx, out_dir: str, rec) -> PassResult:
        from cloudtile_spark.queries import REGISTRY

        hashes = {}
        for name in REGISTRY_QUERIES:
            with rec.span(f"q.{name}"):
                df = REGISTRY[name].spark_fn(ctx.spark, ctx.state["sf_dir"])
                hashes[name] = canonical_hash(df)
        with rec.span("release"):
            rec.counts["caching.staged"] = caching.release_staged()
        return PassResult(hashes, sum(n for _, n in hashes.values()))

    def check(self, ctx: Ctx, out_dir: str, res: PassResult) -> None:
        """Each query's canonical hash (tools/check_correctness.py) against
        its DuckDB oracle on the same parquet. The overlay query's oracle is
        a golden fixture for other data, so it is checked against its
        shuffle-join twin instead."""
        import duckdb

        from cloudtile_spark.queries import REGISTRY, TABLES

        sf = ctx.state["sf_dir"]
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{sf}/{t}.parquet'")
            for name in REGISTRY_QUERIES:
                if name == "zone_overlap_area_poly":
                    want = canonical_hash(REGISTRY[
                        "zone_overlap_area_poly_shuffle"].spark_fn(
                            ctx.spark, sf))
                else:
                    cur = con.execute(REGISTRY[name].oracle)
                    want = _table_hash([d[0].lower() for d in cur.description],
                                       cur.fetchall())
                if res.digest[name] != want:
                    raise CheckFailed(f"{name}: spark {res.digest[name]} != "
                                      f"oracle {want}")
        finally:
            con.close()
            caching.release_staged()


def _table_hash(cols, rows):
    from tools.check_correctness import table_hash

    return table_hash(cols, rows)


def canonical_hash(df: DataFrame) -> tuple[str, int]:
    """Collect ``df`` and hash it order-insensitively, the way the
    correctness gate does (a bare ``count()`` lets Catalyst prune work)."""
    return _table_hash([c.lower() for c in df.columns],
                       [tuple(r) for r in df.collect()])


WORKLOADS = {w.name: w for w in (TileArchive(), SpatialJoin(),
                                 PyramidLineage(), RegistryMix())}
