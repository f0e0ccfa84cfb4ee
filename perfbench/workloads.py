"""The benchmark's three pipelines: the geocode batch job, the lookup queries
and the ingest/upsert write path.

``run.py`` sets all three up in every run and interleaves their operations
in one closed loop with one client and no think time.

Each class's ``op`` performs one operation, checks it against the numpy
oracle and returns (ok, timings, info).  The spans recorded through ``tracer``
sit around the benchmark's calls into the program's public functions.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from co_new_spark.functions import cells_sql, geo, text
from co_new_spark.grid import proj
from co_new_spark.operators import cover as cover_op
from co_new_spark.operators import knn as knn_op
from co_new_spark.plans import lineage
from co_new_spark.sources import tables

import gen
import oracle

# Input sizes (fixed: the seed changes the contents, never the size).
GEOCODE_PAGES = 100_000
POINTS = 50_000
PROBE_BATCH = 256
CRAWL_PAGES = 5_000
RECRAWL_PAGES = 500
NEW_PAGES = 500

PAGE_RBITS = 26     # encode_b_cell_from_text(text, 26)
POINT_RBITS = 14    # stored point cells: ~4 km squares, ring 1 = ~12 km
KNN_K, KNN_RING, KNN_FALLBACK = 5, 1, 2
ROLLUP_ANCHOR_DEPTH = 10
ROLLUP_UP_BITS = 4  # two quadtree levels up


def _write_table(pdf: pd.DataFrame, path: str, files: int) -> None:
    """Parquet directory with ``files`` part files (so Spark splits it)."""
    os.makedirs(path, exist_ok=True)
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    if "warc_ts" in pdf:
        t = t.set_column(t.schema.get_field_index("warc_ts"), "warc_ts",
                         t.column("warc_ts").cast(pa.timestamp("us", tz="UTC")))
    step = -(-t.num_rows // files)
    for k in range(files):
        pq.write_table(t.slice(k * step, step), f"{path}/part-{k:05d}.parquet")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


class Geocode:
    """Batch job: stored pages -> fused geocode UDF -> cover join -> counts."""

    def __init__(self, spark: SparkSession, data: str, seed: int, tracer, cores: int):
        self.spark, self.data, self.tracer = spark, data, tracer
        p = gen.pages(seed, GEOCODE_PAGES)
        _write_table(gen.table(p), f"{data}/pages.parquet", 2 * cores)
        cov = gen.cover(seed)
        _write_table(cov, f"{data}/cover.parquet", 1)
        has = p["anchor"] < 2
        cells = oracle.truth_cells(np.where(has, p["lat"], np.nan),
                                   np.where(has, p["lon"], np.nan), PAGE_RBITS)
        self.expected = oracle.CoverIndex(cov).counts(cells)
        self.n_valid = int((cells >= 0).sum())

    def op(self, i: int):
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("sources", "tables.load"):
            pages = tables.load(self.spark, self.data, "pages")
            cover = tables.load(self.spark, self.data, "cover")
        with tr.span("functions.geo", "encode_b_cell_from_text"):
            pts = pages.select(
                geo.encode_b_cell_from_text(F.col("text"), PAGE_RBITS).alias("cell"))
        with tr.span("operators.cover", "cover_lookup_best"):
            joined = cover_op.cover_lookup_best(pts, cover, keep=["cell"], dedup=False)
        with tr.span("plans.session", "collect"):
            rows = joined.groupBy("isolabel_ext").count().collect()
        wall = time.perf_counter() - t0
        got = {r[0]: r[1] for r in rows}
        matched = sum(got.values())
        return got == self.expected, {"geocode_s": wall}, {
            "result_rows": matched, "input_rows": GEOCODE_PAGES,
            "match_ratio": matched / max(self.n_valid, 1)}


class Lookup:
    """Closed-loop query stream over the stored, ledgered point table."""

    def __init__(self, spark: SparkSession, data: str, work: str, seed: int, tracer):
        self.spark, self.data, self.tracer = spark, data, tracer
        self.base = f"{work}/points"
        # The stored table holds already-geocoded points (an earlier
        # pipeline stage's output): the benchmark projects and encodes them
        # with the grid kernels, the program commits them.
        pts = gen.points(seed, POINTS)
        x, y = proj.forward(pts["lat"].to_numpy(), pts["lon"].to_numpy())
        self.cells = oracle.truth_cells(pts["lat"], pts["lon"], POINT_RBITS)
        table = pd.DataFrame({"cid": pts["cid"], "x": x, "y": y, "cell": self.cells})
        g = spark.createDataFrame(table) \
            .withColumn("bucket", cells_sql.cell_l0_digit(F.col("cell")))
        with tracer.span("plans.lineage", "resumable_write"):
            lineage.resumable_write(g, self.base, "bucket")
        self.knn = oracle.KnnOracle(pts["cid"], x, y, POINT_RBITS)
        self.cover_index = oracle.CoverIndex(
            pd.read_parquet(f"{data}/cover.parquet"))
        rng = np.random.default_rng([seed, 5])
        self.qlat, self.qlon = gen.query_points(seed, 4096)
        self.blat, self.blon = gen.query_points(seed + 1_000_003, 4096 * 4)
        self.anchor_cid = rng.integers(0, POINTS, 4096)

    def op(self, kind: str, j: int):
        """The ``j``-th query of ``kind`` (knn, probe or rollup)."""
        ok, wall, info = getattr(self, "_" + kind)(j)
        return ok, {f"{kind}_s": wall}, info

    def _knn(self, j: int):
        tr, spark = self.tracer, self.spark
        lat, lon = float(self.qlat[j % 4096]), float(self.qlon[j % 4096])
        t0 = time.perf_counter()
        with tr.span("functions.geo", "latlon_to_xy_cell"):
            q = spark.createDataFrame([(j, lat, lon)], "qid long, lat double, lon double") \
                .select("qid", geo.latlon_to_xy_cell(
                    F.col("lat"), F.col("lon"), POINT_RBITS).alias("p")) \
                .select("qid", "p.x", "p.y", "p.cell")
        with tr.span("plans.lineage", "dataset"):
            cand = lineage.dataset(spark, self.base, "bucket").select("cid", "x", "y", "cell")
        with tr.span("operators.knn", "knn_ring"):
            res = knn_op.knn_ring(q, cand, k=KNN_K, ring=KNN_RING,
                                  fallback_ring=KNN_FALLBACK)
        with tr.span("plans.session", "collect"):
            rows = [(r["cid"], r["dist"], r["rn"]) for r in res.collect()]
        wall = time.perf_counter() - t0
        qx, qy = proj.forward(np.array([lat]), np.array([lon]))
        cids, dists, used = self.knn.query(float(qx[0]), float(qy[0]), KNN_K,
                                           KNN_RING, KNN_FALLBACK)
        return oracle.knn_matches(rows, cids, dists), wall, {
            "result_rows": len(rows), "input_rows": 1, "fallback": used}

    def _probe(self, j: int):
        tr, spark = self.tracer, self.spark
        sl = slice((j * PROBE_BATCH) % len(self.blat),
                   (j * PROBE_BATCH) % len(self.blat) + PROBE_BATCH)
        pdf = pd.DataFrame({"pid": np.arange(PROBE_BATCH, dtype=np.int64),
                            "lat": self.blat[sl], "lon": self.blon[sl]})
        t0 = time.perf_counter()
        with tr.span("sources", "tables.load"):
            cover = tables.load(spark, self.data, "cover")
        with tr.span("functions.geo", "encode_b_cell"):
            pts = spark.createDataFrame(pdf).select(
                "pid", geo.encode_b_cell(F.col("lat"), F.col("lon"), PAGE_RBITS).alias("cell"))
        with tr.span("operators.cover", "cover_lookup_best"):
            res = cover_op.cover_lookup_best(pts, cover, keep=["pid"], dedup=False)
        with tr.span("plans.session", "collect"):
            got = {int(r[0]): r[1] for r in res.collect()}
        wall = time.perf_counter() - t0
        want = self.cover_index.lookup(
            pdf["pid"], oracle.truth_cells(pdf["lat"], pdf["lon"], PAGE_RBITS))
        return got == want, wall, {"result_rows": len(got), "input_rows": PROBE_BATCH,
                                   "match_ratio": len(got) / PROBE_BATCH}

    def _rollup(self, j: int):
        tr, spark = self.tracer, self.spark
        anchor = int(oracle.ancestor(self.cells[self.anchor_cid[j % 4096]],
                                     ROLLUP_ANCHOR_DEPTH))
        t0 = time.perf_counter()
        with tr.span("plans.lineage", "dataset"):
            ds = lineage.dataset(spark, self.base, "bucket")
        with tr.span("functions.cells_sql", "cell_parent"):
            res = ds.filter(cells_sql.cell_contains(F.lit(anchor), F.col("cell"))) \
                .groupBy(cells_sql.cell_parent(F.col("cell"), ROLLUP_UP_BITS).alias("p")) \
                .count()
        with tr.span("plans.session", "collect"):
            got = {int(r[0]): int(r[1]) for r in res.collect()}
        wall = time.perf_counter() - t0
        want = oracle.rollup(self.cells, anchor, ROLLUP_ANCHOR_DEPTH, ROLLUP_UP_BITS)
        return got == want, wall, {"result_rows": sum(got.values())}


class Ingest:
    """Write path: extract + geocode + bucket -> commit -> upsert -> compact
    -> read back, into a fresh ledgered base per operation."""

    def __init__(self, spark: SparkSession, data: str, work: str, seed: int, tracer):
        self.spark, self.data, self.work, self.tracer = spark, data, work, tracer
        crawl = gen.pages(seed, CRAWL_PAGES, first_id=10_000_000)
        delta = gen.recrawl(seed, crawl, RECRAWL_PAGES, NEW_PAGES)
        _write_table(gen.table(crawl), f"{data}/crawl.parquet", 2)
        _write_table(gen.table(delta), f"{data}/delta.parquet", 1)
        self.crawl_bytes = _dir_bytes(f"{data}/crawl.parquet")

        def truth(d):
            has = d["anchor"] < 2
            return pd.DataFrame({
                "url": d["url"], "warc_ts": d["warc_ts"], "text": d["text"],
                "cell": oracle.truth_cells(np.where(has, d["lat"], np.nan),
                                           np.where(has, d["lon"], np.nan),
                                           PAGE_RBITS)})

        self.expected = oracle.latest([truth(crawl), truth(delta)])

    def _prepare(self, name: str):
        tr = self.tracer
        with tr.span("sources", "tables.load"):
            df = tables.load(self.spark, self.data, name)
        with tr.span("functions.text", "extract_text"):
            df = df.withColumn("text", text.extract_text(F.col("html")))
        with tr.span("functions.geo", "encode_b_cell_from_text"):
            df = df.withColumn("cell", geo.encode_b_cell_from_text(F.col("text"), PAGE_RBITS))
        with tr.span("functions.cells_sql", "cell_l0_digit"):
            df = df.withColumn("bucket", cells_sql.cell_l0_digit(F.col("cell")))
        return df.select("url", "warc_ts", "lang", "text", "cell", "bucket")

    def op(self, i: int):
        tr, spark = self.tracer, self.spark
        base = f"{self.work}/ingest-{i}"
        t0 = time.perf_counter()
        crawl = self._prepare("crawl")
        with tr.span("plans.lineage", "resumable_write"):
            lineage.resumable_write(crawl, base, "bucket")
        delta = self._prepare("delta")
        with tr.span("plans.lineage", "upsert_latest"):
            lineage.upsert_latest(delta, base, key="url", ts_col="warc_ts",
                                  bucket_col="bucket")
        with tr.span("plans.lineage", "compact_files"):
            lineage.compact_files(spark, base, "bucket")
        with tr.span("plans.lineage", "dataset"):
            ds = lineage.dataset(spark, base, "bucket")
        with tr.span("plans.session", "collect"):
            got = ds.select("url", "warc_ts", "text", "cell").toPandas()
        t3 = time.perf_counter()
        stored = _dir_bytes(f"{base}/data")
        ok = oracle.ledger_matches(got, self.expected)
        shutil.rmtree(base, ignore_errors=True)
        return ok, {"ingest_s": t3 - t0}, {
            "stored_bytes_per_row": stored / max(len(got), 1),
            "input_bytes": self.crawl_bytes, "delta_rows": RECRAWL_PAGES + NEW_PAGES}
