"""Per-layer metrics of a traced run.

Layers are the program's modules.  Each metric is computed per operation
from the spans of that operation and the Spark executions and stages
submitted while it ran, then reported as the median over the traced
operations that touched the layer (0 when none did).
"""

from __future__ import annotations

import re
import statistics
import time

import numpy as np

from spans import SparkScrape, self_times, union_s

LAYERS = ("sources", "functions.geo", "functions.text", "functions.cells_sql",
          "operators.cover", "operators.knn", "plans.lineage", "plans.session")

# ArrowEvalPython UDF names -> layer (every Grid B encode factory in
# functions.geo names its pandas function ``enc``)
_GEO_UDFS = {"enc"}
_TEXT_UDFS = {"extract_text"}
_KNN_UDFS = {"ring_cells"}
_WRITE_PATH = ("plans.lineage.", "functions.text.")

# name -> unit; the per-layer metric set (every traced run reports all)
METRICS = {
    "sources.scan_ms": "ms",
    "sources.bytes_read": "B",
    "sources.rows_read_per_result": "ratio",
    "functions.geo.udf_rows_per_input_row": "ratio",
    "functions.geo.python_run_ms": "ms",
    "functions.geo.bytes_to_python": "B",
    "functions.geo.bytes_from_python": "B",
    "functions.geo.worker_init_ms": "ms",
    "grid.proj_forward_pts_per_s": "1/s",
    "grid.encode_xy_pts_per_s": "1/s",
    "functions.text.extract_python_ms": "ms",
    "operators.cover.build_ms": "ms",
    "operators.cover.broadcast_joins": "count",
    "operators.cover.broadcast_bytes": "B",
    "operators.cover.broadcast_collect_ms": "ms",
    "operators.cover.match_ratio": "ratio",
    "operators.knn.candidate_pairs_per_result": "ratio",
    "operators.knn.ring_python_ms": "ms",
    "operators.knn.fallback_share": "ratio",
    "operators.knn.knn_tail_ms": "ms",
    "functions.cells_sql.rollup_shuffle_bytes": "B",
    "plans.lineage.commit_ms": "ms",
    "plans.lineage.jobs_per_commit": "count",
    "plans.lineage.files_written": "count",
    "plans.lineage.bytes_written_per_input_byte": "ratio",
    "plans.lineage.upsert_rows_rewritten_per_new_row": "ratio",
    "plans.lineage.upsert_shuffle_bytes": "B",
    "plans.lineage.upsert_ms": "ms",
    "plans.lineage.compact_ms": "ms",
    "plans.session.jobs_per_op": "count",
    "plans.session.tasks_per_op": "count",
    "plans.session.executor_run_ms": "ms",
    "plans.session.executor_cpu_share": "ratio",
    "plans.session.gc_ms": "ms",
    "plans.session.shuffle_write_bytes": "B",
    "plans.session.spill_bytes": "B",
    "plans.session.driver_gap_ms": "ms",
    **{f"{layer}.self_ms": "ms" for layer in LAYERS},
    "trace.overhead_ms": "ms",
}


def _nodes(execs, name: str, udfs: set | None = None):
    """Nodes whose name starts with ``name`` (and, given ``udfs``, that
    evaluate one of those Python UDFs)."""
    return [n for e in execs for n in e.nodes if n.name.startswith(name)
            and (udfs is None or udfs & set(re.findall(r"(\w+)\(", n.detail)))]


def _sum(nodes, key: str) -> float:
    return float(sum(n.m(key) for n in nodes))


def _python(nodes) -> dict:
    return {
        "run_ms": _sum(nodes, "time to run Python workers"),
        "to": _sum(nodes, "data sent to Python workers"),
        "from": _sum(nodes, "data returned from Python workers"),
        "init_ms": _sum(nodes, "time to initialize Python workers")
        + _sum(nodes, "time to start Python workers"),
        "rows": _sum(nodes, "number of output rows"),
    }


def _op_values(root, spans, self_t, scrape: SparkScrape, info: dict) -> dict:
    """Per-layer values of one traced operation (only layers it touched)."""
    ex, st, jobs = scrape.within(root.t0, root.t1)
    layers = {s.layer for s in spans}
    v = {}
    for layer in LAYERS:
        if layer in layers:
            v[f"{layer}.self_ms"] = 1000 * sum(self_t[s.sid] for s in spans
                                               if s.layer == layer)
    scans = _nodes(ex, "Scan")
    result = max(info.get("result_rows", 0), 1)
    if scans:
        v["sources.scan_ms"] = _sum(scans, "scan time")
        v["sources.bytes_read"] = _sum(scans, "size of files read")
        v["sources.rows_read_per_result"] = _sum(scans, "number of output rows") / result
    geo = _python(_nodes(ex, "ArrowEvalPython", _GEO_UDFS))
    if geo["rows"]:
        v["functions.geo.udf_rows_per_input_row"] = geo["rows"] / max(info.get("input_rows", 1), 1)
        v["functions.geo.python_run_ms"] = geo["run_ms"]
        v["functions.geo.bytes_to_python"] = geo["to"]
        v["functions.geo.bytes_from_python"] = geo["from"]
        v["functions.geo.worker_init_ms"] = geo["init_ms"]
    txt = _python(_nodes(ex, "ArrowEvalPython", _TEXT_UDFS))
    if txt["rows"]:
        v["functions.text.extract_python_ms"] = txt["run_ms"]
    cover = [s for s in spans if s.layer == "operators.cover"]
    if cover:
        v["operators.cover.build_ms"] = 1000 * sum(s.t1 - s.t0 for s in cover)
        bx = _nodes(ex, "BroadcastExchange")
        v["operators.cover.broadcast_joins"] = float(len(_nodes(ex, "BroadcastHashJoin")))
        v["operators.cover.broadcast_bytes"] = _sum(bx, "data size")
        v["operators.cover.broadcast_collect_ms"] = _sum(bx, "time to collect")
        v["operators.cover.match_ratio"] = info.get("match_ratio", 0.0)
    if any(s.layer == "operators.knn" for s in spans):
        # every broadcast hash join of the query: the ledger semi-joins pass
        # the whole stored table, the ring joins pass the candidate pairs
        v["operators.knn.candidate_pairs_per_result"] = \
            _sum(_nodes(ex, "BroadcastHashJoin"), "number of output rows") / result
        v["operators.knn.ring_python_ms"] = \
            _python(_nodes(ex, "ArrowEvalPython", _KNN_UDFS))["run_ms"]
    if any(s.name == "cell_parent" for s in spans):
        v["functions.cells_sql.rollup_shuffle_bytes"] = float(sum(s.shuffle_write for s in st))
    for s in spans:
        if s.layer != "plans.lineage":
            continue
        sex, sst, sjobs = scrape.within(s.t0, s.t1)
        writes = _nodes(sex, "Execute InsertIntoHadoopFsRelationCommand")
        if s.name == "resumable_write":
            v["plans.lineage.commit_ms"] = 1000 * (s.t1 - s.t0)
            v["plans.lineage.jobs_per_commit"] = float(len(sjobs))
            v["plans.lineage.files_written"] = _sum(writes, "number of written files")
            if info.get("input_bytes"):
                v["plans.lineage.bytes_written_per_input_byte"] = \
                    _sum(writes, "written output") / info["input_bytes"]
        elif s.name == "upsert_latest":
            v["plans.lineage.upsert_rows_rewritten_per_new_row"] = \
                _sum(writes, "number of output rows") / max(info.get("delta_rows", 1), 1)
            v["plans.lineage.upsert_shuffle_bytes"] = float(sum(x.shuffle_write for x in sst))
            v["plans.lineage.upsert_ms"] = 1000 * (s.t1 - s.t0)
        elif s.name == "compact_files":
            v["plans.lineage.compact_ms"] = 1000 * (s.t1 - s.t0)
    run_ms = sum(s.run_ms for s in st)
    v.update({
        "plans.session.jobs_per_op": float(len(jobs)),
        "plans.session.tasks_per_op": float(sum(s.tasks for s in st)),
        "plans.session.executor_run_ms": float(run_ms),
        "plans.session.executor_cpu_share": sum(s.cpu_ms for s in st) / run_ms if run_ms else 0.0,
        "plans.session.gc_ms": float(sum(s.gc_ms for s in st)),
        "plans.session.shuffle_write_bytes": float(sum(s.shuffle_write for s in st)),
        "plans.session.spill_bytes": float(sum(s.spill for s in st)),
        "plans.session.driver_gap_ms": 1000 * max(
            (root.t1 - root.t0) - union_s((s.t0, s.t1) for s in st), 0.0),
    })
    return v


def grid_kernels(seed: int, n: int = 100_000, reps: int = 5) -> dict:
    """Direct timing of the numpy grid kernels on a seeded ``n``-point batch."""
    import gen
    from co_new_spark.grid import cells, grids, proj

    lat, lon = gen.query_points(seed, n)
    fwd, enc = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        x, y = proj.forward(lat, lon)
        t1 = time.perf_counter()
        bits, _ = grids.grid_b_encode_xy(x, y, 26)
        cells.pack(bits, np.full(bits.shape, 30, dtype=np.int64))
        t2 = time.perf_counter()
        fwd.append(t1 - t0)
        enc.append(t2 - t1)
    return {"grid.proj_forward_pts_per_s": n / statistics.median(fwd),
            "grid.encode_xy_pts_per_s": n / statistics.median(enc)}


def compute(tracer, scrape: SparkScrape, native: set, ops: list, extra: dict) -> dict:
    """All per-layer metrics.  ``ops``: (kind, op_id, traced, ok, timings,
    info) of the measured window.  The write-path layers (``plans.lineage``,
    ``functions.text``) come from the ingest operation; every other metric
    from the traced operations of the workload's own kinds (``native``)."""
    by_op: dict[str, list] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    self_t = self_times(tracer.spans)
    per_metric: dict[str, list] = {}
    for kind, op_id, traced, ok, timings, info in ops:
        if not traced or info.get("warmup") or (kind not in native and kind != "ingest"):
            continue
        spans = by_op.get(op_id, [])
        roots = [s for s in spans if s.parent is None]
        if not roots:
            continue
        inner = [s for s in spans if s.parent is not None]
        for k, val in _op_values(roots[0], inner, self_t, scrape, info).items():
            if k.startswith(_WRITE_PATH) == (kind == "ingest"):
                per_metric.setdefault(k, []).append(val)
    out = {k: statistics.median(per_metric[k]) if per_metric.get(k) else 0.0
           for k in METRICS}
    out.update(extra)
    return out


def overhead_s(ops: list, native: set) -> float:
    """Traced minus untraced median wall time of the workload's own
    operations, averaged over its kinds."""
    diffs = []
    for kind in native:
        wall = {True: [], False: []}
        for k, _, traced, _, timings, info in ops:
            if k == kind and timings and not info.get("warmup"):
                wall[traced].append(max(timings.values()))
        if wall[True] and wall[False]:
            diffs.append(statistics.median(wall[True]) - statistics.median(wall[False]))
    return statistics.mean(diffs) if diffs else 0.0


def self_table(tracer) -> dict:
    """Summed self time (ms) per layer over every traced span, set-up
    included: the per-layer self-time table of the trace report."""
    self_t = self_times(tracer.spans)
    out: dict[str, float] = {}
    for s in tracer.spans:
        out[s.layer] = out.get(s.layer, 0.0) + 1000 * self_t[s.sid]
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))
