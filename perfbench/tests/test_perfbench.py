"""Tests of the benchmark itself (generators, oracles, metric names).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from co_new_spark.grid import cells, proj  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# --- generators ---------------------------------------------------------------

def test_generators_are_deterministic_per_seed():
    pd.testing.assert_frame_equal(gen.cover(3), gen.cover(3))
    a, b = gen.pages(3, 400), gen.pages(3, 400)
    for k in a:
        np.testing.assert_array_equal(a[k], b[k])
    pd.testing.assert_frame_equal(gen.points(3, 300), gen.points(3, 300))
    d1, d2 = gen.recrawl(3, a, 40, 40), gen.recrawl(3, b, 40, 40)
    for k in d1:
        np.testing.assert_array_equal(d1[k], d2[k])
    assert not gen.cover(3).equals(gen.cover(4))
    assert not np.array_equal(gen.pages(4, 400)["lat"], a["lat"], equal_nan=True)


def test_cover_shape_matches_the_reference_cover():
    shape = gen.cover_shape(gen.cover(1))
    assert 1000 <= shape["jurisdictions"] <= 1250
    assert 12_500 <= shape["cells"] <= 15_500
    assert len(shape["depths"]) >= 5
    assert 0.02 <= shape["shared_cell_share"] <= 0.06


def test_page_mix_and_text():
    p = gen.pages(5, 20_000)
    share = np.bincount(p["anchor"], minlength=3) / 20_000
    np.testing.assert_allclose(share, [0.70, 0.20, 0.10], atol=0.02)
    cell = oracle.truth_cells(p["lat"], p["lon"], 26)
    assert 0.015 < (cell < 0).mean() < 0.03  # the off-grid share
    k = int(np.nonzero(p["anchor"] == 0)[0][0])
    assert f"geo:{p['lat'][k]:.7f},{p['lon'][k]:.7f}" in p["text"][k]
    assert float(f"{p['lat'][k]:.7f}") == p["lat"][k]


def test_recrawl_keeps_place_and_moves_forward_in_time():
    base = gen.pages(2, 300)
    d = gen.recrawl(2, base, 50, 20)
    old = pd.DataFrame({"url": base["url"], "ts": base["warc_ts"], "lat": base["lat"]})
    new = pd.DataFrame({"url": d["url"], "ts": d["warc_ts"], "lat": d["lat"]})
    m = new.merge(old, on="url", suffixes=("", "_old"))
    assert len(m) == 50 and len(new) == 70
    assert (m["ts"] > m["ts_old"]).all()
    np.testing.assert_array_equal(m["lat"], m["lat_old"])


# --- oracles against plain loops ----------------------------------------------

def test_cover_index_matches_a_prefix_loop():
    cov = gen.cover(2)
    idx = oracle.CoverIndex(cov)
    lat, lon = gen.query_points(2, 400)
    pts = oracle.truth_cells(lat, lon, 26)
    pairs = list(zip(cov["cell"].tolist(), cov["isolabel_ext"].tolist()))
    for c, got in zip(pts.tolist(), idx.best(pts).tolist()):
        hits = [iso for cc, iso in pairs if bool(cells.contains(cc, c))]
        want = min(hits) if hits else None
        assert (idx.labels[got] if got >= 0 else None) == want


def test_rollup_matches_a_dict_loop():
    lat, lon = gen.query_points(3, 2000)
    c = oracle.truth_cells(lat, lon, 14)
    anchor = int(oracle.ancestor(c[:1], 10)[0])
    want: dict = {}
    for v in c.tolist():
        if v >= 0 and int(cells.parent(v, 14 + 4 - 10)) == anchor:
            p = int(cells.parent(v, 4))
            want[p] = want.get(p, 0) + 1
    assert oracle.rollup(c, anchor, 10, 4) == want


def test_knn_oracle_is_brute_force_inside_its_ring():
    pts = gen.points(4, 3000)
    x, y = proj.forward(pts["lat"].to_numpy(), pts["lon"].to_numpy())
    knn = oracle.KnnOracle(pts["cid"], x, y, 14)
    qx, qy = float(x[7]), float(y[7])
    cids, d, _ = knn.query(qx, qy, 5, ring=200, fallback_ring=200)
    full = np.sqrt((x - qx) ** 2 + (y - qy) ** 2)
    np.testing.assert_array_equal(np.sort(cids), np.sort(np.argsort(full, kind="stable")[:5]))
    assert cids[0] == 7 and d[0] == 0.0


def test_latest_keeps_the_newest_version_and_new_wins_ties():
    ts = pd.to_datetime(["2025-01-01", "2025-01-02", "2025-01-03"])
    a = pd.DataFrame({"url": ["u1", "u2", "u3"], "warc_ts": ts, "text": ["a1", "a2", "a3"], "cell": [1, 2, 3]})
    b = pd.DataFrame({"url": ["u1", "u2", "u4"], "warc_ts": [ts[2], ts[0], ts[0]],
                      "text": ["b1", "b2", "b4"], "cell": [1, 2, 4]})
    got = oracle.latest([a, b])
    assert got["text"].to_dict() == {"u1": "b1", "u2": "a2", "u3": "a3", "u4": "b4"}
    assert oracle.ledger_matches(got.reset_index(), got)


# --- spans and the REST scrape parsing ----------------------------------------

def test_metric_values_and_self_time():
    assert spans.metric_value("200,000") == 200_000
    assert spans.metric_value("total (min, med, max (stageId: taskId))\n3.0 s (672 ms, 1 s)") == 3000
    assert spans.metric_value("16.0 MiB") == 16 * 2 ** 20
    assert spans.metric_value("total (min, med, max)\n") == 0.0
    s = [spans.Span(0, None, "o", "bench", "op", 0.0, 10.0),
         spans.Span(1, 0, "o", "a", "x", 1.0, 4.0),
         spans.Span(2, 0, "o", "b", "y", 3.0, 6.0),
         spans.Span(3, 1, "o", "c", "z", 2.0, 3.0)]
    st = spans.self_times(s)
    assert st == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}
    assert spans.union_s([(0, 2), (1, 3), (5, 6)]) == 4


def test_plan_details_follow_the_final_plan():
    plan = ("== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
            "   ArrowEvalPython (4)\n   +- * BroadcastHashJoin LeftSemi BuildRight (3)\n"
            "      +- ArrowEvalPython (2)\n"
            "+- == Initial Plan ==\n   ArrowEvalPython (7)\n\n\n"
            "(2) ArrowEvalPython\nInput [1]: [text#1]\n"
            "Arguments: [extract_text(html#1)#2, enc(extract_text(html#1)#2)#4L], [pythonUDF0#7], 200\n\n"
            "(3) BroadcastHashJoin [codegen id : 1]\nJoin type: LeftSemi\n\n"
            "(4) ArrowEvalPython\nInput [1]: [cell#3L]\n"
            "Arguments: [ring_cells(cell#3L)#9], [pythonUDF0#8], 200\n\n"
            "(7) ArrowEvalPython\nArguments: [enc(x#1)#2], [pythonUDF0#3], 200\n")
    aep = spans.plan_details(plan, "ArrowEvalPython")
    assert len(aep) == 2
    assert aep[0].startswith("[extract_text(") and "ring_cells(" in aep[1]
    assert spans.plan_details(plan, "BroadcastHashJoin") == ["LeftSemi BuildRight"]


# --- the metric contract --------------------------------------------------------

def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    per = {m["name"]: m for m in spec["per_layer"]}
    assert 1 <= len(e2e) <= 16 and 1 <= len(per) <= 128
    assert not set(e2e) & set(per)
    for name, m in [*e2e.items(), *per.items()]:
        assert NAME.match(name), name
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in e2e.values():
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END
    assert {k: m["unit"] for k, m in per.items()} == layers.METRICS
    assert [w["name"] for w in spec["workloads"]] == list(run.NATIVE)


# --- every oracle agrees with the program on a tiny seed ------------------------

@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    import workloads as wl

    sizes = dict(GEOCODE_PAGES=3_000, POINTS=3_000, CRAWL_PAGES=400,
                 RECRAWL_PAGES=40, NEW_PAGES=40)
    saved = {k: getattr(wl, k) for k in sizes}
    for k, v in sizes.items():
        setattr(wl, k, v)
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = run.start_session(work, ui=True)
    tracer = spans.Tracer()
    tracer.enabled = True
    try:
        yield run.prepare(spark, work, 7, tracer), tracer, spark
    finally:
        spark.stop()
        for k, v in saved.items():
            setattr(wl, k, v)


def test_every_oracle_agrees_on_a_tiny_seed(tiny):
    ops_by_kind, tracer, spark = tiny
    for kind in ("geocode", "knn", "probe", "rollup", "knn", "probe", "rollup", "ingest"):
        j = sum(1 for s in tracer.spans if s.parent is None and s.name == kind)
        with tracer.op(f"{kind}-{j}", kind):
            ok, timings, info = ops_by_kind[kind](j)
        assert ok, (kind, j, info)
        assert all(v > 0 for v in timings.values())


def test_traced_operations_yield_every_layer_metric(tiny):
    ops_by_kind, tracer, spark = tiny
    import time

    time.sleep(1.0)
    sc = spark.sparkContext
    scrape = spans.SparkScrape(sc.uiWebUrl, sc.applicationId)
    ops = [(s.name, s.op, True, True, {}, {"result_rows": 1, "input_rows": 1,
                                            "delta_rows": 1})
           for s in tracer.spans if s.parent is None and s.op != "setup"]
    geo = layers.compute(tracer, scrape, run.NATIVE["geocode_join"], ops, {})
    assert set(geo) == set(layers.METRICS)
    assert geo["functions.geo.udf_rows_per_input_row"] > 0
    assert geo["operators.cover.broadcast_joins"] >= len(gen.cover_shape(gen.cover(7))["depths"])
    assert geo["plans.lineage.files_written"] > 0
    assert geo["functions.text.extract_python_ms"] > 0
    look = layers.compute(tracer, scrape, run.NATIVE["cell_lookup"], ops, {})
    assert look["plans.session.jobs_per_op"] > 0
    assert look["operators.knn.candidate_pairs_per_result"] > 0
    assert look["functions.cells_sql.rollup_shuffle_bytes"] > 0
