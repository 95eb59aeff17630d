"""Tests of the benchmark's own code: span arithmetic, input generation,
the status readout, output checks and the metric contract."""

from __future__ import annotations

import json
import math
import os
import re

import pyarrow.parquet as pq
import pytest

from conftest import ROOT


def _span(i, start, end, parent=None, name="operators.text:f", op="o"):
    from tracing import Span

    return Span(i, name, start, end, parent, op)


# -- span arithmetic --------------------------------------------------------

def test_self_times_on_synthetic_tree():
    from tracing import self_times

    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),    # overlaps its sibling
        _span(2, 3.0, 6.0, 0),
        _span(3, 9.0, 12.0, 0),   # runs past its parent: clipped
        _span(4, 2.0, 3.0, 1),
        _span(5, 20.0, 21.0),     # a second root
        _span(6, 20.0, 21.0, 5),  # covers its parent entirely
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)  # children cover [1,6] and [9,10]
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == 0.0
    assert st[6] == pytest.approx(1.0)
    assert all(v >= 0.0 for v in st.values())


def test_interval_union_clips_and_merges():
    from tracing import interval_union

    assert interval_union([(0, 2), (1, 3), (5, 9)], 1.0, 6.0) == pytest.approx(3.0)
    assert interval_union([], 0.0, 1.0) == 0.0


def test_layer_metrics_attribute_jobs_to_innermost_span():
    from tracing import OpRecord, layer_metrics

    spans = [
        _span(0, 100.0, 110.0, name="queries.build", op="a"),
        _span(1, 101.0, 105.0, 0, name="operators.dedup:f", op="a"),
        _span(2, 102.0, 103.0, 1, name="sources:read", op="a"),
        _span(3, 110.0, 112.0, name="queries.action", op="a"),
    ]
    jobs = [
        {"jobId": 0, "jobGroup": "a:build", "submissionTime": 102500, "completionTime": 102800,
         "stageIds": []},
        {"jobId": 1, "jobGroup": "a:build", "submissionTime": 104000, "completionTime": 104500,
         "stageIds": []},
        {"jobId": 2, "jobGroup": "a:action", "submissionTime": 110000, "completionTime": 111900,
         "stageIds": []},
    ]
    op = OpRecord("a", "q", 100.0, 112.0, True, {"jobs": jobs, "stages": [], "queries": []})
    m = layer_metrics(spans, [op], ["operators.dedup"])
    assert m["sources.read_jobs"] == 1
    assert m["operators.dedup.jobs"] == 1
    assert m["queries.build_jobs"] == 2 and m["queries.action_jobs"] == 1
    assert m["operators.dedup.self_s"] == pytest.approx(3.0)
    assert m["driver.gap_s"] == pytest.approx(12.0 - 0.3 - 0.5 - 1.9)


# -- input generation -------------------------------------------------------

def test_generator_is_deterministic(sf_smoke, tmp_path):
    from gen import TABLES, InputSpec, generate

    spec = InputSpec(TABLES)
    a = generate(sf_smoke, str(tmp_path / "a"), 7, spec)
    b = generate(sf_smoke, str(tmp_path / "b"), 7, spec)
    c = generate(sf_smoke, str(tmp_path / "c"), 8, spec)
    assert a.sha256 == b.sha256 and a.tables == b.tables
    assert c.sha256 != a.sha256
    for t in TABLES:
        assert a.tables[t]["rows"] == pq.ParquetFile(f"{sf_smoke}/{t}.parquet").metadata.num_rows

    src = pq.read_table(f"{sf_smoke}/documents.parquet").to_pydict()
    out = pq.read_table(str(tmp_path / "a" / "documents.parquet")).to_pydict()
    before = dict(zip(src["doc_id"], src["text"]))
    after = dict(zip(out["doc_id"], out["text"]))
    assert {k: len(v) for k, v in before.items()} == {k: len(v) for k, v in after.items()}
    assert all(sorted(before[k].split(" ")) == sorted(after[k].split(" ")) for k in before)
    assert before != after

    src = pq.read_table(f"{sf_smoke}/embeddings.parquet").to_pydict()
    out = pq.read_table(str(tmp_path / "a" / "embeddings.parquet")).to_pydict()
    norm = {v: math.fsum(x * x for x in e) for v, e in zip(src["vec_id"], src["embedding"])}
    for v, e in zip(out["vec_id"], out["embedding"]):
        assert math.fsum(x * x for x in e) == pytest.approx(norm[v], rel=1e-6)


def test_key_shift_keeps_referential_integrity(sf_smoke, tmp_path):
    from gen import InputSpec, generate

    generate(sf_smoke, str(tmp_path), 3, InputSpec(("orders", "lineitem"), replicas=2))
    orders = pq.read_table(str(tmp_path / "orders.parquet")).to_pydict()
    lines = pq.read_table(str(tmp_path / "lineitem.parquet")).to_pydict()
    src = pq.read_table(f"{sf_smoke}/orders.parquet").to_pydict()
    assert len(orders["o_orderkey"]) == 2 * len(src["o_orderkey"])
    assert len(set(orders["o_orderkey"])) == len(orders["o_orderkey"])
    assert set(lines["l_orderkey"]) <= set(orders["o_orderkey"])
    assert not set(orders["o_orderkey"]) & set(src["o_orderkey"])


# -- output checks ----------------------------------------------------------

def test_compare_sql_is_order_and_zero_sign_insensitive():
    import duckdb

    from check import compare_sql

    con = duckdb.connect()
    con.sql("CREATE TABLE a AS SELECT * FROM (VALUES (1, 0.0, 'x'), (2, 1.5, NULL)) t(k, v, s)")
    con.sql("CREATE TABLE b AS SELECT * FROM (VALUES (2, 1.5000000001, NULL), (1, -0.0, 'x')) t(k, v, s)")
    assert compare_sql(con, "SELECT * FROM a", "SELECT * FROM b") is None
    assert compare_sql(con, "SELECT * FROM a", "SELECT k, v + 1 AS v, s FROM b") is not None
    assert compare_sql(con, "SELECT * FROM a", "SELECT * FROM b LIMIT 1").startswith("rows")
    assert compare_sql(con, "SELECT k FROM a", "SELECT * FROM b").startswith("columns")


def test_compare_frames_follows_the_oracle_parity_rules():
    import pandas as pd

    from check import compare_frames

    a = pd.DataFrame({"x": [1, 2], "y": [0.1234564, None]})
    b = pd.DataFrame({"y": [float("nan"), 0.1234561], "x": [2, 1]})
    assert compare_frames(a, b) is None
    assert compare_frames(a, b.assign(x=[2, 3])) is not None
    assert "uncomparable" in compare_frames(pd.DataFrame({"x": [[1]]}), pd.DataFrame({"x": [[1]]}))


# -- status readout ---------------------------------------------------------

def _job_count(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def test_status_readout_launches_no_job(spark, tmp_path):
    from tracing import StatusReader

    reader = StatusReader(spark)
    try:
        df = spark.range(2000).selectExpr("id", "id % 7 AS k")

        def plus_one(batches):
            for b in batches:
                yield b.assign(k=b.k + 1)

        out = df.mapInPandas(plus_one, "id long, k long").groupBy("k").count()
        assert out.groupBy().count().collect()[0][0] == 7
        out.write.mode("overwrite").parquet(str(tmp_path / "o.parquet"))
        before = _job_count(spark)
        r = reader.read()
        assert _job_count(spark) == before
        assert r["jobs"] and r["stages"]
        assert {q["func"] for q in r["queries"]} >= {"collectToPython", "command"}
        assert all(q["optimization"] >= 0 and q["planning"] >= 0 for q in r["queries"])
        assert all(q["py_rows_out"] == 2000 for q in r["queries"])
        assert any(s["python"] for s in r["stages"])
        again = reader.read()  # nothing new since the last read
        assert again == {"jobs": [], "stages": [], "queries": []}
        assert _job_count(spark) == before
    finally:
        reader.close()


# -- the metric contract ----------------------------------------------------

def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_follows_the_contract():
    spec = _benchmark()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(name.match(n) for n in names) and len(set(names)) == len(names)
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert all(unit.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert 1 <= spec["run_seconds"] <= 60
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_every_printed_metric_is_declared():
    from run import declared_layers, end_to_end_metrics, per_layer_metrics, select
    from tracing import OpRecord

    spec = _benchmark()
    passes = [{"pass_s": 2.0, "lat": [0.5, 1.5], "written": 10}]
    e2e = end_to_end_metrics(1.0, passes)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert list(select(e2e, spec["end_to_end"])) == [m["name"] for m in spec["end_to_end"]]

    spans = [_span(0, 0.0, 1.0, name="plans.runner:Pipeline.run", op="p.0")]
    ops = [OpRecord("p.0", "t", 0.0, 1.0, True, {"jobs": [], "stages": [], "queries": []})]
    layers = declared_layers(spec["per_layer"])
    pl = per_layer_metrics(spans, ops, passes, 1.5, layers,
                           {"session.start_s": 3.0, "peak_rss_mb": 9.0, "failed_ops_frac": 0.0,
                            "write_amp": 1.0})
    assert set(pl) == {m["name"] for m in spec["per_layer"]}
    printed = select(pl, spec["per_layer"])
    assert all(v["unit"] for v in printed.values())
    with pytest.raises(KeyError):
        select({}, spec["end_to_end"])
