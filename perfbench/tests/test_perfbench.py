"""Tests for the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import textwrap
import time
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parents[1]), str(HERE.parent)]

import procfs  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracer  # noqa: E402
import workloads  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from direct_spark_sql_spark.datatable import DataTable  # noqa: E402
from direct_spark_sql_spark.plans.base import Query  # noqa: E402

CONTRACT = json.loads((HERE.parents[1] / "BENCHMARK.json").read_text())


# -- tail percentile -----------------------------------------------------------


@pytest.mark.parametrize(
    "n, q", [(1000, 0.99), (200, 0.95), (100, 0.9), (40, 0.75), (20, 0.5)]
)
def test_tail_quantile_leaves_ten_samples_above(n, q):
    assert math.isclose(stats.tail_quantile(n), q)
    assert round(n * (1 - stats.tail_quantile(n))) == 10


@pytest.mark.parametrize("n", [1, 2, 10, 19])
def test_tail_quantile_falls_back_to_median_below_twenty(n):
    assert stats.tail_quantile(n) == 0.5


def test_tail_quantile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail_quantile(0)


def test_percentile_interpolates():
    xs = [float(v) for v in range(1, 101)]  # 1..100, shuffled order is irrelevant
    assert stats.percentile(list(reversed(xs)), 0.5) == 50.5
    assert math.isclose(stats.percentile(xs, 0.9), 90.1)
    assert stats.percentile(xs, 1.0) == 100.0
    assert stats.percentile([7.0], 0.99) == 7.0


def test_interquartile_rate_sets_aside_the_outer_quarters():
    assert stats.interquartile_rate([100.0] * 6 + [1000.0, 1000.0]) == 10.0
    assert stats.interquartile_rate([50.0] * 2 + [100.0] * 4 + [900.0] * 2) == 10.0
    assert math.isclose(stats.interquartile_rate([100.0, 400.0]), 4.0)
    with pytest.raises(ValueError):
        stats.interquartile_rate([])


# -- /proc readers ---------------------------------------------------------------

_GRANDCHILD = textwrap.dedent(
    """
    import sys, time
    ballast = bytearray(64 << 20)  # touch 64 MiB so VmHWM rises
    for i in range(0, len(ballast), 4096):
        ballast[i] = 1
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    open(sys.argv[1], "w").close()
    time.sleep(60)
    """
)

_CHILD = textwrap.dedent(
    """
    import subprocess, sys, time
    p = subprocess.Popen([sys.executable, "-c", sys.argv[1], sys.argv[2]])
    print(p.pid, flush=True)
    p.wait()
    """
)


def test_tree_readers_count_a_grandchild_worker(tmp_path):
    ready = tmp_path / "ready"
    child = subprocess.Popen(
        [sys.executable, "-c", _CHILD, _GRANDCHILD, str(ready)],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        grandchild = int(child.stdout.readline())
        deadline = time.monotonic() + 30
        while not ready.exists():
            assert time.monotonic() < deadline, "grandchild never became ready"
            time.sleep(0.05)
        me = os.getpid()
        tree = procfs.descendants(me)
        assert tree[0] == me
        assert child.pid in tree and grandchild in tree
        assert tree.index(child.pid) < tree.index(grandchild)
        assert procfs.cpu_seconds(grandchild) >= 0.25
        assert procfs.vm_hwm_kb(grandchild) >= 64 << 10
        assert procfs.tree_hwm_mb(me) >= procfs.vm_hwm_kb(me) / 1024 + 64
        split = procfs.tree_cpu_split(me)
        assert split["driver"] == procfs.cpu_seconds(me)
        assert split["other"] >= 0.25  # not under a JVM, so not a Spark worker
        assert split["jvm"] == 0.0 and split["pyworker"] == 0.0
    finally:
        child.kill()
        child.wait(timeout=30)
        try:
            os.kill(grandchild, 9)
        except (ProcessLookupError, UnboundLocalError):
            pass
    assert child.poll() is not None


def test_cpu_of_a_reaped_child_moves_to_its_parent():
    before = procfs.cpu_seconds(os.getpid())
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True, timeout=60)
    assert procfs.cpu_seconds(os.getpid()) - before >= 0.25


def test_process_age_and_host_counters():
    assert 0 < procfs.process_age_s(os.getpid()) < 24 * 3600
    a = procfs.host_cpu_ticks()
    b = dict(a, user=a["user"] + 90, steal=a["steal"] + 10)
    assert math.isclose(procfs.steal_share(a, b), 0.1)
    assert procfs.steal_share(a, a) == 0.0
    assert procfs.mem_total_mb() > 0


# -- metric names against BENCHMARK.json ---------------------------------------


def _window(latencies):
    w = run.Window(workload=None, seed=0, seconds=1)
    w.latencies_ms = latencies
    w.wall_s = sum(latencies) / 1000
    w.cpu0 = {"driver": 1.0, "jvm": 2.0, "pyworker": 0.0, "other": 0.0}
    w.cpu1 = {"driver": 1.5, "jvm": 4.0, "pyworker": 1.0, "other": 0.0}
    w.peak_rss_mb = 2048.0
    return w


def test_end_to_end_metrics_match_the_contract():
    metrics = _window([100.0, 120.0, 300.0]).end_to_end(setup_s=12.5)
    stats.check_metrics(metrics, CONTRACT, trace=False)
    assert metrics["op_p50_ms"]["value"] == 120.0
    assert math.isclose(metrics["ops_per_s"]["value"], 3000 / 520)
    assert math.isclose(metrics["cpu_ms_per_op"]["value"], 3500 / 3)


def test_per_layer_units_match_the_contract():
    declared = {m["name"]: m["unit"] for m in CONTRACT["per_layer"]}
    assert declared == tracer.UNITS


def test_check_metrics_rejects_a_missing_extra_or_bad_metric():
    good = _window([100.0]).end_to_end(setup_s=1.0)
    stats.check_metrics(good, CONTRACT, trace=False)
    for bad in (
        {k: v for k, v in good.items() if k != "op_p50_ms"},
        {**good, "op_p99_ms": {"value": 1.0, "unit": "ms"}},
        {**good, "setup_s": {"value": 1.0, "unit": "ms"}},
        {**good, "ops_per_s": {"value": float("nan"), "unit": "1/s"}},
    ):
        with pytest.raises(ValueError):
            stats.check_metrics(bad, CONTRACT, trace=False)
    with pytest.raises(ValueError):  # end-to-end names are not per-layer names
        stats.check_metrics(good, CONTRACT, trace=True)


def test_contract_names_its_workloads():
    assert [w["name"] for w in CONTRACT["workloads"]] == list(workloads.WORKLOADS)


# -- oracle comparison ------------------------------------------------------------


def test_mismatch_ignores_row_and_column_order():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    got = pd.DataFrame({"v": [2.5, 0.5, 1.5], "k": [3, 1, 2]})
    assert workloads.mismatch(got, want) is None


@pytest.mark.parametrize(
    "perturb",
    [
        lambda d: d.assign(v=d["v"].where(d["k"] != 2, 1.5 + 2**-40)),
        lambda d: d.assign(k=d["k"].where(d["k"] != 3, 4)),
        lambda d: d.iloc[:2],
        lambda d: d.rename(columns={"v": "w"}),
    ],
)
def test_mismatch_fails_on_a_perturbed_result(perturb):
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert workloads.mismatch(perturb(want.copy()), want) is not None


def _facade_result(facade, rows, perturb=False):
    """What a correct engine returns for one facade op, computed with DuckDB."""
    import duckdb

    con = duckdb.connect()
    con.register("fact", pd.DataFrame(rows))
    con.register("dim", pd.DataFrame(facade.dim))
    tables = []
    for sql in list(workloads.FACADE_SQL.values()) * 2:
        df = con.execute(sql).df()
        schema = T.StructType([T.StructField(c, T.LongType()) for c in df.columns])
        tables.append(DataTable(schema, [tuple(r) for r in df.itertuples(index=False)]))
    con.close()
    if perturb:
        last = tables[-1]
        n, total = last.data[0]
        last.data[0] = (n, total + 1)
    return tables


def test_facade_check_accepts_the_oracle_and_rejects_a_perturbation():
    facade = workloads.FacadeRefresh(engine=None, seed=7)
    op = next(facade.ops(rng=None))
    assert op == (0, facade.fact_batch(0))  # the seed fixes the batch
    assert op[1] != workloads.FacadeRefresh(None, seed=8).fact_batch(0)
    assert facade.check(op, _facade_result(facade, op[1])) is None
    why = facade.check(op, _facade_result(facade, op[1], perturb=True))
    assert why is not None and "scalar_subquery" in why


def test_a_query_without_an_oracle_is_compared_with_its_warmup_result():
    schema = T.StructType([T.StructField("k", T.LongType())])
    q = Query(name="no_oracle", spark_fn=None, oracle=None)
    wl = workloads.RegistryQueries("registry", (), spark=None)
    wl._warm = {q.name: DataTable(schema, [(1,), (2,)])}
    assert wl.check([q], [DataTable(schema, [(2,), (1,)])]) is None
    assert wl.check([q], [DataTable(schema, [(2,), (3,)])]) is not None
