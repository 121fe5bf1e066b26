"""The benchmark's own tests: workload membership, the tail statistic,
the output checks (each must fail on a corrupted result), the
consistency of a traced run, and the known serving-query defect the
weather-lambda workload steps around.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.run import tail  # noqa: E402
from perfbench.weather_oracle import WeatherOracle, compare  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CATALOG_WORKLOADS,
    CatalogWorkload,
    catalog_members,
    catalog_partition,
    catalog_sf_dir,
)


def test_catalog_workloads_partition_the_catalog():
    from big_data_processing_spark.plans import CATALOG

    parts = catalog_partition(CATALOG)
    names = [n for members in parts.values() for n in members]
    assert sorted(names) == sorted(CATALOG)
    assert len(names) == len(set(names))
    assert all(parts.values())


def test_partition_rejects_an_entry_that_falls_out():
    class Entry:
        def __init__(self, tags):
            self.tags = tags

    class Lossy(dict):
        # iterates one entry fewer than it holds, as a registry that
        # silently dropped a renamed entry would
        def items(self):
            return list(super().items())[1:]

    with pytest.raises(RuntimeError):
        catalog_partition(Lossy(a=Entry(("join",)), b=Entry(("dedup",))))


def test_workload_rules_pick_from_their_classes():
    from big_data_processing_spark.plans import CATALOG

    parts = catalog_partition(CATALOG)
    for rule, _sf in CATALOG_WORKLOADS.values():
        members = catalog_members(CATALOG, rule)
        assert len(members) == len(set(members))
        for cls, tag in rule.items():
            picked = [n for n in members if n in parts[cls]]
            assert picked, (cls, tag)
            assert tag is None or all(tag in CATALOG[n].tags for n in picked)


def test_the_mix_covers_every_catalog_class():
    from big_data_processing_spark.plans import CATALOG

    rule, _sf = CATALOG_WORKLOADS["catalog-mix-sf0.01"]
    assert set(rule) == {"sql", "corpus", "txn"}
    assert len(catalog_members(CATALOG, rule)) >= 10


def test_catalog_check_fails_on_a_corrupted_result(tmp_path):
    """The oracle check passes the oracle's own rows and fails once a
    row is dropped or a value changed."""
    rule, sf = CATALOG_WORKLOADS["catalog-mix-sf0.01"]
    wl = CatalogWorkload(str(tmp_path), 1, rule, catalog_sf_dir(sf))
    try:
        name = "nation_left_join_counts"
        assert name in wl.names
        wl._oracle_hash(name)  # opens the DuckDB oracle connection
        good = wl._duck.sql(wl._oracles[name]).df()
        assert wl._verify(name, good) is None
        assert wl._verify(name, good.iloc[1:]) is not None
        bad = good.copy()
        col = bad.select_dtypes("number").columns[0]
        bad.loc[0, col] += 1
        assert wl._verify(name, bad) is not None
    finally:
        wl.close()


def test_compare_tolerates_only_rounding_and_width():
    import pandas as pd
    from decimal import Decimal

    want = pd.DataFrame({"k": ["a", "b", "c"], "n": [1.0, 2.0, 3.0], "x": [0.5, 954.67, 2.25]})
    got = pd.DataFrame({"x": [Decimal("2.25"), Decimal("954.68"), Decimal("0.50")],
                        "k": ["c", "b", "a"], "n": [3, 2, 1]})
    assert compare(got, want) is None  # order, int/decimal width, one hundredth
    assert compare(got.iloc[1:], want) is not None  # a missing row
    assert compare(got.assign(n=[3, 2, 2]), want) is not None  # a wrong count
    assert compare(got.assign(x=[2.25, 954.7, 0.5]), want) is not None  # beyond rounding
    assert compare(got.rename(columns={"n": "m"}), want) is not None


def _write_fact(path, rows, batches=False):
    import pandas as pd

    for i, (year, v) in enumerate(rows):
        d = path / f"year={year}"
        if batches:
            d = d / f"ingest_batch={i % 2}"
        d.mkdir(parents=True, exist_ok=True)
        pd.DataFrame({"location_id": [1], "v": [v]}).to_parquet(d / f"part-{i}.parquet")


def test_weather_checks_fail_on_a_lost_or_repeated_row(tmp_path):
    import pandas as pd

    rows = [(2010, 1.5), (2010, 2.5), (2011, 3.5)]
    _write_fact(tmp_path / "batch", rows)
    batch = f"read_parquet('{tmp_path}/batch/**/*.parquet', hive_partitioning = true)"
    sums = "SELECT year, sum(v) AS s FROM weather GROUP BY year"
    for streamed, want_errors in [
        (rows, False),
        (rows[:2], True),  # a lost row
        (rows + rows[:1], True),  # a repeated arrival
        (rows[:2] + [(2011, 9.5)], True),  # the right count, a wrong row
    ]:
        d = tmp_path / f"streamed{len(list(tmp_path.iterdir()))}"
        _write_fact(d, streamed, batches=True)
        oracle = WeatherOracle(str(d))
        try:
            oracle.con.sql(f"CREATE VIEW weather AS SELECT * FROM {batch}")
            assert oracle.streamed_rows() == len(streamed)
            assert bool(oracle.check_exactly_once(len(rows))) == want_errors, streamed
            good = pd.DataFrame({"year": [2011, 2010], "s": [3.5, 4.0]})
            assert oracle.check_query(sums, good) is None
            assert oracle.check_query(sums, good.iloc[:1]) is not None
            assert oracle.check_query(sums, good.assign(s=[3.5, 4.5])) is not None
        finally:
            oracle.close()


@pytest.mark.parametrize(
    "n, pct, rank",
    [(11, 9, 1), (27, 62, 17), (43, 76, 33), (100, 90, 90)],
)
def test_tail_leaves_ten_samples_beyond(n, pct, rank):
    values = [float(i) for i in range(n, 0, -1)]
    value, p, count = tail(values)
    assert (p, count) == (pct, n)
    assert value == float(rank)
    assert sum(v > value for v in values) >= 10


def test_tail_below_eleven_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)


def test_traced_run_is_consistent():
    """A traced run passes its own checks, and its record shows per op at
    least one Spark job and executor CPU within cores x wall.  Build +
    action match the op wall up to the tracer's own read between them
    (the wall is their span), so that check bounds the tracer's
    overhead inside the op."""
    cmd = [sys.executable, str(ROOT / "perfbench/run.py"), "--workload", "catalog-mix-sf0.01",
           "--seed", "7", "--seconds", "1", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(result["metrics"]) == {m["name"] for m in bench["per_layer"]}

    record = json.loads((ROOT / ".perfbench_runs/catalog-mix-sf0.01-seed7-trace1.json").read_text())
    cpus = record["environment"]["cpus_used"]
    assert record["ops"]
    for op in record["ops"]:
        assert op["counters"]["jobs"] >= 1, op["op"]
        assert op["counters"]["cpu_ns"] * 1e-9 <= cpus * op["wall_s"], op["op"]
        assert op["build_s"] + op["action_s"] == pytest.approx(op["wall_s"], rel=0.1, abs=0.05)
    names = {s["name"] for s in record["spans"]}
    assert {"build", "action"} <= names


@pytest.mark.xfail(strict=True, reason="p1_trends_for_top5 names `district` "
                   "unqualified over a join: any district IN-list is ambiguous")
def test_p1_trends_for_top5_with_a_district_filter(tmp_path):
    from big_data_processing_spark.plans import dashboard as D
    from big_data_processing_spark.plans import weather as W
    from big_data_processing_spark.session import get_spark
    from tests.weather_fixture import generate

    spark = get_spark(app_name="perfbench-test", cpus=2)
    info = generate(str(tmp_path))
    weather = W.ingest_weather_csv(spark, info["weather_csv"])
    location = W.ingest_location_csv(spark, info["location_csv"])
    D.register_dashboard_views(spark, weather, location)
    where = D.district_filter(["Colombo", "Kandy", "Galle"])
    assert D.run_dashboard_query(spark, "p1_trends_for_top5", where=where).collect()
