"""Dashboard serving corpus: all 15 page queries run over the derived
district_monthly_weather + raw views; two are golden-checked against
DuckDB executing the identical SQL, and the parameterization (district
IN-lists, thresholds, year ranges) is exercised like the callbacks."""

from __future__ import annotations

import duckdb
import pytest

from big_data_processing_spark.plans import dashboard as D
from big_data_processing_spark.plans import weather as W

from .conftest import _normalize, assert_frames_match
from .weather_fixture import generate


@pytest.fixture(scope="module")
def views(spark, tmp_path_factory):
    info = generate(str(tmp_path_factory.mktemp("dashdata")))
    weather = W.ingest_weather_csv(spark, info["weather_csv"]).cache()
    location = W.ingest_location_csv(spark, info["location_csv"])
    D.register_dashboard_views(spark, weather, location)
    return weather, location


@pytest.fixture(scope="module")
def dashduck(spark, views):
    con = duckdb.connect()
    con.register("district_monthly_weather", spark.table("district_monthly_weather").toPandas())
    con.register("raw_weather_data", spark.table("raw_weather_data").toPandas())
    con.register("locations", spark.table("locations").toPandas())
    yield con
    con.close()


def test_all_dashboard_queries_run(spark, views):
    for name in D.DASHBOARD_QUERIES:
        df = D.run_dashboard_query(spark, name)
        assert df.count() > 0, name


def test_p3_by_district_golden(spark, views, dashduck):
    args = dict(D.DASHBOARD_DEFAULTS)
    t = args["threshold"]
    args["r_pct_hot"] = W.ROUND2_SQL.format(
        x=f"SUM(CASE WHEN mean_temperature > {t} THEN 1 ELSE 0 END) * 100.0 / COUNT(*)"
    )
    sql = D.DASHBOARD_QUERIES["p3_by_district_overall"].format(**args)
    assert_frames_match(D.run_dashboard_query(spark, "p3_by_district_overall"), dashduck.sql(sql).df())


def test_p4_by_district_golden(spark, views, dashduck):
    sql = D.DASHBOARD_QUERIES["p4_by_district"].format(**D.DASHBOARD_DEFAULTS)
    got = D.run_dashboard_query(spark, "p4_by_district")
    # obs_date/date columns equal; DuckDB pandas round-trip keeps them
    assert_frames_match(got, dashduck.sql(sql).df())


def test_district_in_list_parameterization(spark, views):
    where = D.district_filter(["Colombo", "Kandy"])
    df = D.run_dashboard_query(spark, "p1_monthly_heatmap", where=where)
    districts = {r.district for r in df.select("district").distinct().collect()}
    assert districts == {"Colombo", "Kandy"}
    assert D.district_filter(None) == "1=1"
    assert D.district_filter(["O'Brien"]) == "district IN ('O''Brien')"


def test_threshold_parameterization(spark, views):
    lo = D.run_dashboard_query(spark, "p3_yearly_trend", threshold=20).collect()
    hi = D.run_dashboard_query(spark, "p3_yearly_trend", threshold=35).collect()
    assert sum(r.total_hot_months for r in lo) > sum(r.total_hot_months for r in hi)


def test_scatter_cap(spark, views):
    assert D.run_dashboard_query(spark, "p4_scatter", p_thresh=1, w_thresh=1).count() == 1000


def test_monthly_aggregate_view_is_cached(spark, views):
    assert spark.catalog.isCached("district_monthly_weather")


def _p3_overall_sql() -> str:
    args = dict(D.DASHBOARD_DEFAULTS)
    args["r_pct_hot"] = W.ROUND2_SQL.format(
        x=f"SUM(CASE WHEN mean_temperature > {args['threshold']} THEN 1 ELSE 0 END) * 100.0 / COUNT(*)"
    )
    return D.DASHBOARD_QUERIES["p3_by_district_overall"].format(**args)


def _assert_p3_matches_duck(got, fact_dir: str, loc_dir: str) -> None:
    """p3_by_district_overall equals DuckDB's over the monthly aggregate
    DuckDB builds from the parquet fact itself (no Spark view or cache).
    DuckDB sums doubles where the engine sums exactly, so a rounded
    value on a boundary may differ by one hundredth."""
    import pandas as pd

    a, b = _normalize(got.toPandas()), _normalize(_duck_p3_overall(fact_dir, loc_dir))
    assert list(a.columns) == list(b.columns) and len(a) == len(b)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=0.0100001)


def _duck_p3_overall(fact_dir: str, loc_dir: str):
    con = duckdb.connect()
    con.sql(f"""
        CREATE VIEW district_monthly_weather AS
        SELECT l.city_name AS district,
               CAST(w.year AS INT) AS year, CAST(w.month AS INT) AS month,
               {W.ROUND2_SQL.format(x='SUM(w.precipitation_hours)')} AS total_precipitation_hours,
               {W.ROUND2_SQL.format(x='AVG(w.temperature_2m_mean)')} AS mean_temperature
        FROM read_parquet('{fact_dir}/**/*.parquet') w
        JOIN read_parquet('{loc_dir}/*.parquet') l ON w.location_id = l.location_id
        GROUP BY 1, 2, 3""")
    try:
        return con.sql(_p3_overall_sql()).df()
    finally:
        con.close()


def test_reregistered_views_serve_the_new_fact(spark, views, tmp_path):
    """Registering the views over fact B after fact A serves B's
    aggregate, never A's cached one — over a different path, and over
    the same path once its files were replaced outside this session."""
    import shutil

    src = {}
    for tag, years, seed in (("a", (2012, 2012), 1), ("b", (2013, 2014), 2)):
        info = generate(str(tmp_path / f"src_{tag}"), years=years, seed=seed)
        src[tag] = (str(tmp_path / f"{tag}_fact"), str(tmp_path / f"{tag}_loc"))
        W.ingest_weather_csv(spark, info["weather_csv"]).write.parquet(src[tag][0])
        W.ingest_location_csv(spark, info["location_csv"]).write.parquet(src[tag][1])

    def register(fact_dir, loc_dir):
        fact, loc = spark.read.parquet(fact_dir), spark.read.parquet(loc_dir)
        D.register_dashboard_views(spark, fact, loc)
        return D.run_dashboard_query(spark, "p3_by_district_overall")

    cur = (str(tmp_path / "cur_fact"), str(tmp_path / "cur_loc"))
    try:
        _assert_p3_matches_duck(register(*src["a"]), *src["a"])
        _assert_p3_matches_duck(register(*src["b"]), *src["b"])

        for s, d in zip(src["a"], cur):
            shutil.copytree(s, d)
        _assert_p3_matches_duck(register(*cur), *cur)
        for s, d in zip(src["b"], cur):
            shutil.rmtree(d)
            shutil.copytree(s, d)
        _assert_p3_matches_duck(register(*cur), *cur)
    finally:
        D.register_dashboard_views(spark, *views)
