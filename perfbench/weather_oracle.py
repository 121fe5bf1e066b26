"""DuckDB oracles for the weather pipeline's analytical outputs.

The pipeline's outputs are checked against the SQL of the weather golden
tests (tests/test_weather_golden.py), run over the fact and locations the
pipeline wrote.  The serving queries are plain SQL text, so DuckDB runs
each one unchanged over the same tables.  The streamed fact is checked
for exactly-once arrival against the batch one.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pandas as pd

from big_data_processing_spark.plans.weather import ROUND2_SQL as R

_JOIN = "FROM weather w JOIN locations l ON w.location_id = l.location_id"

ORACLES = {
    "district_monthly_weather": f"""
        SELECT l.city_name AS district,
               concat_ws('-', CAST(w.year AS VARCHAR),
                         lpad(CAST(w.month AS VARCHAR), 2, '0')) AS year_month,
               {R.format(x='SUM(w.precipitation_hours)')} AS total_precip_hours,
               {R.format(x='AVG(w.temperature_2m_mean)')} AS avg_temperature
        {_JOIN}
        GROUP BY 1, 2""",
    "highest_precipitation": f"""
        SELECT concat_ws('-', CAST(year AS VARCHAR),
                         lpad(CAST(month AS VARCHAR), 2, '0')) AS year_month,
               {R.format(x='SUM(precipitation_sum)')} AS total_precipitation
        FROM weather GROUP BY 1
        ORDER BY total_precipitation DESC, year_month ASC LIMIT 1""",
    "top_temperate_cities": f"""
        SELECT l.city_name AS city,
               {R.format(x='AVG(w.temperature_2m_max)')} AS avg_max_temp,
               {R.format(x='ABS(AVG(w.temperature_2m_max) - 22.0)')} AS temp_deviation
        {_JOIN}
        WHERE w.temperature_2m_max IS NOT NULL
        GROUP BY 1 ORDER BY temp_deviation ASC, city ASC LIMIT 10""",
    "evapotranspiration_by_season": f"""
        SELECT l.city_name AS district,
               CAST(CASE WHEN w.month IN (1,2,3) THEN w.year - 1 ELSE w.year END AS INT)
                   AS season_year,
               CASE WHEN w.month IN (9,10,11,12,1,2,3) THEN 'Maha' ELSE 'Yala' END AS season,
               {R.format(x='AVG(w.et0_fao_evapotranspiration)')} AS avg_et0,
               {R.format(x='SUM(w.et0_fao_evapotranspiration)')} AS total_et0,
               COUNT(*) AS n_days
        {_JOIN}
        WHERE w.et0_fao_evapotranspiration IS NOT NULL
        GROUP BY 1, 2, 3""",
    "radiation_analysis": f"""
        SELECT CAST(year AS INT) AS year, CAST(month AS INT) AS month,
               COUNT(*) AS total_days,
               CAST(SUM(CASE WHEN shortwave_radiation_sum > 15 THEN 1 ELSE 0 END) AS BIGINT)
                   AS days_above_15,
               {R.format(x='SUM(CASE WHEN shortwave_radiation_sum > 15 THEN 1 ELSE 0 END)'
                         ' * 100.0 / COUNT(*)')} AS percentage,
               {R.format(x='AVG(shortwave_radiation_sum)')} AS avg_radiation
        FROM weather WHERE shortwave_radiation_sum IS NOT NULL
        GROUP BY 1, 2""",
    "weekly_max_temp_hottest_months": f"""
        WITH monthly AS (
            SELECT year, month, AVG(temperature_2m_max) AS avg_max_temp
            FROM weather WHERE temperature_2m_max IS NOT NULL
            GROUP BY year, month
        ),
        hottest AS (
            SELECT year, month FROM (
                SELECT year, month,
                       ROW_NUMBER() OVER (PARTITION BY year
                                          ORDER BY avg_max_temp DESC, month ASC) AS rnk
                FROM monthly
            ) WHERE rnk <= 3
        )
        SELECT CAST(w.year AS INT) AS year, CAST(w.month AS INT) AS month,
               CAST(w.week AS INT) AS week, l.city_name AS city,
               {R.format(x='MAX(w.temperature_2m_max)')} AS max_temp,
               {R.format(x='AVG(w.temperature_2m_max)')} AS avg_temp,
               COUNT(*) AS n_days
        {_JOIN}
        JOIN hottest h ON w.year = h.year AND w.month = h.month
        WHERE w.temperature_2m_max IS NOT NULL
        GROUP BY 1, 2, 3, 4""",
}
# outputs without an oracle: they must exist and hold rows
NON_EMPTY = ("ml_feature_statistics", "ml_model_performance")
# The engine accumulates floating sums and decimal quotients exactly and
# rounds to 2 decimals; DuckDB sums doubles, so a value on a rounding
# boundary may come out one hundredth apart.  Everything else is exact.
TOLERANCE = 0.0100001


def _floats(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, decimal columns as floats."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object and df[c].map(lambda v: v is None or isinstance(v, Decimal)).all():
            df[c] = df[c].astype(float)
    return df


def _inexact(col: pd.Series) -> bool:
    return pd.api.types.is_float_dtype(col) and not (col.dropna() % 1 == 0).all()


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None if the frames hold the same rows, in any order and at any
    numeric width, with floats within TOLERANCE; else the difference.
    Rows are sorted by the columns that hold only whole numbers or
    non-numbers first, so that a last-digit float difference cannot
    misalign them."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    got, want = _floats(got), _floats(want)
    floats = [c for c in got.columns if _inexact(got[c]) or _inexact(want[c])]
    keys = [c for c in got.columns if c not in floats] + floats
    try:
        pd.testing.assert_frame_equal(
            got.sort_values(keys).reset_index(drop=True),
            want.sort_values(keys).reset_index(drop=True),
            check_dtype=False, check_exact=False, rtol=0, atol=TOLERANCE,
        )
    except AssertionError as e:
        return " ".join(str(e).split())[:300] or "frames differ"
    return None


def _table(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


class WeatherOracle:
    """DuckDB over one pass's tables: the fact the streaming ingest wrote
    (``streamed``) and, once the pipeline has run, the fact and locations
    it wrote (``weather``, ``locations``) with the dashboard's views over
    them (``raw_weather_data``, ``district_monthly_weather``)."""

    def __init__(self, streamed_dir: str):
        self.con = duckdb.connect()
        self.streamed_dir = streamed_dir

    def streamed_rows(self) -> int:
        return self.con.sql(f"SELECT count(*) FROM {_table(self.streamed_dir)}").fetchone()[0]

    def check_pipeline(self, paths: dict[str, str], n_clean: int) -> str | None:
        """An error if the pipeline's written outputs (``{name: dir}``) are
        wrong: its fact must hold the ``n_clean`` clean generated rows,
        and each analytical output must equal its oracle over that fact."""
        con = self.con
        con.sql(f"CREATE OR REPLACE VIEW weather AS SELECT * FROM {_table(paths['weather_fact'])}")
        con.sql(f"CREATE OR REPLACE VIEW locations AS SELECT * FROM {_table(paths['locations'])}")
        con.sql("CREATE OR REPLACE VIEW raw_weather_data AS SELECT * FROM weather")
        # the dashboard's monthly view (dashboard.register_dashboard_views)
        # over the output checked below
        con.sql(f"""
            CREATE OR REPLACE VIEW district_monthly_weather AS
            SELECT district, year_month,
                   total_precip_hours AS total_precipitation_hours,
                   avg_temperature AS mean_temperature,
                   CAST(split_part(year_month, '-', 1) AS INT) AS year,
                   CAST(split_part(year_month, '-', 2) AS INT) AS month
            FROM {_table(paths['district_monthly_weather'])}""")
        n = con.sql("SELECT count(*) FROM weather").fetchone()[0]
        if n != n_clean:
            return f"fact holds {n} rows, the generator wrote {n_clean} clean rows"
        for name, sql in ORACLES.items():
            error = compare(con.sql(f"SELECT * FROM {_table(paths[name])}").df(), con.sql(sql).df())
            if error:
                return f"{name}: {error}"
        for name in NON_EMPTY:
            if not con.sql(f"SELECT count(*) FROM {_table(paths[name])}").fetchone()[0]:
                return f"{name} is empty"
        return None

    def check_query(self, sql: str, got: pd.DataFrame) -> str | None:
        """A serving query's engine result against the same SQL run by
        DuckDB over the batch layer's tables."""
        return compare(got, self.con.sql(sql).df())

    def check_exactly_once(self, n_clean: int) -> list[str]:
        """After every arrival the streamed fact holds each clean row
        once: ``n_clean`` rows, and the same rows as the batch fact."""
        con = self.con
        n = self.streamed_rows()
        if n != n_clean:
            return [f"streamed fact rows {n} != generated clean rows {n_clean}"]
        cols = sorted(con.sql("SELECT * FROM weather").columns)
        sel = ", ".join(f'"{c}"' for c in cols)
        streamed = f"SELECT {sel} FROM {_table(self.streamed_dir)}"
        differ = con.sql(
            f"SELECT count(*) FROM (({streamed} EXCEPT ALL SELECT {sel} FROM weather) "
            f"UNION ALL (SELECT {sel} FROM weather EXCEPT ALL {streamed}))"
        ).fetchone()[0]
        return [f"{differ} rows differ between the streamed and batch facts"] if differ else []

    def close(self) -> None:
        self.con.close()
