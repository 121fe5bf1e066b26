"""Serving-query regression corpus — the dashboard's ~16 analytical SQL
queries (weather-dashboard/app/pages/page1-4, SURVEY §3.3), exactly as
the Dash callbacks build them, parameterized the same way (thresholds,
district IN-lists, year ranges).

Pages 1-3 serve from the derived ``district_monthly_weather`` aggregate
(the reference's ClickHouse table fed by MapReduce job 1); page 4 serves
from the raw fact ⋈ locations. Both views are registered here from
engine tables — the serving layer reads pre-aggregated data wherever
the reference did, which at 100 TB is the difference between scanning
4,698 rows and 142M.

The aggregate is built once, not once per query: registration marks
the view ``CACHE LAZY``, so the first page 1-3 query computes it into
Spark's in-memory columnar cache and every later one reads the cached
rows. The cache holds one row per (district, month), so its memory
grows with districts × months, never with the fact. Registering the
views again drops it first, so a new fact is never served a stale
aggregate — also when the new fact replaced the old one's files at the
same path, a change the cache itself cannot see. A Spark write to that
path through this session refreshes it too.

ClickHouse-isms are translated: toYear/toMonth → year()/month(); the
reference's stray ``SELECT distinct`` prefixes (page1_precipitation.py:
141,154 — distinct over an aggregated result, a no-op) are preserved
as DISTINCT for faithfulness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .weather import ROUND2_SQL, district_monthly_weather

_R = ROUND2_SQL.format


def register_dashboard_views(
    spark: SparkSession, weather: DataFrame, location: DataFrame
) -> None:
    """Register the raw serving tables + the derived monthly aggregate
    (with the column names the dashboard expects).

    The aggregate view is cached lazily: the first query that reads it
    fills the cache, one row per (district, month). Calling this again
    uncaches the previous aggregate before replacing the view, and
    ``spark.catalog.uncacheTable("district_monthly_weather")`` frees it."""
    weather.createOrReplaceTempView("raw_weather_data")
    location.createOrReplaceTempView("locations")
    dmw = (
        district_monthly_weather(weather, location)
        .withColumn("year", F.split("year_month", "-").getItem(0).cast("int"))
        .withColumn("month", F.split("year_month", "-").getItem(1).cast("int"))
        .withColumnRenamed("total_precip_hours", "total_precipitation_hours")
        .withColumnRenamed("avg_temperature", "mean_temperature")
    )
    spark.sql("UNCACHE TABLE IF EXISTS district_monthly_weather")
    dmw.createOrReplaceTempView("district_monthly_weather")
    spark.sql("CACHE LAZY TABLE district_monthly_weather")


DASHBOARD_QUERIES: dict[str, str] = {
    # --- shared dropdown population (pages 1-3) ---
    "districts_dropdown": """
        SELECT DISTINCT district FROM district_monthly_weather ORDER BY district
    """,
    # --- page 1: precipitation (page1_precipitation.py:140-199) ---
    "p1_monthly_heatmap": """
        SELECT DISTINCT district, month,
               {r_avg_precip} AS avg_precip
        FROM district_monthly_weather
        WHERE {where}
        GROUP BY district, month
        ORDER BY district, month
    """,
    "p1_seasonal": """
        SELECT DISTINCT district,
               CASE WHEN month IN (9,10,11,12,1,2,3) THEN 'Maha (Sep-Mar)'
                    WHEN month IN (4,5,6,7,8) THEN 'Yala (Apr-Aug)' END AS season,
               year,
               {r_total_precip} AS total_precip
        FROM district_monthly_weather
        WHERE {where}
        GROUP BY district, season, year
        ORDER BY district, year, season
    """,
    "p1_top5_districts": """
        SELECT DISTINCT district,
               SUM(total_precipitation_hours) AS total_precip
        FROM district_monthly_weather
        WHERE {where}
        GROUP BY district
        ORDER BY total_precip DESC, district ASC
        LIMIT 5
    """,
    "p1_trends_for_top5": """
        WITH top5 AS (
            SELECT district, SUM(total_precipitation_hours) AS total_precip
            FROM district_monthly_weather WHERE {where}
            GROUP BY district ORDER BY total_precip DESC, district ASC LIMIT 5
        )
        SELECT DISTINCT d.district, d.year, d.month, d.total_precipitation_hours
        FROM district_monthly_weather d
        JOIN top5 t ON d.district = t.district
        WHERE {where}
        ORDER BY d.district, d.year, d.month
    """,
    # --- page 2: top districts (page2_top_districts.py:125-163) ---
    "p2_top5_summary": """
        SELECT district,
               {r_sum_tph} AS total_precip_hours,
               {r_avg_tph} AS avg_monthly_precip,
               {r_min_tph} AS min_monthly_precip,
               {r_max_tph} AS max_monthly_precip,
               COUNT(*) AS month_count,
               MIN(year) AS first_year, MAX(year) AS last_year
        FROM district_monthly_weather
        WHERE year BETWEEN {year_from} AND {year_to}
        GROUP BY district
        ORDER BY total_precip_hours DESC, district ASC
        LIMIT 5
    """,
    "p2_yearly_breakdown": """
        WITH top5 AS (
            SELECT district, SUM(total_precipitation_hours) AS t
            FROM district_monthly_weather
            WHERE year BETWEEN {year_from} AND {year_to}
            GROUP BY district ORDER BY t DESC, district ASC LIMIT 5
        )
        SELECT d.district, d.year,
               {r_sum_tph_d} AS yearly_precip,
               {r_avg_tph_d} AS avg_monthly_precip
        FROM district_monthly_weather d JOIN top5 USING (district)
        WHERE d.year BETWEEN {year_from} AND {year_to}
        GROUP BY d.district, d.year
        ORDER BY d.district, d.year
    """,
    # --- page 3: temperature >threshold (page3_temperature.py:146-207) ---
    "p3_heatmap_pct": """
        SELECT district, year,
               {r_pct_hot} AS percentage
        FROM district_monthly_weather
        WHERE {where}
        GROUP BY district, year
        ORDER BY district, year
    """,
    "p3_by_district_year": """
        SELECT district, year,
               COUNT(*) AS total_months,
               SUM(CASE WHEN mean_temperature > {threshold} THEN 1 ELSE 0 END) AS hot_months,
               {r_pct_hot} AS percentage,
               {r_avg_temp} AS avg_temp,
               {r_max_temp} AS max_temp
        FROM district_monthly_weather
        WHERE {where}
        GROUP BY district, year
        ORDER BY district, year
    """,
    "p3_by_district_overall": """
        SELECT district,
               COUNT(*) AS total_months,
               SUM(CASE WHEN mean_temperature > {threshold} THEN 1 ELSE 0 END) AS hot_months,
               {r_pct_hot} AS percentage,
               {r_avg_temp} AS avg_temp,
               {r_min_temp} AS min_temp,
               {r_max_temp} AS max_temp
        FROM district_monthly_weather
        WHERE {where}
        GROUP BY district
        ORDER BY percentage DESC, district ASC
    """,
    "p3_yearly_trend": """
        SELECT year,
               COUNT(DISTINCT district) AS districts_count,
               {r_avg_pct_when} AS avg_percentage,
               SUM(CASE WHEN mean_temperature > {threshold} THEN 1 ELSE 0 END)
                   AS total_hot_months,
               COUNT(*) AS total_months,
               {r_avg_temp} AS avg_temp,
               {r_max_temp} AS max_temp_recorded
        FROM district_monthly_weather
        WHERE {where}
        GROUP BY year
        ORDER BY year
    """,
    # --- page 4: extreme weather (page4_extreme_weather.py:180-244) ---
    "p4_by_district": """
        SELECT l.city_name AS district,
               COUNT(*) AS extreme_days,
               {r_avg_ps} AS avg_precip,
               {r_avg_wg} AS avg_wind,
               {r_max_ps} AS max_precip,
               {r_max_wg} AS max_wind
        FROM raw_weather_data w
        LEFT JOIN locations l ON w.location_id = l.location_id
        WHERE w.precipitation_sum > {p_thresh} AND w.wind_gusts_10m_max > {w_thresh}
        GROUP BY l.city_name
        ORDER BY extreme_days DESC, district ASC
    """,
    "p4_by_year": """
        SELECT year(w.obs_date) AS year,
               COUNT(*) AS extreme_days,
               COUNT(DISTINCT l.city_name) AS affected_districts
        FROM raw_weather_data w
        LEFT JOIN locations l ON w.location_id = l.location_id
        WHERE w.precipitation_sum > {p_thresh} AND w.wind_gusts_10m_max > {w_thresh}
        GROUP BY year(w.obs_date)
        ORDER BY year
    """,
    "p4_scatter": """
        SELECT l.city_name AS district, w.date,
               w.precipitation_sum, w.wind_gusts_10m_max, w.temperature_2m_max,
               CASE WHEN w.precipitation_sum > {p_thresh} * 1.5
                         AND w.wind_gusts_10m_max > {w_thresh} * 1.3 THEN 'Severe'
                    WHEN w.precipitation_sum > {p_thresh}
                         AND w.wind_gusts_10m_max > {w_thresh} THEN 'Moderate'
                    ELSE 'Normal' END AS severity
        FROM raw_weather_data w
        LEFT JOIN locations l ON w.location_id = l.location_id
        WHERE w.precipitation_sum > {p_thresh} * 0.7
           OR w.wind_gusts_10m_max > {w_thresh} * 0.8
        ORDER BY w.obs_date DESC, district ASC
        LIMIT 1000
    """,
    "p4_monthly": """
        SELECT month(w.obs_date) AS month,
               COUNT(*) AS extreme_days
        FROM raw_weather_data w
        WHERE w.precipitation_sum > {p_thresh} AND w.wind_gusts_10m_max > {w_thresh}
        GROUP BY month(w.obs_date)
        ORDER BY month
    """,
}

DASHBOARD_DEFAULTS = {
    "where": "1=1",
    "threshold": 30,
    "year_from": 2010,
    "year_to": 2030,
    "p_thresh": 30,
    "w_thresh": 50,
    "r_avg_precip": _R(x="AVG(total_precipitation_hours)"),
    "r_total_precip": _R(x="SUM(total_precipitation_hours)"),
    "r_sum_tph": _R(x="SUM(total_precipitation_hours)"),
    "r_avg_tph": _R(x="AVG(total_precipitation_hours)"),
    "r_min_tph": _R(x="MIN(total_precipitation_hours)"),
    "r_max_tph": _R(x="MAX(total_precipitation_hours)"),
    "r_sum_tph_d": _R(x="SUM(d.total_precipitation_hours)"),
    "r_avg_tph_d": _R(x="AVG(d.total_precipitation_hours)"),
    "r_avg_temp": _R(x="AVG(mean_temperature)"),
    "r_min_temp": _R(x="MIN(mean_temperature)"),
    "r_max_temp": _R(x="MAX(mean_temperature)"),
    "r_avg_ps": _R(x="AVG(w.precipitation_sum)"),
    "r_avg_wg": _R(x="AVG(w.wind_gusts_10m_max)"),
    "r_max_ps": _R(x="MAX(w.precipitation_sum)"),
    "r_max_wg": _R(x="MAX(w.wind_gusts_10m_max)"),
}


def run_dashboard_query(spark: SparkSession, name: str, **params) -> DataFrame:
    args = dict(DASHBOARD_DEFAULTS)
    args.update(params)
    if "threshold" in args:
        t = args["threshold"]
        args.setdefault(
            "r_pct_hot",
            _R(x=f"SUM(CASE WHEN mean_temperature > {t} THEN 1 ELSE 0 END) * 100.0 / COUNT(*)"),
        )
        args.setdefault(
            "r_avg_pct_when",
            _R(x=f"AVG(CASE WHEN mean_temperature > {t} THEN 100.0 ELSE 0.0 END)"),
        )
    return spark.sql(DASHBOARD_QUERIES[name].format(**args))


def district_filter(districts: list[str] | None) -> str:
    """The callbacks' IN-list builder (page1_precipitation.py:130-137)."""
    if not districts:
        return "1=1"
    quoted = "', '".join(d.replace("'", "''") for d in districts)
    return f"district IN ('{quoted}')"
