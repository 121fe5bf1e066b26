"""End-to-end batch pipeline — the reference's whole Lambda stack as
one Spark job.

The reference runs CSV→Kafka→HDFS, then four frameworks each re-read
everything and individually load ClickHouse (SURVEY §3). Here one
spark-submit produces the identical warehouse: typed partitioned fact,
the 8 analytical outputs, and the derived serving aggregate — each a
parquet table under ``out_dir``, all sharing one scan lineage (Spark
caches the joined fact across outputs instead of re-reading per job).

The fact write goes first: it fills the fact's cache. Every other sink
(the locations table, the 7 analytical outputs, the ML branch) then
runs concurrently from one driver thread pool, reading that cache — the
sinks are independent, and only run one after another if the driver
submits them that way; overlapping them back-fills cores that one
sink's small stages leave idle. Each sink's jobs carry the caller's
job group and properties, so ``cancelJobGroup`` reaches them. Every
sink finishes before the call returns; the first failure, in
submission order, is re-raised, and the fact's cache is released
either way.

Entry point: ``python scripts/run_pipeline.py <weather_csv>
<location_csv> <out_dir>`` (the spark-submit batch entry, reference
kafka_hdfs_consumer.py:177-181); or call :func:`run_full_pipeline`.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from ..sources.writers import write_table
from . import weather as W


def run_full_pipeline(
    spark: SparkSession,
    weather_csv: str,
    location_csv: str,
    out_dir: str,
    with_ml: bool = True,
) -> dict[str, str]:
    """Ingest → all analytical outputs → parquet warehouse.

    Returns {table_name: path}. The fact is written partitioned by
    year; analytics reuse one cached in-memory lineage (the reference
    re-reads HDFS from scratch in every framework)."""
    out = out_dir.rstrip("/")
    weather = W.ingest_weather_csv(spark, weather_csv).cache()
    location = W.ingest_location_csv(spark, location_csv)
    outputs = {
        "locations": location,
        "district_monthly_weather": W.district_monthly_weather(weather, location),
        "highest_precipitation": W.highest_precipitation(weather),
        "top_temperate_cities": W.top_temperate_cities(weather, location),
        "evapotranspiration_by_season": W.evapotranspiration_by_season(weather, location),
        "radiation_analysis": W.radiation_analysis(weather),
        "weekly_max_temp_hottest_months": W.weekly_max_temp_hottest_months(
            weather, location
        ),
        "ml_feature_statistics": W.ml_feature_statistics(weather),
    }
    names = ["weather_fact", *outputs]
    if with_ml:
        names += ["ml_model_performance", "et_model"]
    paths = {name: f"{out}/{name}" for name in names}

    sinks = [(write_table, df, paths[name]) for name, df in outputs.items()]
    if with_ml:
        sinks.append((_ml_sinks, spark, weather, paths))
    try:
        W.write_fact_partitioned(weather, paths["weather_fact"])
        with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(spark)(fn), *args)
                for fn, *args in sinks
            ]
            for f in futures:
                f.result()
    finally:
        weather.unpersist()
    return paths


def _ml_sinks(spark: SparkSession, weather, paths: dict[str, str]) -> None:
    """Fit the ET model, write its performance row, then save it."""
    from ..ml import pipeline as ML

    model, train, test = ML.train_et_model(weather)
    perf = ML.model_performance_row(spark, model, train, test)
    write_table(perf, paths["ml_model_performance"])
    ML.save_model(model, paths["et_model"])
