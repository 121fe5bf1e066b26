"""Capstone: one call produces the reference's entire warehouse, with
the reference's output-shape invariants (table inventory and
cardinalities scaled to the fixture). The sinks after the fact write
run concurrently, so the pipeline is also held to: each sink writes its
own plan's rows, every sink job carries the caller's job group, and a
failing sink is re-raised with the fact's cache released."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_processing_spark.plans import pipeline as P
from big_data_processing_spark.plans import weather as W
from big_data_processing_spark.plans.pipeline import run_full_pipeline

from .weather_fixture import generate

GROUP = "full-pipeline-under-test"


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """One pipeline run under a caller-set job group. Returns the
    fixture info, the written paths, the job group each ``write_table``
    sink saw on its thread, and the ids of the jobs the run left outside
    any group."""
    sc = spark.sparkContext
    tmp = tmp_path_factory.mktemp("pipeline")
    info = generate(str(tmp / "src"), years=(2012, 2013))
    seen = {}
    real = P.write_table

    def recording(df, path, *args, **kwargs):
        seen[path.rsplit("/", 1)[-1]] = sc.getLocalProperty("spark.jobGroup.id")
        return real(df, path, *args, **kwargs)

    def ungrouped():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    ungrouped_before = ungrouped()
    sc.setJobGroup(GROUP, "run_full_pipeline under a caller's job group")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(P, "write_table", recording)
            paths = run_full_pipeline(
                spark,
                info["weather_csv"],
                info["location_csv"],
                str(tmp / "warehouse"),
            )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return info, paths, seen, ungrouped() - ungrouped_before


def test_full_pipeline_builds_warehouse(spark, warehouse):
    info, paths, _, _ = warehouse
    # table inventory mirrors the reference warehouse
    # (DATA_ANALYSIS_TABLES_MAPPING.md:531-544)
    assert set(paths) == {
        "weather_fact",
        "locations",
        "district_monthly_weather",
        "highest_precipitation",
        "top_temperate_cities",
        "evapotranspiration_by_season",
        "radiation_analysis",
        "weekly_max_temp_hottest_months",
        "ml_feature_statistics",
        "ml_model_performance",
        "et_model",
    }
    n_months = 2 * 12
    counts = {
        "weather_fact": info["n_clean_weather"],
        "district_monthly_weather": 27 * n_months,
        "highest_precipitation": 1,
        "top_temperate_cities": 10,
        "radiation_analysis": n_months,
        "ml_feature_statistics": 12 * 4,  # (month, feature) keyed, ref contract
        "ml_model_performance": 1,
        "locations": 27,
    }
    for name, expected in counts.items():
        got = spark.read.parquet(paths[name]).count()
        assert got == expected, f"{name}: {got} != {expected}"

    # fact partitioned by year → pruning works
    fact = spark.read.parquet(paths["weather_fact"])
    assert set(r.year for r in fact.select("year").distinct().collect()) == {2012, 2013}

    # model performance row carries the full reference contract
    # (train_et_model.py:72-90): metrics + features + coefficients
    perf = spark.read.parquet(paths["ml_model_performance"]).first()
    assert perf.rmse > 0 and perf.mae > 0 and -1.0 < perf.r2 <= 1.0
    assert perf.train_size > 0 and perf.test_size > 0
    assert (perf.feature_1, perf.feature_2, perf.feature_3) == (
        "sunshine_hours",
        "precipitation_sum",
        "wind_speed_10m_max",
    )
    import math

    for c in (perf.coefficient_1, perf.coefficient_2, perf.coefficient_3, perf.intercept):
        assert math.isfinite(c)

    # persisted model is loadable and predicts
    from big_data_processing_spark.ml.pipeline import load_model, predict_single

    model = load_model(paths["et_model"])
    assert isinstance(predict_single(model, spark, 8.0, 5.0, 12.0), float)


def test_pii_scrub_leaves_no_matches(spark, sf_dir):
    """After redaction, re-scanning the scrubbed text with the same
    regexes must find ZERO matches — the scrub is complete, not just
    counted."""
    from pyspark.sql import functions as F

    from big_data_processing_spark.plans.catalog_ext import (
        _PII_EMAIL_RE,
        _PII_EMOD,
        _PII_PHONE_RE,
        _PII_PMOD,
        _PII_UMOD,
        _PII_URL_RE,
        _t,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % _PII_EMOD == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@mail.example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % _PII_UMOD == 0,
            F.concat(F.lit(" ref https://data.example.org/doc/"), did.cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            did % _PII_PMOD == 0,
            F.concat(F.lit(" call 555-010-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _PII_EMAIL_RE, "<email>"), _PII_URL_RE, "<url>"
        ),
        _PII_PHONE_RE,
        "<phone>",
    )
    residuals = d.select(
        (
            F.regexp_count(clean, F.lit(_PII_EMAIL_RE))
            + F.regexp_count(clean, F.lit(_PII_URL_RE))
            + F.regexp_count(clean, F.lit(_PII_PHONE_RE))
        ).alias("n")
    ).agg(F.sum("n").alias("total")).first()
    assert residuals.total == 0


def test_curation_pipeline_statuses_partition_corpus(spark, sf_dir):
    """Every document lands in exactly one funnel status — the summary
    counts must sum to the corpus size."""
    from big_data_processing_spark.plans.catalog_ext import (
        curation_pipeline_summary,
        _t,
    )

    total = _t(spark, sf_dir, "documents").count()
    rows = curation_pipeline_summary(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == total
    assert {r.status for r in rows} <= {
        "eval_holdout",
        "low_quality",
        "duplicate",
        "contaminated",
        "kept",
    }
    assert any(r.status == "kept" for r in rows)


def test_curation_pipeline_materializes_consistent_corpus(spark, sf_dir, tmp_path):
    """The written corpus must agree with the hash-checked summary:
    kept rows on disk == 'kept' count in the report, splits partition
    the kept set, and split=train reads prune to the train partition."""
    from pyspark.sql import functions as F

    from big_data_processing_spark.plans.curation import (
        read_curated_split,
        run_curation_pipeline,
    )

    paths = run_curation_pipeline(spark, sf_dir, str(tmp_path / "out"))
    curated = spark.read.parquet(paths["curated_documents"])
    report = spark.read.parquet(paths["curation_report"])

    kept_in_report = (
        report.filter(F.col("status") == "kept").agg(F.sum("n_docs")).first()[0]
    )
    assert curated.count() == kept_in_report
    assert set(r.split for r in curated.select("split").distinct().collect()) <= {
        "train",
        "validation",
        "test",
    }

    train = read_curated_split(spark, paths["curated_documents"], "train")
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(split" in plan
    assert train.count() > 0
    # quality gate actually held
    assert curated.agg(F.min("quality_score")).first()[0] >= 0.45


def test_each_sink_writes_its_own_plan(spark, warehouse):
    """Every output equals its plan collected directly, in both
    directions — a sink that wrote another sink's frame (a late-bound
    loop variable in a task closure) fails here."""
    info, paths, _, _ = warehouse
    weather = W.ingest_weather_csv(spark, info["weather_csv"])
    location = W.ingest_location_csv(spark, info["location_csv"])
    plans = {
        "locations": location,
        "district_monthly_weather": W.district_monthly_weather(weather, location),
        "highest_precipitation": W.highest_precipitation(weather),
        "top_temperate_cities": W.top_temperate_cities(weather, location),
        "evapotranspiration_by_season": W.evapotranspiration_by_season(weather, location),
        "radiation_analysis": W.radiation_analysis(weather),
        "weekly_max_temp_hottest_months": W.weekly_max_temp_hottest_months(weather, location),
        "ml_feature_statistics": W.ml_feature_statistics(weather),
    }
    for name, want in plans.items():
        got = spark.read.parquet(paths[name])
        assert got.exceptAll(want).isEmpty(), f"{name}: rows not in its plan"
        assert want.exceptAll(got).isEmpty(), f"{name}: plan rows missing"


def test_sink_jobs_carry_the_callers_job_group(spark, warehouse):
    """Pool threads inherit the caller's job group, so every pipeline
    job is listed under it (and ``cancelJobGroup`` reaches it)."""
    _, paths, seen, escaped = warehouse
    sc = spark.sparkContext
    sinks = {name for name in paths if name not in ("weather_fact", "et_model")}
    assert seen == {name: GROUP for name in sinks}
    grouped = sc.statusTracker().getJobIdsForGroup(GROUP)
    assert len(grouped) >= len(sinks) + 1  # the fact write, then every sink
    assert not escaped, f"pipeline jobs outside the caller's group: {sorted(escaped)}"


def test_failed_sink_is_reraised_and_releases_the_cache(spark, tmp_path, monkeypatch):
    """The failing sink's error reaches the caller, and the pipeline's
    cached fact is released. Only that fact's cache entry is checked —
    caches other tests hold in the shared session are left alone."""
    info = generate(str(tmp_path / "src"), years=(2012, 2012))
    real = P.write_table
    during = []

    def fact_cached() -> bool:
        level = W.ingest_weather_csv(spark, info["weather_csv"]).storageLevel
        return level.useMemory or level.useDisk

    def failing(df, path, *args, **kwargs):
        if path.endswith("/radiation_analysis"):
            during.append(fact_cached())
            raise RuntimeError("radiation_analysis sink failed")
        return real(df, path, *args, **kwargs)

    monkeypatch.setattr(P, "write_table", failing)
    with pytest.raises(RuntimeError, match="radiation_analysis sink failed"):
        run_full_pipeline(
            spark, info["weather_csv"], info["location_csv"], str(tmp_path / "warehouse")
        )
    assert during == [True]  # the probe finds the pipeline's fact while it runs
    assert not fact_cached()
