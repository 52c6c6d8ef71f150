"""Resumable pipeline: kill/rerun idempotency via lineage anti-join."""

import os

import pandas as pd

from tstore_spark.operators.rollup import rollup_oracle_pandas
from tstore_spark.plans.pipeline import TIER_SCHEMA_FILE, TIER_TABLES, read_tier, run_rollup_pipeline
from pyspark.sql import functions as F


def _pages_with_days(spark, pages_pdf, days):
    sdf = spark.createDataFrame(pages_pdf)
    return sdf.where(F.to_date("warc_ts").isin([str(d) for d in days])) if days else sdf


def test_pipeline_resume_and_exactness(spark, pages_pdf, tmp_path):
    base = str(tmp_path / "pipe")
    all_days = sorted(pages_pdf["warc_ts"].dt.date.unique().astype(str))

    # phase 1: "crash" after the first 3 days
    part = _pages_with_days(spark, pages_pdf, all_days[:3])
    s1 = run_rollup_pipeline(spark, part, base, run_id="phase1")
    assert s1["days_processed"] == all_days[:3]

    # phase 2: rerun over the full input — completed days are skipped
    full = spark.createDataFrame(pages_pdf)
    s2 = run_rollup_pipeline(spark, full, base, run_id="phase2")
    assert s2["days_skipped"] == all_days[:3]
    assert s2["days_processed"] == all_days[3:]

    # phase 3: idempotent — nothing left to do
    s3 = run_rollup_pipeline(spark, full, base, run_id="phase3")
    assert s3["days_processed"] == []
    assert s3["days_skipped"] == all_days

    # final state equals the single-shot oracle, exactly
    got = read_tier(spark, base, "1d").toPandas().sort_values(["domain", "window_start"]).reset_index(drop=True)
    exp = rollup_oracle_pandas(pages_pdf, "1d").sort_values(["domain", "window_start"]).reset_index(drop=True)
    got["window_start"] = pd.to_datetime(got["window_start"])
    pd.testing.assert_frame_equal(got[exp.columns], exp, check_dtype=False)

    # metrics recorded per run
    from tstore_spark.plans.lineage import MetricsLog

    runs = MetricsLog(base).runs()
    assert [r["run_id"] for r in runs] == ["phase1", "phase2", "phase3"]


def test_pipeline_reprocesses_changed_day(spark, pages_pdf, tmp_path):
    """Late data for a completed day changes its fingerprint -> that day (and
    only that day) is recomputed, and tiers reflect the new input exactly."""
    base = str(tmp_path / "pipe2")
    all_days = sorted(pages_pdf["warc_ts"].dt.date.unique().astype(str))
    full = spark.createDataFrame(pages_pdf)
    run_rollup_pipeline(spark, full, base, run_id="initial")

    # late-arriving rows: duplicate the first 50 rows of day 0 with new urls
    late = pages_pdf[pages_pdf["warc_ts"].dt.date.astype(str) == all_days[0]].head(50).copy()
    late["url"] = late["url"] + "/late"
    amended = pd.concat([pages_pdf, late], ignore_index=True)
    s2 = run_rollup_pipeline(spark, spark.createDataFrame(amended), base, run_id="late")
    assert s2["days_processed"] == [all_days[0]]
    assert s2["days_skipped"] == all_days[1:]

    got = read_tier(spark, base, "1d").toPandas().sort_values(["domain", "window_start"]).reset_index(drop=True)
    exp = rollup_oracle_pandas(amended, "1d").sort_values(["domain", "window_start"]).reset_index(drop=True)
    got["window_start"] = pd.to_datetime(got["window_start"])
    pd.testing.assert_frame_equal(got[exp.columns], exp, check_dtype=False)


def test_read_tier_uses_recorded_schema(spark, pages_pdf, tmp_path, count_jobs):
    """Each tier write records its schema; reading a tier then submits no
    job, and the schema equals the one inferred from a tier directory
    without the file (which must still read)."""
    base = str(tmp_path / "pipe3")
    days = sorted(pages_pdf["warc_ts"].dt.date.unique().astype(str))[:2]
    run_rollup_pipeline(spark, _pages_with_days(spark, pages_pdf, days), base)
    for tier, table in TIER_TABLES.items():
        jobs, recorded = count_jobs(lambda: read_tier(spark, base, tier))
        assert jobs == 0
        os.remove(os.path.join(base, table, TIER_SCHEMA_FILE))
        inferred = read_tier(spark, base, tier)
        assert recorded.schema == inferred.schema
        assert recorded.count() == inferred.count() > 0
