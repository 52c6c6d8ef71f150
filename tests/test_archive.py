"""Archive write/read: golden layout, round-trip, filters, pruning, retention.

Mirrors the reference's golden-directory + round-trip + filter-monotonicity
style (tstore/tests/test_tslong.py:270-403)."""

import os

import pandas as pd
import pytest

from tstore_spark.datagen import attrs_pandas
from tstore_spark.functions.urls import domain_of
from tstore_spark.model.tslong import TSLong
from tstore_spark.sources.archive import (
    append_archive,
    apply_retention,
    open_archive,
    read_metadata_all,
    write_archive,
)


@pytest.fixture(scope="module")
def archive_dir(spark, pages_sdf, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("archive"))
    pages = pages_sdf.withColumn("domain", domain_of("url"))
    tsl = TSLong.wrap(
        pages, id_var="domain", time_var="warc_ts",
        ts_vars={"content": ["url", "html", "text", "lang"]},
    )
    attrs = spark.createDataFrame(attrs_pandas())
    write_archive(tsl, base, attrs=attrs, num_buckets=4)
    return base


def test_golden_layout(archive_dir):
    assert os.path.isfile(os.path.join(archive_dir, "tstore_metadata.json"))
    assert os.path.isdir(os.path.join(archive_dir, "attributes"))
    pages_root = os.path.join(archive_dir, "pages")
    days = sorted(d for d in os.listdir(pages_root) if d.startswith("p_day="))
    assert days == [f"p_day=2024-01-0{i}" for i in range(1, 8)]
    buckets = sorted(os.listdir(os.path.join(pages_root, days[0])))
    assert all(b.startswith("p_bucket=") for b in buckets)


def test_roundtrip_counts(spark, archive_dir, pages_pdf):
    got = open_archive(spark, archive_dir)
    assert got.df.count() == len(pages_pdf)
    # hidden partition columns never reach the logical schema
    assert "p_day" not in got.df.columns and "p_bucket" not in got.df.columns
    # attrs joined in as statics
    assert "static_var1" in got.df.columns


def test_text_byte_identity(spark, archive_dir, pages_pdf):
    """The invariant from input_hint: byte-identical text per url after a
    full write/read cycle (sha256 over UTF-8 bytes)."""
    import hashlib

    got = open_archive(spark, archive_dir, with_attributes=False).df.select("url", "text").toPandas()
    exp = pages_pdf.drop_duplicates("url")[["url", "text"]]
    merged = got.drop_duplicates("url").merge(exp, on="url", suffixes=("_got", "_exp"))
    assert len(merged) == exp["url"].nunique()
    h = lambda s: hashlib.sha256(s.encode("utf-8")).hexdigest()
    assert (merged["text_got"].map(h) == merged["text_exp"].map(h)).all()


@pytest.mark.parametrize("inclusive,expected_cmp", [("both", "<="), ("left", "<"), ("right", "<="), ("neither", "<")])
def test_time_filters(spark, archive_dir, pages_pdf, inclusive, expected_cmp):
    start, end = "2024-01-02", "2024-01-04"
    got = open_archive(
        spark, archive_dir, start_time=start, end_time=end, inclusive=inclusive, with_attributes=False
    ).df.count()
    s, e = pd.Timestamp(start), pd.Timestamp(end)
    ts = pages_pdf["warc_ts"]
    mask = {
        "both": (ts >= s) & (ts <= e),
        "left": (ts >= s) & (ts < e),
        "right": (ts > s) & (ts <= e),
        "neither": (ts > s) & (ts < e),
    }[inclusive]
    assert got == int(mask.sum())


def test_filter_monotonicity(spark, archive_dir):
    """Filtered reads <= unfiltered (reference test_tslong.py:322-403)."""
    full = open_archive(spark, archive_dir, with_attributes=False).df.count()
    both = open_archive(spark, archive_dir, start_time="2024-01-02", end_time="2024-01-04",
                        inclusive="both", with_attributes=False).df.count()
    neither = open_archive(spark, archive_dir, start_time="2024-01-02", end_time="2024-01-04",
                           inclusive="neither", with_attributes=False).df.count()
    assert neither <= both <= full


def test_id_filter_and_partition_pruning(spark, archive_dir, pages_pdf):
    dom = "d00.example.com"
    got = open_archive(spark, archive_dir, ids=[dom], with_attributes=False)
    exp = pages_pdf["url"].str.contains(f"//{dom}/").sum()
    assert got.df.count() == exp
    # pruning proof: the physical plan's partition filters mention p_bucket + p_day
    plan = got.df.where("warc_ts >= timestamp'2024-01-03'")._jdf.queryExecution().executedPlan().toString()
    assert "p_bucket" in plan


def test_id_filter_scans_only_the_id_bucket(spark, archive_dir, scan_metrics, partition_files):
    """The scan reads exactly the partition directories of the id's bucket
    (every day), checked against the files on disk that hold the id."""
    dom = "d00.example.com"
    parts = partition_files(os.path.join(archive_dir, "pages"), "domain", dom)
    buckets = {b for (_day, b), (_n, holds) in parts.items() if holds}
    assert len(buckets) == 1  # one spec: an id lives in one bucket on every day
    want = [n for (_day, b), (n, _holds) in parts.items() if b in buckets]
    assert len(want) < len(parts)
    got = scan_metrics(open_archive(spark, archive_dir, ids=[dom], with_attributes=False).df)
    assert got == {"numFiles": sum(want), "numPartitions": len(want)}


def test_open_with_ids_submits_no_job(spark, archive_dir, count_jobs, pages_pdf):
    doms = ["d00.example.com", "d01.example.com"]
    jobs, got = count_jobs(
        lambda: open_archive(spark, archive_dir, ids=doms, with_attributes=False)
    )
    assert jobs == 0
    exp = pages_pdf["url"].str.contains("//d00.example.com/|//d01.example.com/").sum()
    assert got.df.count() == exp


def test_open_with_attributes_submits_no_job(spark, archive_dir, count_jobs):
    jobs, got = count_jobs(lambda: open_archive(spark, archive_dir))
    assert jobs == 0
    assert "static_var1" in got.df.columns


def test_attributes_without_recorded_schema_still_read(spark, archive_dir, tmp_path):
    """Metadata written before ``attrs_schema`` existed: the attributes
    table schema is inferred, and the read matches the recorded one."""
    import json
    import shutil

    base = str(tmp_path / "legacy_attrs")
    shutil.copytree(archive_dir, base)
    meta_path = os.path.join(base, "tstore_metadata.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["attrs_schema"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    legacy = open_archive(spark, base).df
    recorded = open_archive(spark, archive_dir).df
    assert legacy.schema == recorded.schema
    assert legacy.count() == recorded.count()


def test_append_keeps_attrs_schema(spark, archive_dir, pages_sdf, tmp_path):
    import shutil

    base = str(tmp_path / "append_attrs")
    shutil.copytree(archive_dir, base)
    before = read_metadata_all(base)[2]["attrs_schema"]
    batch = pages_sdf.limit(10).withColumn("domain", domain_of("url"))
    append_archive(
        TSLong.wrap(batch, id_var="domain", time_var="warc_ts",
                    ts_vars={"content": ["url", "html", "text", "lang"]}),
        base,
    )
    assert read_metadata_all(base)[2]["attrs_schema"] == before


def test_column_selection(spark, archive_dir):
    got = open_archive(spark, archive_dir, columns=["text", "lang"], with_attributes=False)
    assert set(got.df.columns) == {"domain", "warc_ts", "text", "lang"}


def test_retention(spark, archive_dir, tmp_path):
    """Retention drops whole p_day partitions below the cutoff."""
    import shutil

    base = str(tmp_path / "ret")
    shutil.copytree(archive_dir, base)
    dropped = apply_retention(base, "pages", "2024-01-04")
    assert dropped == [f"p_day=2024-01-0{i}" for i in (1, 2, 3)]
    left = open_archive(spark, base, with_attributes=False).df
    assert left.where("warc_ts < timestamp'2024-01-04'").count() == 0
    assert left.count() > 0
