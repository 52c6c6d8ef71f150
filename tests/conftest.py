import pytest

from tstore_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tstore_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_pdf():
    from tstore_spark.datagen import pages_pandas

    return pages_pandas(rows=3000)


@pytest.fixture(scope="session")
def pages_sdf(spark, pages_pdf):
    return spark.createDataFrame(pages_pdf).cache()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn) -> (jobs fn submitted, fn())``: runs ``fn`` under a
    fresh job group and counts the Spark jobs tagged with it."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run


@pytest.fixture()
def scan_metrics(spark):
    """``scan_metrics(df) -> {"numFiles", "numPartitions"}`` of the single
    file scan in ``df``'s plan, read after collecting it with AQE off (an
    adaptive plan hides its scan until the final stage is planned)."""

    def run(df):
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            qe = df._jdf.queryExecution()
            df.collect()
            leaves = qe.executedPlan().collectLeaves()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)
        scans = [
            leaves.apply(i) for i in range(leaves.size())
            if leaves.apply(i).getClass().getSimpleName() == "FileSourceScanExec"
        ]
        assert len(scans) == 1, [s.nodeName() for s in scans]
        metrics = scans[0].metrics()
        return {k: int(metrics.apply(k).value()) for k in ("numFiles", "numPartitions")}

    return run


@pytest.fixture()
def partition_files():
    """``partition_files(pages_root, col, value)`` -> ``{(p_day, p_bucket):
    (parquet files, whether any holds value in col)}`` for every partition
    directory — the on-disk ground truth a pruned scan is checked against."""
    import os

    import pyarrow.parquet as pq

    def run(pages_root, col, value):
        out = {}
        for day in sorted(e for e in os.listdir(pages_root) if e.startswith("p_day=")):
            for bucket in os.listdir(os.path.join(pages_root, day)):
                d = os.path.join(pages_root, day, bucket)
                files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
                holds = any(value in pq.read_table(f, columns=[col]).column(col).to_pylist() for f in files)
                out[(day.split("=")[1], int(bucket.split("=")[1]))] = (len(files), holds)
        return out

    return run
