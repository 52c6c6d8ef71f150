"""The rollup pipeline: pages -> 1m/1h/1d tier tables, resumable per day.

Unit of *lineage* = one ``p_day`` partition (day windows never split any
tier's windows, so per-day accounting is exact). Unit of *execution* = one
batch: all pending days are processed in a single distributed pass per tier
(dynamic partition overwrite), NOT a per-day driver loop — at 10^12 docs a
driver loop over days would serialize the cluster; here day-parallelism is
just partition-parallelism.

Resume protocol:
1. One aggregation computes (day, fingerprint) for every input day —
   fingerprint = count + order-independent XOR of row hashes (identical at
   any parallelism).
2. Days whose lineage record matches are dropped from the work list
   (anti-join against lineage).
3. Pending days are filtered in ONE predicate (partition-prunable) and all
   three tiers are written with partitionOverwriteMode=dynamic — so a batch
   that died mid-write is simply overwritten on retry, never duplicated.
4. Lineage is marked per day only after all tier writes commit.

Tier table layout: ``rollup_1m|1h|1d/p_day=D/part-*`` plus ``_tier_schema.json``
(the tier's ``StructType.json()``, rewritten after each committed write;
partition discovery skips ``_`` names). :func:`read_tier` passes it to the
reader, so opening a tier runs no inference job; a tier without it infers.
"""

from __future__ import annotations

import os
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tstore_spark.operators.rollup import rollup_all_tiers
from tstore_spark.plans.lineage import LineageLog, MetricsLog
from tstore_spark.sources.archive import schema_reader

TIER_TABLES = {"1m": "rollup_1m", "1h": "rollup_1h", "1d": "rollup_1d"}
TIER_SCHEMA_FILE = "_tier_schema.json"


def day_fingerprints(pages: DataFrame, time_col: str = "warc_ts") -> dict[str, tuple[str, int]]:
    """day -> (fingerprint, rows) for every day in the input — one job."""
    rows = (
        pages.groupBy(F.to_date(time_col).alias("p_day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"bit_xor(xxhash64(url, {time_col}))").alias("x"),
        )
        .collect()
    )
    return {str(r["p_day"]): (f"{r['n']}:{r['x']}", r["n"]) for r in rows}


def _write_tier(tier_df: DataFrame, base_dir: str, table: str) -> None:
    path = os.path.join(base_dir, table)
    (
        tier_df.withColumn("p_day", F.to_date("window_start"))
        .repartition(F.col("p_day"), F.col("domain"))
        .sortWithinPartitions("domain", "window_start")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("p_day")
        .parquet(path)
    )
    Path(path, TIER_SCHEMA_FILE).write_text(tier_df.schema.json())


def run_rollup_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    base_dir: str,
    run_id: str | None = None,
    time_col: str = "warc_ts",
) -> dict:
    """Process all pending days in one distributed batch; returns metrics."""
    run_id = run_id or uuid.uuid4().hex[:12]
    lineage = LineageLog(base_dir)
    metrics = MetricsLog(base_dir)
    t0 = time.time()

    fps = day_fingerprints(pages, time_col)
    done = lineage.completed(TIER_TABLES["1d"])
    pending = sorted(d for d, (fp, _) in fps.items() if done.get(d, {}).get("fingerprint") != fp)
    skipped = sorted(d for d in fps if d not in pending)
    total_rows = sum(fps[d][1] for d in pending)

    if pending:
        batch = pages.where(F.to_date(F.col(time_col)).isin(pending))
        # honor ingest-time stat columns automatically: the rollup then scans
        # two narrow ints and Parquet prunes the payload columns entirely
        kw = (
            {"bytes_col": "html_bytes", "len_col": "text_len"}
            if {"html_bytes", "text_len"} <= set(pages.columns)
            else {}
        )
        tiers = rollup_all_tiers(batch, time_col=time_col, **kw)
        # cache the 1m tier: it feeds its own write AND the 1h cascade
        tiers["1m"] = tiers["1m"].cache()
        tiers["1h"] = tiers["1h"].cache()
        for tier_name, table in TIER_TABLES.items():
            _write_tier(tiers[tier_name], base_dir, table)
        tiers["1m"].unpersist()
        tiers["1h"].unpersist()
        # all tier writes committed -> mark lineage per day
        for d in pending:
            fp, n = fps[d]
            for table in TIER_TABLES.values():
                lineage.mark_complete(table, d, fp, n, run_id)

    summary = {
        "days_processed": pending,
        "days_skipped": skipped,
        "input_rows": total_rows,
        "seconds": round(time.time() - t0, 3),
        "tables": list(TIER_TABLES.values()),
    }
    metrics.record(run_id, summary)
    return summary


def read_tier(spark: SparkSession, base_dir: str, tier: str) -> DataFrame:
    path = os.path.join(base_dir, TIER_TABLES[tier])
    schema_file = Path(path, TIER_SCHEMA_FILE)
    schema_json = schema_file.read_text() if schema_file.is_file() else None
    return schema_reader(spark, schema_json).parquet(path).drop("p_day")
