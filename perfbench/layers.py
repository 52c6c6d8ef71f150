"""Metric values of the benchmark. Names and units come from
``BENCHMARK.json``: the end-to-end set (every untraced run) and the
per-layer set (every traced run).

Per-layer metrics are derived from span records (see :mod:`perfbench.trace`)
named after the module function each span wraps. A layer a workload does
not call reads 0 on that workload: no span, no time.
"""

from __future__ import annotations

import functools
import json
import os

from perfbench.stats import median

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


@functools.cache
def units(kind: str) -> dict[str, str]:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(BENCHMARK_JSON) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


# spans whose driver-side share and stage count are reported
DRIVER_SPANS = (
    "archive.write",
    "archive.append",
    "archive.point",
    "archive.scan",
    "pipeline.run",
    "pipeline.resume",
    "pipeline.noop_rerun",
    "gorilla.compress",
    "gorilla.decode",
    "tier.slice",
    "gapfill",
    "downsample.m4",
    "tierselect.range",
    "metric_rollup.tiers",
    "dedup.exact",
    "dedup.minhash",
    "dedup.simhash",
    "dedup.spans",
    "dedup.scrub",
)
DEDUP_STEPS = ("exact", "minhash", "simhash", "spans", "scrub")
QUERY_SPANS = ("archive.point", "archive.scan", "tier.slice", "gapfill", "downsample.m4", "gorilla.decode", "tierselect.range")

# figures each workload computes itself (not from spans)
FIGURES = (
    "ingest_docs_per_s",
    "resume_s",
    "tier_bytes_per_point",
    "gorilla_bytes_per_point",
    "gorilla.ratio",
    "rollup.points_1m",
    "rollup.points_1h",
    "rollup.points_1d",
    "pipeline.days_processed",
    "query_p50_ms",
    "query_tail_ms",
    "query_tail_pct",
    "query_samples",
    "dedup_docs_per_s",
    "peak_rss_mb",
    "traced.setup_s",
    "traced.op_cpu_s",
    "traced.op_p50_ms",
)


def per_layer(records: list[dict], figures: dict) -> dict:
    """Every per-layer metric as ``{name: {"value", "unit"}}``."""
    by: dict[str, list[dict]] = {}
    for r in records:
        by.setdefault(r["name"], []).append(r)

    def med(name: str, key: str = "wall_s", scale: float = 1.0) -> float:
        vals = [r[key] for r in by.get(name, [])]
        return median(vals) * scale if vals else 0.0

    def tot(names, key: str) -> float:
        return sum(r[key] for n in names for r in by.get(n, []))

    def share(num: float, den: float) -> float:
        return num / den if den else 0.0

    v = {
        "session.start_s": med("session.start"),
        "archive.write_s": med("archive.write"),
        "archive.write_output_mb": med("archive.write", "output_mb"),
        "archive.append_s": med("archive.append"),
        "archive.retention_ms": med("archive.retention", scale=1e3),
        "archive.point_ms": med("archive.point", scale=1e3),
        "archive.scan_ms": med("archive.scan", scale=1e3),
        "archive.point_input_mb": med("archive.point", "input_mb"),
        "archive.point_rows_read_per_row": share(
            tot(["archive.point"], "records_read"), tot(["archive.point"], "rows_returned")
        ),
        "pipeline.run_s": med("pipeline.run"),
        "pipeline.resume_s": med("pipeline.resume"),
        "pipeline.noop_rerun_s": med("pipeline.noop_rerun"),
        "pipeline.fingerprint_s": med("pipeline.fingerprint"),
        "pipeline.fingerprint_share": share(med("pipeline.fingerprint"), med("pipeline.resume")),
        "pipeline.write_commit_s": (
            med("pipeline.run") - med("pipeline.fingerprint") - med("rollup.tiers") if "pipeline.run" in by else 0.0
        ),
        "lineage.read_ms": med("lineage.read", scale=1e3),
        "lineage.records": med("lineage.read", "records"),
        "rollup.tiers_s": med("rollup.tiers"),
        "rollup.cpu_s": med("rollup.tiers", "cpu_s"),
        "rollup.shuffle_write_mb": med("rollup.tiers", "shuffle_write_mb"),
        "rollup.spill_mb": med("rollup.tiers", "spill_mb"),
        "rollup.tasks": med("rollup.tiers", "tasks"),
        "gorilla.compress_s": med("gorilla.compress"),
        "gorilla.decode_ms": med("gorilla.decode", scale=1e3),
        "tier.slice_ms": med("tier.slice", scale=1e3),
        "gapfill.ms": med("gapfill", scale=1e3),
        "downsample.m4_ms": med("downsample.m4", scale=1e3),
        "tierselect.range_ms": med("tierselect.range", scale=1e3),
        "metric_rollup.tiers_s": med("metric_rollup.tiers"),
        "query.driver_share": share(tot(QUERY_SPANS, "driver_s"), tot(QUERY_SPANS, "wall_s")),
        "setup.ingest_share": share(
            tot(["archive.write", "pipeline.run", "gorilla.compress"], "wall_s"), tot(["setup"], "wall_s")
        ),
    }
    for step in DEDUP_STEPS:
        name = f"dedup.{step}"
        v[f"{name}_s"] = med(name)
        v[f"{name}.cpu_s"] = med(name, "cpu_s")
        v[f"{name}.shuffle_write_mb"] = med(name, "shuffle_write_mb")
        v[f"{name}.spill_mb"] = med(name, "spill_mb")
    for name in DRIVER_SPANS:
        v[f"{name}.driver_s"] = med(name, "driver_s")
        v[f"{name}.stages"] = med(name, "stages")
    for name in FIGURES:
        v[name] = float(figures.get(name, 0.0))
    return {k: {"value": v[k], "unit": u} for k, u in units("per_layer").items()}
