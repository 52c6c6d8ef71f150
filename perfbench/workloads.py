"""The benchmark's workloads, run in one Python process against one
SparkSession at ``local[4]``: a closed loop with one client, each operation
waiting for the previous one.

    PYTHONPATH=<repo root> python3 -m perfbench.workloads \
        --workload archive_queries --seed 1 --seconds 10 --trace 0 --tmp <dir>

Normally launched by ``perfbench/run.py``, which prepares the environment
(working directory, temporary root, Spark local dirs) and removes it again.
The last line of standard output is the result object; the line before it
carries the workload's own figures (see ``perfbench/WORKLOADS.md``).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import sys
import time

import numpy as np

from perfbench import layers
from perfbench.stats import median, percentile, tail_percentile
from perfbench.trace import Tracer, attribute, read_stages

MASTER = "local[4]"
DAYS = 7
BASE = np.datetime64("2024-01-01T00:00:00", "s")  # tstore_spark.datagen.BASE_TS
KEEP_DAYS = 5  # retention keeps the last five days of the 1m tier
QUERY_KINDS = ("point", "scan", "tier_slice", "gapfill", "m4", "gorilla_decode", "range_agg")
_METRIC_COLS = ("event_count", "value_sum", "user_distinct", "value_p50", "value_p90", "value_p99")
# Untimed, checked operations run before the measured loop until the CPU
# seconds per operation stop falling: the JVM keeps compiling hot planner and
# operator code for about ten operations, and its compile threads are billed
# to the operation. Settled = WARMUP_PATIENCE operations in a row without a
# new low by more than WARMUP_DROP; at least WARMUP_OPS operations
# (archive_queries: at least one round per pooled query), and no further one
# started once the size's ``warmup_until_s`` have passed since the process
# started, which keeps a run near a minute on a slow host too.
WARMUP_OPS = 2
WARMUP_PATIENCE = 3
WARMUP_DROP = 0.05

SIZES = {
    # the benchmark's input sizes; "smoke" is the tiny size the tests run
    "full": {"pages": 10_000, "late": 500, "pool_per_kind": 2, "docs": 1_000, "warmup_until_s": 30.0},
    "smoke": {"pages": 2_000, "late": 100, "pool_per_kind": 1, "docs": 200, "warmup_until_s": 0.0},
}


def _ts(x: np.datetime64) -> dt.datetime:
    return x.astype("datetime64[us]").astype(dt.datetime)


def session_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process's session: the
    Python driver, the driver JVM and the Python workers, plus children they
    have reaped. Time the host steals from the VM is not in it."""
    sid = os.getsid(0)
    ticks = 0
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # process ended while scanning
        if int(f[3]) == sid:  # fields after the name: state ppid pgrp session ...
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class Ops:
    """Counts operations and their checks; keeps wall and CPU time of the ones
    that passed. A wrong answer or an exception is a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latencies: list[float] = []
        self.cpu: list[float] = []

    def run(self, kind: str, work, check, timed: bool = True) -> float:
        """Runs one operation; returns its CPU seconds."""
        self.attempted += 1
        c0, t0 = session_cpu_s(), time.perf_counter()
        try:
            result = work()
            elapsed, cpu = time.perf_counter() - t0, session_cpu_s() - c0
            problems = check(result)
        except Exception as exc:  # a crashing operation is a failed one; keep measuring
            elapsed, cpu = time.perf_counter() - t0, session_cpu_s() - c0
            problems = [f"raised {type(exc).__name__}: {str(exc)[:300]}"]
        if problems:
            self.failed += 1
            for p in problems:
                msg = f"{kind}: {p}"
                self.failures.append(msg)
                print(f"CHECK FAILED {msg}", file=sys.stderr, flush=True)
        elif timed:
            self.latencies.append(elapsed)
            self.cpu.append(cpu)
        return cpu


def _expect(problems: list[str], name: str, got, want) -> None:
    if got != want:
        problems.append(f"{name}: got {str(got)[:200]} want {str(want)[:200]}")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs if not f.startswith("."))


class _Phases:
    """Wall seconds of each phase of a run, kept in ``figures["phase_s"]``."""

    def __init__(self, figures: dict):
        self.out = figures.setdefault("phase_s", {})
        self.t = time.perf_counter()

    def __call__(self, name: str) -> float:
        now = time.perf_counter()
        self.out[name] = now - self.t
        self.t = now
        return self.out[name]


def _settled(cpu: list[float]) -> bool:
    k = WARMUP_PATIENCE
    return len(cpu) > k and min(cpu[-k:]) >= (1 - WARMUP_DROP) * min(cpu[:-k])


def _warm_up(next_op, min_ops: int, until: float) -> list[float]:
    """Runs ``next_op(i)`` (returns the operation's CPU seconds) until the
    warm-up has settled or ``time.perf_counter()`` has passed ``until``;
    returns the CPU seconds of every warm-up operation."""
    cpu: list[float] = []
    while len(cpu) < min_ops or (not _settled(cpu) and time.perf_counter() < until):
        cpu.append(next_op(len(cpu)))
    return cpu


def _closed_loop(seconds: float, next_op) -> None:
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        next_op()


# ---------------------------------------------------------------------------
# archive_queries
# ---------------------------------------------------------------------------


class ArchiveWorkload:
    """Set-up builds the archive the way production does — ingest, a late
    batch with resume, Gorilla chunks and metric tiers — then the measured
    operation is one round of read queries, one of each of seven kinds."""

    def __init__(self, spark, tracer: Tracer, ops: Ops, tmp: str, seed: int, size: dict):
        self.spark, self.tr, self.ops, self.seed, self.size = spark, tracer, ops, seed, size
        self.base = os.path.join(tmp, "archive")
        self.chunks_path = os.path.join(self.base, "chunks_1m")
        self.figures: dict = {}

    # -- load generator: raw inputs and their oracle copies (not timed) ------
    def generate(self) -> None:
        import pandas as pd

        from tstore_spark.datagen import PAGES_SCHEMA, pages_pandas, pages_spark
        from perfbench.corpus import events_slice, late_pages_pandas

        sz, seed = self.size, self.seed
        self.pages = pages_spark(self.spark, rows=sz["pages"], seed=seed).cache()
        self.n_pages = self.pages.count()
        self.late_day = BASE + np.timedelta64(seed % DAYS, "D")
        late_pdf = late_pages_pandas(sz["late"], seed + 1, self.late_day, BASE)
        self.late = self.spark.createDataFrame(late_pdf, schema=PAGES_SCHEMA).cache()
        self.n_late = self.late.count()
        ev = events_slice(seed, BASE, DAYS)
        self.events = self.spark.createDataFrame(ev).cache()
        self.events.count()
        raw = pd.concat([pages_pandas(sz["pages"], seed=seed), late_pdf], ignore_index=True)
        raw["domain"] = raw["url"].str.split("/", n=3).str[2]
        raw["minute"] = raw["warc_ts"].dt.floor("min")
        raw["text_len"] = raw["text"].str.len()
        self.raw = raw

    # -- set-up: the timed build ----------------------------------------------
    def build(self) -> dict:
        from pyspark.sql import functions as F

        from tstore_spark.model.tslong import TSLong
        from tstore_spark.operators.gorilla import compress_tier
        from tstore_spark.operators.metric_rollup import metric_rollup_all_tiers
        from tstore_spark.plans.pipeline import read_tier, run_rollup_pipeline
        from tstore_spark.sources.archive import append_archive, open_archive, write_archive

        spark, tr, base = self.spark, self.tr, self.base
        stats = {"html_bytes": F.octet_length("html"), "text_len": F.length("text")}
        ts_vars = {"content": ["html", "text", "lang"]}
        t: dict = {}

        def step(name, fn):
            t0 = time.perf_counter()
            with tr.span(name):
                out = fn()
            t[name] = time.perf_counter() - t0
            return out

        step("archive.write", lambda: write_archive(
            TSLong.wrap(self.pages, id_var="url", time_var="warc_ts", ts_vars=ts_vars),
            base, num_buckets=8, stats_columns=stats,
        ))
        s_full = step("pipeline.run", lambda: run_rollup_pipeline(spark, open_archive(spark, base).df, base))
        step("archive.append", lambda: append_archive(
            TSLong.wrap(self.late, id_var="url", time_var="warc_ts", ts_vars=ts_vars), base, stats_columns=stats,
        ))
        s_resume = step("pipeline.resume", lambda: run_rollup_pipeline(spark, open_archive(spark, base).df, base))
        s_noop = step("pipeline.noop_rerun", lambda: run_rollup_pipeline(spark, open_archive(spark, base).df, base))
        step("gorilla.compress", lambda: compress_tier(read_tier(spark, base, "1m")).write.parquet(self.chunks_path))

        def metric_tiers():
            for tier, df in metric_rollup_all_tiers(self.events).items():
                df.write.parquet(os.path.join(base, f"metric_{tier}"))

        step("metric_rollup.tiers", metric_tiers)
        return {"t": t, "full": s_full, "resume": s_resume, "noop": s_noop}

    def check_build(self, b: dict) -> list[str]:
        """Tier contents against the raw pages, resume bookkeeping, and the
        Gorilla round trip."""
        from pyspark.sql import functions as F

        from tstore_spark.operators.gorilla import chunk_stats_summary, decompress_chunks
        from tstore_spark.plans.pipeline import TIER_TABLES, read_tier

        spark, raw, problems = self.spark, self.raw, []
        days = [str(BASE.astype("datetime64[D]") + np.timedelta64(i, "D")) for i in range(DAYS)]
        late_day = str(self.late_day.astype("datetime64[D]"))
        _expect(problems, "raw rows", self.n_pages + self.n_late, len(raw))
        _expect(problems, "first run days", sorted(b["full"]["days_processed"]), days)
        _expect(problems, "resume days", b["resume"]["days_processed"], [late_day])
        _expect(problems, "rerun days", b["noop"]["days_processed"], [])

        minute = raw.groupby(["domain", "minute"]).size()
        want_1m = {(d, m.to_pydatetime()): int(c) for (d, m), c in minute.items()}
        got_1m = {
            (r[0], r[1]): int(r[2])
            for r in read_tier(spark, self.base, "1m").select("domain", "window_start", "doc_count").collect()
        }
        _expect(problems, "1m tier == raw minute counts", got_1m == want_1m, True)
        day = raw.groupby(["domain", raw["warc_ts"].dt.floor("D")]).size()
        want_1d = {(d, m.to_pydatetime()): int(c) for (d, m), c in day.items()}
        got_1d = {
            (r[0], r[1]): int(r[2])
            for r in read_tier(spark, self.base, "1d").select("domain", "window_start", "doc_count").collect()
        }
        _expect(problems, "1d tier == raw groupBy count", got_1d == want_1d, True)
        h = read_tier(spark, self.base, "1h").agg(F.count(F.lit(1)), F.sum("doc_count")).first()
        _expect(problems, "1h doc_count sum", int(h[1]), len(raw))

        chunks = spark.read.parquet(self.chunks_path)
        dec = {
            (r[0], r[1]): r[2]
            for r in decompress_chunks(chunks).select("domain", "window_start", "doc_count").collect()
        }
        _expect(problems, "gorilla round trip == 1m tier", dec == {k: float(v) for k, v in got_1m.items()}, True)

        stats = chunk_stats_summary(chunks)
        points = {"1m": len(got_1m), "1h": int(h[0]), "1d": len(got_1d)}
        tier_bytes = sum(_dir_bytes(os.path.join(self.base, t)) for t in TIER_TABLES.values())
        self.figures.update(
            {
                "ingest_docs_per_s": self.n_pages
                / (b["t"]["archive.write"] + b["t"]["pipeline.run"] + b["t"]["gorilla.compress"]),
                "resume_s": b["t"]["archive.append"] + b["t"]["pipeline.resume"],
                "tier_bytes_per_point": tier_bytes / sum(points.values()),
                "gorilla_bytes_per_point": stats["encoded_bytes"] / points["1m"],
                "gorilla.ratio": stats["ratio"],
                "rollup.points_1m": points["1m"],
                "rollup.points_1h": points["1h"],
                "rollup.points_1d": points["1d"],
                "pipeline.days_processed": len(b["full"]["days_processed"]) + len(b["resume"]["days_processed"]),
            }
        )
        self.minute_counts = want_1m
        return problems

    def probe_layers(self) -> None:
        """Traced run only: the calls a pipeline run makes, each on its own,
        so the run splits into fingerprint, rollup kernel and write/commit."""
        from tstore_spark.operators.rollup import rollup_all_tiers
        from tstore_spark.plans.lineage import LineageLog
        from tstore_spark.plans.pipeline import day_fingerprints
        from tstore_spark.sources.archive import open_archive

        pages = open_archive(self.spark, self.base).df
        with self.tr.span("pipeline.fingerprint"):
            day_fingerprints(pages)
        with self.tr.span("rollup.tiers"):
            for df in rollup_all_tiers(pages, bytes_col="html_bytes", len_col="text_len").values():
                df.write.format("noop").mode("overwrite").save()
        with self.tr.span("lineage.read") as sp:
            sp.counts["records"] = len(LineageLog(self.base).completed("rollup_1d"))

    # -- query pool with expected answers from the raw path ------------------
    def make_pool(self) -> list:
        from tstore_spark.operators.downsample import m4_downsample
        from tstore_spark.operators.gapfill import gap_fill
        from tstore_spark.operators.gorilla import decompress_chunks
        from tstore_spark.operators.metric_rollup import finalize
        from tstore_spark.operators.tierselect import range_aggregate
        from tstore_spark.plans.pipeline import read_tier
        from tstore_spark.sources.archive import open_archive
        from pyspark.sql import functions as F

        spark, raw, base, tr = self.spark, self.raw, self.base, self.tr
        rng = random.Random(self.seed)
        n = self.size["pool_per_kind"]
        hour = np.timedelta64(1, "h")
        tiers = {t: spark.read.parquet(os.path.join(base, f"metric_{t}")) for t in ("1m", "1h", "1d")}
        chunks = spark.read.parquet(self.chunks_path)
        pool = []

        def q(kind, span, work, check):
            def run():
                with tr.span(span) as sp:
                    out = work()
                    if sp is not None:
                        sp.counts["rows_returned"] = out if kind == "point" else len(out) if isinstance(out, list) else 1
                return out

            pool.append((kind, run, check))

        for _ in range(n):  # point: 5 urls, 3-hour window
            urls = list(raw["url"].iloc[[rng.randrange(len(raw)) for _ in range(5)]])
            anchor = raw.loc[raw["url"] == urls[0], "warc_ts"].min().to_datetime64().astype("datetime64[h]")
            t0 = anchor - rng.randrange(3) * hour
            t1 = t0 + 3 * hour
            sel = raw[raw["url"].isin(urls) & (raw["warc_ts"] >= t0) & (raw["warc_ts"] < t1)]
            q("point", "archive.point",
              lambda u=urls, a=_ts(t0), b=_ts(t1): open_archive(
                  spark, base, start_time=a, end_time=b, inclusive="left", ids=u).df.count(),
              lambda got, want=len(sel): [] if got == want else [f"count {got} want {want}"])
        for _ in range(n):  # scan: 1-hour window, sum of text_len
            t0 = BASE + rng.randrange(DAYS * 24) * hour
            t1 = t0 + hour
            want = int(raw.loc[(raw["warc_ts"] >= t0) & (raw["warc_ts"] < t1), "text_len"].sum())
            q("scan", "archive.scan",
              lambda a=_ts(t0), b=_ts(t1): open_archive(
                  spark, base, start_time=a, end_time=b, inclusive="left").df.agg(F.sum("text_len")).first()[0] or 0,
              lambda got, want=want: [] if got == want else [f"sum(text_len) {got} want {want}"])

        # domain-days with at least two points (so gap_fill has a grid)
        counts = self.minute_counts
        per_dd: dict = {}
        for (dom, m), c in counts.items():
            per_dd.setdefault((dom, m.date()), {})[m] = c
        dd_keys = sorted(k for k, v in per_dd.items() if len(v) >= 2)

        def slice_df(dom, day):
            a = dt.datetime.combine(day, dt.time())
            return read_tier(spark, base, "1m").where(
                (F.col("domain") == dom) & (F.col("window_start") >= a) & (F.col("window_start") < a + dt.timedelta(days=1))
            )

        for _ in range(n):
            dom, day = dd_keys[rng.randrange(len(dd_keys))]
            want = per_dd[(dom, day)]
            q("tier_slice", "tier.slice",
              lambda d=dom, y=day: slice_df(d, y).select("window_start", "doc_count").collect(),
              lambda rows, want=want: [] if {r[0]: int(r[1]) for r in rows} == want and len(rows) == len(want)
              else [f"slice rows differ ({len(rows)} vs {len(want)})"])
        for _ in range(n):
            dom, day = dd_keys[rng.randrange(len(dd_keys))]
            want = per_dd[(dom, day)]
            lo, hi = min(want), max(want)
            grid = {lo + dt.timedelta(minutes=i) for i in range(int((hi - lo).total_seconds() // 60) + 1)}

            def check_gf(rows, want=want, grid=grid):
                real = {r[0]: int(r[1]) for r in rows if not r[2]}
                filled = [r for r in rows if r[2]]
                ok = (
                    real == want
                    and {r[0] for r in rows} == grid
                    and len(rows) == len(grid)
                    and all(int(r[1]) == 0 for r in filled)
                )
                return [] if ok else [f"gap_fill grid/rows differ ({len(rows)} rows, grid {len(grid)})"]

            q("gapfill", "gapfill",
              lambda d=dom, y=day: gap_fill(slice_df(d, y), "1m").select("window_start", "doc_count", "gap_filled").collect(),
              check_gf)
        for _ in range(n):
            dom, day = dd_keys[rng.randrange(len(dd_keys))]
            want = per_dd[(dom, day)]
            lo, hi = min(want), max(want)

            def check_m4(rows, want=want, lo=lo, hi=hi):
                rows = sorted(rows, key=lambda r: r["bucket"])
                ok = (
                    0 < len(rows) <= 200
                    and sum(r["n_points"] for r in rows) == len(want)
                    and max(r["v_max"] for r in rows) == max(want.values())
                    and min(r["v_min"] for r in rows) == min(want.values())
                    and rows[0]["v_first"] == want[lo]
                    and rows[-1]["v_last"] == want[hi]
                )
                return [] if ok else ["m4 buckets disagree with the raw minute counts"]

            q("m4", "downsample.m4",
              lambda d=dom, y=day: m4_downsample(slice_df(d, y), "domain", "window_start", "doc_count", 200).collect(),
              check_m4)
        domains = sorted({d for d, _ in counts})
        for _ in range(n):
            dom = domains[rng.randrange(len(domains))]
            want = {m: float(c) for (d, m), c in counts.items() if d == dom}
            q("gorilla_decode", "gorilla.decode",
              lambda d=dom: decompress_chunks(chunks.where(F.col("domain") == d)).select("window_start", "doc_count").collect(),
              lambda rows, want=want: [] if {r[0]: r[1] for r in rows} == want and len(rows) == len(want)
              else [f"decoded {len(rows)} points want {len(want)}"])

        # range_agg: expected rows from metric_rollup_from_raw over the same range
        ranges = []
        minutes = DAYS * 24 * 60
        for i in range(n):
            length = rng.randrange(30, 3 * 24 * 60)
            start = rng.randrange(0, minutes - length)
            ranges.append((i, BASE + np.timedelta64(start, "m"), BASE + np.timedelta64(start + length, "m")))
        want_rows = self._range_expected(ranges)
        for i, t0, t1 in ranges:
            q("range_agg", "tierselect.range",
              lambda a=_ts(t0), b=_ts(t1): finalize(range_aggregate(tiers, a, b)).collect(),
              lambda rows, want=want_rows.get(i, {}): [] if {r["event_type"]: tuple(r[c] for c in _METRIC_COLS) for r in rows} == want
              else ["range aggregate differs from the raw-event rollup"])
        return pool

    def _range_expected(self, ranges) -> dict:
        """One Spark job: every range's raw events, collapsed onto the range
        start, rolled up from raw with a (range id, event_type) key."""
        from functools import reduce

        from pyspark.sql import functions as F

        from tstore_spark.operators.metric_rollup import finalize, metric_rollup_from_raw

        parts = [
            self.events.where((F.col("ts") >= F.lit(_ts(a))) & (F.col("ts") < F.lit(_ts(b))))
            .withColumn("ts", F.lit(_ts(a)))
            .withColumn("qkey", F.concat(F.lit(f"{i}|"), F.col("event_type")))
            for i, a, b in ranges
        ]
        u = reduce(lambda x, y: x.unionByName(y), parts)
        out: dict = {}
        for r in finalize(metric_rollup_from_raw(u, "1m", key="qkey"), key="qkey").collect():
            i, et = r["qkey"].split("|", 1)
            out.setdefault(int(i), {})[et] = tuple(r[c] for c in _METRIC_COLS)
        return out

    def retention(self) -> None:
        from tstore_spark.sources.archive import apply_retention

        cutoff = str(BASE.astype("datetime64[D]") + np.timedelta64(DAYS - KEEP_DAYS, "D"))
        want = [f"p_day={BASE.astype('datetime64[D]') + np.timedelta64(i, 'D')}" for i in range(DAYS - KEEP_DAYS)]
        root = os.path.join(self.base, "rollup_1m")

        def work():
            with self.tr.span("archive.retention"):
                return apply_retention(self.base, "rollup_1m", cutoff)

        def check(dropped):
            left = sorted(e for e in os.listdir(root) if e.startswith("p_day="))
            problems = []
            _expect(problems, "retention dropped", dropped, want)
            _expect(problems, "retention kept", len(left), KEEP_DAYS)
            return problems

        self.ops.run("retention", work, check, timed=False)

    def run(self, seconds: float, warm_until: float) -> float:
        phase = _Phases(self.figures)
        self.generate()
        phase("generate")
        with self.tr.span("setup"):
            built = self.build()
        setup_s = phase("setup")
        self.ops.run("setup", lambda: built, self.check_build, timed=False)
        phase("check_setup")
        if self.tr.enabled:
            self.probe_layers()
            phase("probe_layers")
        pool = self.make_pool()
        phase("query_pool")
        by_kind: dict = {}
        for kind, work, check in pool:
            by_kind.setdefault(kind, []).append((work, check))
        rng = random.Random(self.seed * 7919 + 1)
        query_s: dict = {}

        def query_round(picks, timed=True):
            # one operation = the seven kinds once each, in seeded order with
            # seeded parameters, so every run measures the same mix
            def work():
                out = []
                for kind, (run, _) in picks:
                    t0 = time.perf_counter()
                    out.append((run(), time.perf_counter() - t0))
                return out

            def check(out):
                problems = []
                for (kind, (_, chk)), (res, elapsed) in zip(picks, out):
                    bad = chk(res)
                    problems += [f"{kind}: {b}" for b in bad]
                    if timed and not bad:
                        query_s.setdefault(kind, []).append(elapsed)
                return problems

            return self.ops.run("query_round", work, check, timed=timed)

        # the warm-up runs every query of the pool at least once: a query with
        # new literals generates and compiles new code, and measured rounds
        # should all find theirs compiled
        with self.tr.suspended():
            self.figures["warmup_cpu_s"] = _warm_up(
                lambda i: query_round([(k, by_kind[k][i % len(by_kind[k])]) for k in QUERY_KINDS], timed=False),
                max(WARMUP_OPS, self.size["pool_per_kind"]),
                warm_until,
            )
        phase("warmup")
        _closed_loop(
            seconds,
            lambda: query_round([(k, rng.choice(by_kind[k])) for k in rng.sample(QUERY_KINDS, len(QUERY_KINDS))]),
        )
        phase("measure")
        self.retention()
        lat = [x for v in query_s.values() for x in v]
        tail = tail_percentile(len(lat))
        self.figures.update(
            {
                "query_p50_ms": median(lat) * 1e3 if lat else 0.0,
                "query_tail_pct": tail or 0,
                "query_tail_ms": percentile(lat, tail) * 1e3 if tail else 0.0,
                "query_samples": len(lat),
                "query_ms_by_kind": {k: [round(x * 1e3) for x in v] for k, v in query_s.items()},
            }
        )
        return setup_s



# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class DedupWorkload:
    """One operation is the whole dedup stack over two planted corpora:
    exact, MinHash and SimHash near-duplicate pairs, then duplicate spans
    and their removal."""

    def __init__(self, spark, tracer: Tracer, ops: Ops, tmp: str, seed: int, size: dict):
        self.spark, self.tr, self.ops, self.seed, self.size = spark, tracer, ops, seed, size
        self.figures: dict = {}

    def generate(self) -> None:
        from perfbench.corpus import near_dup_documents, near_dup_truth, span_documents, span_truth

        n, seed = self.size["docs"], self.seed
        self.docs = near_dup_documents(self.spark, n, seed).cache()
        self.sdocs = span_documents(self.spark, n, seed).cache()
        self.docs.count()
        self.sdocs.count()
        self.truth = {**near_dup_truth(n), **span_truth(n, seed)}

    def op(self):
        from pyspark.sql import functions as F

        from tstore_spark.operators.dedup import (
            duplicate_spans,
            exact_dedup,
            minhash_near_dup_pairs,
            remove_duplicate_spans,
            simhash_near_dup_pairs,
        )

        tr, out = self.tr, {}
        with tr.span("dedup.op"):
            with tr.span("dedup.exact"):
                out["exact"] = exact_dedup(self.docs).count()
            with tr.span("dedup.minhash"):
                out["minhash"] = minhash_near_dup_pairs(self.docs, threshold=0.5, bands=16).count()
            with tr.span("dedup.simhash"):
                out["simhash"] = simhash_near_dup_pairs(self.docs, max_hamming=3, verify_jaccard=0.99).count()
            with tr.span("dedup.spans"):
                spans_df = duplicate_spans(self.sdocs, n=10)
                out["spans"] = spans_df.collect()
            # the span set is small: re-create it so the scrub does not replay
            # the posting join
            spans = self.spark.createDataFrame(out["spans"], spans_df.schema)
            with tr.span("dedup.scrub"):
                out["scrub"] = (
                    remove_duplicate_spans(self.sdocs, spans=spans, n=10)
                    .select("doc_id", F.md5("text").alias("h"))
                    .collect()
                )
        return out

    def check(self, out) -> list[str]:
        t, problems = self.truth, []
        _expect(problems, "exact_dedup survivors", out["exact"], t["exact_survivors"])
        _expect(problems, "minhash pairs", out["minhash"], t["minhash_pairs"])
        _expect(problems, "simhash pairs", out["simhash"], t["simhash_pairs"])
        got = {(r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["span_tokens"]) for r in out["spans"]}
        _expect(problems, "duplicate spans", len(out["spans"]) == len(t["spans"]) and got == t["spans"], True)
        scrub = {r[0]: r[1] for r in out["scrub"]}
        _expect(problems, "scrubbed text md5", scrub == t["scrubbed_md5"], True)
        return problems

    def run(self, seconds: float, warm_until: float) -> float:
        phase = _Phases(self.figures)
        self.generate()
        phase("generate")
        with self.tr.suspended():
            self.figures["warmup_cpu_s"] = _warm_up(
                lambda i: self.ops.run("dedup", self.op, self.check, timed=False),
                WARMUP_OPS,
                warm_until,
            )
        phase("warmup")
        _closed_loop(seconds, lambda: self.ops.run("dedup", self.op, self.check))
        phase("measure")
        if self.ops.latencies:
            self.figures["dedup_docs_per_s"] = 2 * self.size["docs"] / median(self.ops.latencies)
        return 0.0  # inputs only: nothing is prepared beyond the session


WORKLOADS = {"archive_queries": ArchiveWorkload, "corpus_dedup": DedupWorkload}


# ---------------------------------------------------------------------------
# process entry
# ---------------------------------------------------------------------------


def _vmhwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """High-water RSS of this Python driver plus its direct children (the
    driver JVM). Python workers are children of the JVM and not counted."""
    me = os.getpid()
    total = _vmhwm_kb(me)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            if ppid == me:
                total += _vmhwm_kb(int(entry))
        except (OSError, ValueError, IndexError):
            continue  # process ended while scanning
    return total / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args(argv)

    tracer = Tracer(enabled=bool(a.trace))
    log_dir = os.path.join(a.tmp, "eventlog")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(a.tmp, "warehouse"),
        "spark.local.dir": os.path.join(a.tmp, "spark-local"),
    }
    if a.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir, "spark.eventLog.compress": "false"})

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        from tstore_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{a.workload}", master=MASTER, extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    ops = Ops()
    wl = WORKLOADS[a.workload](spark, tracer, ops, a.tmp, a.seed, SIZES[a.size])
    try:
        prepared_s = wl.run(a.seconds, t0 + SIZES[a.size]["warmup_until_s"])
        rss = peak_rss_mb()
    finally:
        spark.stop()

    if not ops.latencies:
        print("no measured operation passed its checks", file=sys.stderr)
    e2e = {
        "setup_s": session_s + prepared_s,
        "op_cpu_s": median(ops.cpu) if ops.cpu else 0.0,
        "op_p50_ms": median(ops.latencies) * 1e3 if ops.latencies else 0.0,
    }
    figures = {**wl.figures, "peak_rss_mb": rss}
    metrics = {k: {"value": v, "unit": layers.units("end_to_end")[k]} for k, v in e2e.items()}
    if a.trace:
        records = attribute(tracer.spans, read_stages(log_dir))
        figures.update({f"traced.{k}": v for k, v in e2e.items()})
        metrics = layers.per_layer(records, figures)
    detail = {
        "workload": a.workload,
        "seed": a.seed,
        "size": a.size,
        "session_s": session_s,
        "prepared_s": prepared_s,
        "op_samples": len(ops.latencies),
        "op_ms": [round(x * 1e3, 1) for x in ops.latencies],
        "op_cpu_s": [round(x, 2) for x in ops.cpu],
        "failures": ops.failures,
        "figures": figures,
    }
    print(json.dumps(detail, default=str))
    result = {
        "correct": ops.failed == 0 and bool(ops.latencies),
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
