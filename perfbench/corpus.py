"""Seeded inputs for the benchmark, each with its ground truth.

The program only ever sees the generated frames; the truth is derived here
from the same construction, never from the program's output.

- :func:`near_dup_documents` plants, per 100-doc block, an exact duplicate
  (id % 100 == 2 copies id - 2) and a near duplicate (id % 100 == 1 is id - 1
  plus one token, shingle Jaccard ~0.97) among ~100-token documents drawn
  from a 10k-word vocabulary by seeded hashing. Random cross-document pairs
  share almost no shingles, so the dedup answers are exact counts.
- :func:`span_documents` makes every token unique by construction except a
  20-token quote planted in docs block+10 and block+11 of each 100-doc
  block, at seed-dependent offsets; the expected spans and the scrubbed
  text follow from the construction.
- :func:`events_slice` (a seeded seven-day slice of a committed events
  table) and :func:`late_pages_pandas` feed the archive workload.

The two document corpora follow the construction of
``tstore_spark.tools.dedup_stress`` with the seed mixed into every token, so
the input varies with ``--seed`` while the planted counts stay exact.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

QUOTE_TOKENS = 20
DOC_TOKENS = 100
VOCAB = 10_000
# the sf0.1 ``events`` table of the repository's test data (100,000 rows over
# 30 days of January 2024) without its unused ``props`` column
EVENTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "events.parquet")


def quote_offsets(seed: int) -> tuple[int, int]:
    """Token offsets of the planted quote in the block+10 and block+11 docs."""
    return 10 + seed % 20, 40 + (seed // 20) % 40


def near_dup_documents(spark, n_docs: int, seed: int):
    from pyspark.sql import functions as F

    df = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    r = F.col("doc_id") % 100
    sid = F.when(r == 1, F.col("doc_id") - 1).when(r == 2, F.col("doc_id") - 2).otherwise(F.col("doc_id"))
    body = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(DOC_TOKENS)),
            lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(sid, i, F.lit(seed)), F.lit(VOCAB)).cast("string")),
        ),
    )
    text = F.when(r == 1, F.concat(body, F.lit(" extratoken"))).otherwise(body)
    return df.select("doc_id", text.alias("text"))


def near_dup_truth(n_docs: int) -> dict:
    blocks = n_docs // 100
    return {"exact_survivors": n_docs - blocks, "minhash_pairs": 3 * blocks, "simhash_pairs": blocks}


def _span_token(seed: int, doc: int, i: int, off: int) -> str:
    r = doc % 100
    if (r == 10 or r == 11) and off <= i < off + QUOTE_TOKENS:
        return f"q{seed}_{doc // 100}x{i - off}"
    return f"d{seed}_{doc}x{i}"


def span_documents(spark, n_docs: int, seed: int):
    from pyspark.sql import functions as F

    off_a, off_b = quote_offsets(seed)
    df = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    blk = (F.col("doc_id") / 100).cast("long")
    r = F.col("doc_id") % 100
    off = F.when(r == 10, F.lit(off_a)).otherwise(F.lit(off_b))
    quoted = (r == 10) | (r == 11)
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(DOC_TOKENS - 1)),
        lambda i: F.when(
            quoted & (i >= off) & (i < off + QUOTE_TOKENS),
            F.concat(F.lit(f"q{seed}_"), blk.cast("string"), F.lit("x"), (i - off).cast("string")),
        ).otherwise(F.concat(F.lit(f"d{seed}_"), F.col("doc_id").cast("string"), F.lit("x"), i.cast("string"))),
    )
    return df.select("doc_id", F.concat_ws(" ", toks).alias("text"))


def span_truth(n_docs: int, seed: int) -> dict:
    """Expected spans as (doc_a, doc_b, start_a, start_b, span_tokens) and the
    md5 of every document's text after the scrub: the block+11 doc loses its
    quote, every other document is unchanged."""
    off_a, off_b = quote_offsets(seed)
    spans = {
        (b * 100 + 10, b * 100 + 11, off_a, off_b, QUOTE_TOKENS) for b in range(n_docs // 100)
    }
    digests = {}
    for doc in range(n_docs):
        off = off_a if doc % 100 == 10 else off_b
        keep = range(DOC_TOKENS)
        if doc % 100 == 11:
            keep = [i for i in keep if not off_b <= i < off_b + QUOTE_TOKENS]
        text = " ".join(_span_token(seed, doc, i, off) for i in keep)
        digests[doc] = hashlib.md5(text.encode()).hexdigest()
    return {"spans": spans, "scrubbed_md5": digests}


def events_slice(seed: int, base: np.datetime64, days: int) -> pd.DataFrame:
    """Metric events (event_id, ts, user_id, event_type, value) for ``days``
    days from :data:`EVENTS_PATH`: the window of whole days that starts
    ``seed mod (30 - days + 1)`` days into the table, moved onto ``base`` so
    it lines up with the archive's days (time of day and every other column
    kept)."""
    ev = pd.read_parquet(EVENTS_PATH)
    first = ev["ts"].min().floor("D")
    span = (ev["ts"].max().floor("D") - first).days + 1
    lo = first + pd.Timedelta(days=seed % (span - days + 1))
    ev = ev[(ev["ts"] >= lo) & (ev["ts"] < lo + pd.Timedelta(days=days))].reset_index(drop=True)
    ev["ts"] = (ev["ts"] + (pd.Timestamp(base) - lo)).astype("datetime64[us]")
    return ev


def late_pages_pandas(rows: int, seed: int, day: np.datetime64, base: np.datetime64) -> pd.DataFrame:
    """A late batch: generated pages moved onto ``day`` (time of day kept) and
    onto their own url path, so no late row repeats an archived one."""
    from tstore_spark.datagen import pages_pandas

    pdf = pages_pandas(rows, seed=seed)
    tod = (pdf["warc_ts"].to_numpy().astype("datetime64[s]") - base).astype(np.int64) % 86_400
    pdf["warc_ts"] = pd.Series(day.astype("datetime64[s]") + tod.astype("timedelta64[s]")).astype("datetime64[us]")
    pdf["url"] = pdf["url"].str.replace("/p", "/late/p", n=1, regex=False)
    return pdf
