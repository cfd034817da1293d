"""Pass-1 column statistics (SURVEY §2C row 1).

Two complementary collectors, both fully distributed:

1. `global_column_stats` — one JVM-side aggregate pass using built-in
   functions only (count / min / max / approx_count_distinct / avg length).
   Catalyst plans partial+final aggregation; stays in whole-stage codegen.

2. `byte_and_run_stats` — signals the built-ins can't express: average
   run length (RLE signal) and the byte-usage bitmap / top-byte skew of
   string & binary columns (FSST signal). Computed per Arrow batch in
   `mapInPandas` with numpy (zero per-row Python), then merged with
   built-in aggregates (`sum`, `bit_or`).

Both run on a sample (`sample_fraction`) — at 10^12 docs pass 1 must not
read the full table; codec choice only needs distribution shape.

The merged result is a small per-column dict consumed by
`selector.choose_codecs` on the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BYTES_TYPES = (T.StringType, T.BinaryType)

_BATCH_SCHEMA = T.StructType([
    T.StructField("column", T.StringType()),
    T.StructField("n", T.LongType()),
    T.StructField("changes", T.LongType()),
    T.StructField("sampled_bytes", T.LongType()),
    T.StructField("top_byte_cnt", T.LongType()),
    T.StructField("b0", T.LongType()),
    T.StructField("b1", T.LongType()),
    T.StructField("b2", T.LongType()),
    T.StructField("b3", T.LongType()),
])

_VALUES_PER_BATCH_SAMPLE = 256  # values whose bytes feed the byte histogram


def _bitmap_to_longs(used: np.ndarray) -> list[int]:
    """256-bit byte-usage bitmap → 4 int64 words (two's complement)."""
    bits = np.packbits(used.astype(np.uint8), bitorder="little")
    return [int(w) for w in bits.view(np.int64)]


def longs_to_bitmask(words: list[int]) -> np.ndarray:
    """4 int64 words → 256-bool byte-usage mask (True = byte observed)."""
    arr = np.array(words, dtype=np.int64).view(np.uint8)
    return np.unpackbits(arr, bitorder="little").astype(bool)


def longs_to_bitcount(words: list[int]) -> int:
    return int(longs_to_bitmask(words).sum())


def _batch_stats_fn(columns: list[str], bytes_cols: set[str]):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for c in columns:
                s = pdf[c]
                n = len(s)
                if n == 0:
                    continue
                # run-length signal: number of value changes (nulls count
                # as values; object equality works for str/bytes)
                vals = s.to_numpy()
                try:
                    changes = int((vals[1:] != vals[:-1]).sum()) + 1
                except Exception:
                    changes = n
                sampled_bytes = top_cnt = 0
                words = [0, 0, 0, 0]
                if c in bytes_cols:
                    sample = s.dropna().head(_VALUES_PER_BATCH_SAMPLE)
                    if len(sample):
                        blob = b"".join(
                            v.encode("utf-8", "surrogatepass")
                            if isinstance(v, str) else v
                            for v in sample
                        )
                        if blob:
                            counts = np.bincount(
                                np.frombuffer(blob, dtype=np.uint8),
                                minlength=256)
                            sampled_bytes = int(counts.sum())
                            top_cnt = int(counts.max())
                            words = _bitmap_to_longs(counts > 0)
                rows.append((c, n, changes, sampled_bytes, top_cnt, *words))
            yield pd.DataFrame(rows, columns=[f.name for f in _BATCH_SCHEMA])
    return fn


def byte_and_run_stats(df: DataFrame, columns: list[str]) -> DataFrame:
    """Distributed run-length + byte-usage stats, one output row per column."""
    bytes_cols = {f.name for f in df.schema.fields
                  if isinstance(f.dataType, _BYTES_TYPES) and f.name in columns}
    partials = df.select(*columns).mapInPandas(
        _batch_stats_fn(columns, bytes_cols), schema=_BATCH_SCHEMA)
    return partials.groupBy("column").agg(
        F.sum("n").alias("n"),
        F.sum("changes").alias("changes"),
        F.sum("sampled_bytes").alias("sampled_bytes"),
        F.sum("top_byte_cnt").alias("top_byte_cnt"),
        F.bit_or("b0").alias("b0"),
        F.bit_or("b1").alias("b1"),
        F.bit_or("b2").alias("b2"),
        F.bit_or("b3").alias("b3"),
    )


def global_column_stats(df: DataFrame, columns: list[str]) -> DataFrame:
    """Built-in single-pass aggregate: per-column core stats.

    Returns one row per column: rows, non_null, distinct_est, avg_len
    (strings/binary, in bytes — octet_length, not characters, since it
    sizes the chunk count; null otherwise), min/max rendered as strings.
    """
    aggs = [F.count(F.lit(1)).alias("__rows")]
    fields = {f.name: f.dataType for f in df.schema.fields}
    for c in columns:
        aggs.append(F.count(F.col(c)).alias(f"{c}__nonnull"))
        aggs.append(F.approx_count_distinct(F.col(c)).alias(f"{c}__distinct"))
        if isinstance(fields[c], _BYTES_TYPES):
            aggs.append(F.avg(F.octet_length(F.col(c)))
                        .alias(f"{c}__avg_len"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__min"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__max"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__avg_len"))
            aggs.append(F.min(F.col(c)).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(F.col(c)).cast("string").alias(f"{c}__max"))
    return df.agg(*aggs)


def exact_column_stats(df: DataFrame, columns: list[str],
                       order_col: str) -> dict[str, dict]:
    """Deterministic EXACT per-column stats — the oracle lane.

    The production pass-1 collectors sample and batch (approx distinct,
    per-Arrow-batch run counts), so their outputs depend on partitioning
    and cannot be value-pinned against a SQL oracle. This lane computes
    the same signals exactly over a defined total order (`order_col`):
    rows, non_null, exact distinct, run_count (value-change points over
    the order, first row counts), avg_run = rows/run_count, and
    total_bytes (octet_length sum; strings/binary). One window pass + one
    aggregate — use at oracle/test scale (the global window is a single
    partition), not on 10^12 rows."""
    from pyspark.sql import Window

    w = Window.orderBy(order_col)
    fields = {f.name: f.dataType for f in df.schema.fields}
    lagged = df.select(
        *columns, *[F.lag(c).over(w).alias(f"__pv_{c}") for c in columns])
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in columns:
        aggs.append(F.count(F.col(c)).alias(f"{c}__nonnull"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}__distinct"))
        aggs.append(F.sum(
            F.when(~F.col(c).eqNullSafe(F.col(f"__pv_{c}")), 1).otherwise(0))
            .alias(f"{c}__runs"))
        if isinstance(fields[c], _BYTES_TYPES):
            aggs.append(F.sum(F.octet_length(F.col(c)))
                        .alias(f"{c}__total_bytes"))
        else:
            aggs.append(F.lit(None).cast("long").alias(f"{c}__total_bytes"))
    g = lagged.agg(*aggs).collect()[0].asDict()
    out: dict[str, dict] = {}
    for c in columns:
        runs = int(g[f"{c}__runs"] or 0)
        out[c] = {
            "rows": g["__rows"],
            "non_null": g[f"{c}__nonnull"],
            "distinct": g[f"{c}__distinct"],
            "run_count": runs,
            "avg_run": g["__rows"] / max(1, runs),
            "total_bytes": g[f"{c}__total_bytes"],
        }
    return out


_BYTE_HIST_SCHEMA = "column string, byte int, cnt long"


def exact_byte_histogram(df: DataFrame, columns: list[str]) -> DataFrame:
    """EXACT byte-value histogram of string/binary columns (FSST signal
    on the oracle lane): (column, byte, cnt) with cnt summed over every
    byte of every non-null value. Per-batch numpy bincount partials
    summed by a groupBy — a sum of histograms is partition-independent,
    so unlike the sampled batch collector this IS deterministic."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for c in columns:
                vals = pdf[c].dropna()
                if not len(vals):
                    continue
                blob = b"".join(
                    v.encode("utf-8", "surrogatepass")
                    if isinstance(v, str) else bytes(v) for v in vals)
                if blob:
                    counts = np.bincount(
                        np.frombuffer(blob, dtype=np.uint8), minlength=256)
                    rows.extend((c, int(b), int(counts[b]))
                                for b in np.flatnonzero(counts))
            yield pd.DataFrame(rows, columns=["column", "byte", "cnt"])
    return (df.select(*columns).mapInPandas(fn, _BYTE_HIST_SCHEMA)
            .groupBy("column", "byte").agg(F.sum("cnt").alias("cnt")))


SAMPLE_BLOB_VALUES = 400      # values per bytes-column for the driver sample
SAMPLE_BLOB_BYTES = 256 << 10  # cap per column


def collect_stats(df: DataFrame, columns: list[str] | None = None,
                  sample_fraction: float = 1.0, seed: int = 42,
                  with_sample_blob: bool = True) -> dict:
    """Run both collectors, merge into {column: stats_dict} on the driver.

    stats_dict keys: rows, non_null, distinct, avg_len, min, max,
    avg_run, distinct_bytes, top_byte_frac, byte_bitmap (4 int64 words),
    and — for string/binary columns — sample_blob (a bounded driver-side
    byte sample used to build shared codec state, e.g. FSST symbol
    tables, once per column instead of once per chunk).
    """
    if columns is None:
        columns = [f.name for f in df.schema.fields]
    cached = False
    if sample_fraction < 1.0:
        # three collectors read the sample — cache it once instead of
        # re-scanning (and re-sampling) the source per collector
        df = df.sample(fraction=sample_fraction, seed=seed).cache()
        cached = True
    g = global_column_stats(df, columns).collect()[0].asDict()
    out: dict[str, dict] = {}
    for c in columns:
        out[c] = {
            "rows": g["__rows"],
            "non_null": g[f"{c}__nonnull"],
            "distinct": g[f"{c}__distinct"],
            "avg_len": g[f"{c}__avg_len"],
            "min": g[f"{c}__min"],
            "max": g[f"{c}__max"],
        }
    for r in byte_and_run_stats(df, columns).collect():
        d = r.asDict()
        c = d["column"]
        out[c]["avg_run"] = d["n"] / max(1, d["changes"])
        out[c]["byte_bitmap"] = [d["b0"], d["b1"], d["b2"], d["b3"]]
        out[c]["distinct_bytes"] = longs_to_bitcount(out[c]["byte_bitmap"])
        out[c]["top_byte_frac"] = (
            d["top_byte_cnt"] / d["sampled_bytes"] if d["sampled_bytes"] else 0.0)
    if with_sample_blob:
        bytes_cols = [f.name for f in df.schema.fields
                      if isinstance(f.dataType, _BYTES_TYPES)
                      and f.name in columns]
        if bytes_cols:
            rows = df.select(*bytes_cols).limit(SAMPLE_BLOB_VALUES).collect()
            for c in bytes_cols:
                parts, total = [], 0
                for r in rows:
                    v = r[c]
                    if v is None:
                        continue
                    b = v.encode("utf-8", "surrogatepass") \
                        if isinstance(v, str) else bytes(v)
                    parts.append(b)
                    total += len(b)
                    if total >= SAMPLE_BLOB_BYTES:
                        break
                out[c]["sample_blob"] = b"".join(parts)[:SAMPLE_BLOB_BYTES]
    if cached:
        df.unpersist()
    return out
