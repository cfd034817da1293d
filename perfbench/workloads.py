"""The benchmark's workloads. Each is a closed loop: one caller, one
process, `local[nproc]`, no client threads. A run sets up once (inputs,
expected checksums, one untimed warm-up cycle at the measured shape),
then repeats cycles: bulk_table until the measuring time is used up (at
least one cycle, two when traced), microbatch_stream a fixed number.

bulk_table: one persisted `synth_webpages` table of BULK_ROWS rows.
  A cycle is a fresh `run_encode` into a new store (pass 1 samples
  SAMPLE_FRACTION of the rows), then BULK_DECODES full decodes of that
  store with every column hashed and BULK_RANGE_READS one-column range
  reads. When traced, a cycle also runs the same encode untraced, for
  the tracing overhead.
microbatch_stream: files of FILE_ROWS rows land one at a time in one
  stream directory; after each lands, `encode_stream` runs with
  `trigger_once=True` and is waited for. Set-up lands the first file
  and range-reads it. A cycle lands the next one, then reads all
  sub-stores back in full and with the range read. A run has exactly
  one cycle, or two when traced (untraced, then traced), so the reads
  cover the same number of sub-stores however fast the batches run.

Every timed operation's output is checked: decoded checksums (row count
included) against the source's, the bulk store's manifest checksums
against the first repetition's, and the sub-store count against the
files landed."""

from __future__ import annotations

import functools
import glob
import json
import operator
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from json_to_parquet_spark.plans import pipeline
from json_to_parquet_spark.sources.webpages import synth_webpages
from json_to_parquet_spark.streaming.encode_stream import (WEBPAGE_SCHEMA,
                                                           encode_stream)
from measure import add_raw, raw_bytes

KEY = "url"
COLUMNS = [f.name for f in WEBPAGE_SCHEMA.fields]
PROJECTED = ["lang"]
# urls whose domain id starts with 1: about a fifth of the rows
URL_RANGE = (KEY, "https://www.site1", "https://www.site2")

BULK_ROWS = 120_000
SAMPLE_FRACTION = 0.05
# full decodes and range reads per bulk cycle: they are short, so the
# cycle repeats them for steadier medians. The range reads run back to
# back: one that follows a full decode runs about 10% slower
BULK_DECODES = 2
BULK_RANGE_READS = 4
FILE_ROWS = 5_000
# measured stream cycles per run, untraced and traced
STREAM_CYCLES = {False: 1, True: 2}
# staged stream files: one lands during set-up, one per cycle after it
STREAM_FILES = 1 + STREAM_CYCLES[True]


@dataclass
class Op:
    kind: str
    cycle: int
    start: float
    end: float
    traced: bool
    raw: dict[str, int]  # raw bytes per column the operation processed

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Run:
    """State of one benchmark run: timed operations, metric samples,
    checks, and the stores written (for the per-layer readers)."""
    spark: object
    work: str
    trace: bool = False
    tracer: object = None
    # measured cycles, when the workload fixes them rather than the
    # measuring time
    cycles: int | None = None
    cycle: int = 0
    ops: list[Op] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    stores: list[str] = field(default_factory=list)
    setup: dict[str, float] = field(default_factory=dict)
    n_chunks: int | None = None
    substores: int = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def timed(self, kind: str, fn, raw: dict[str, int], record: bool):
        """Run one operation over input of `raw` bytes per column;
        returns (result, wall seconds)."""
        traced = bool(self.tracer and self.tracer.enabled)
        sc = self.spark.sparkContext
        if traced:
            self.tracer.op = len(self.ops)
        sc.setJobDescription(kind)
        start = time.time()
        try:
            result = fn()
        finally:
            end = time.time()
            sc.setJobDescription(None)
            if traced:
                self.tracer.op = None
        if record:
            self.ops.append(Op(kind, self.cycle, start, end, traced, raw))
        return result, end - start

    @contextmanager
    def traced(self, on: bool):
        """Run the enclosed operations with the tracer on or off."""
        if self.tracer is None:
            yield
            return
        prev, self.tracer.enabled = self.tracer.enabled, on
        try:
            yield
        finally:
            self.tracer.enabled = prev

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def _checksum_aggs(columns: list[str], where=None) -> list:
    def rows(e):
        return e if where is None else F.when(where, e)
    return [F.count(rows(F.lit(1))), F.bit_xor(rows(F.xxhash64(F.col(KEY)))),
            *[F.bit_xor(rows(F.xxhash64(F.col(KEY), F.col(c))))
              for c in columns if c != KEY]]


def checksum(df, columns: list[str]) -> tuple:
    """Row count plus the order-independent `bit_xor(xxhash64(key, c))`
    per column, as `verify_roundtrip(mode="checksum")` computes it.
    Aggregating forces every listed column to be decoded."""
    return tuple(df.agg(*_checksum_aggs(columns)).collect()[0])


def expected(source, by: str | None = None):
    """The checksums a full decode and a range read of `source` must
    give, from one aggregation; with `by`, one pair per value of it."""
    full = _checksum_aggs(COLUMNS)
    aggs = full + _checksum_aggs([KEY, *PROJECTED], where=in_range())
    split = len(full)
    if by is None:
        row = tuple(source.agg(*aggs).collect()[0])
        return row[:split], row[split:]
    return {r[0]: (tuple(r[1:split + 1]), tuple(r[split + 1:]))
            for r in source.groupBy(by).agg(*aggs).collect()}


def combine(parts: list[tuple]) -> tuple:
    """The checksum of a union, from the checksums of its disjoint parts.
    An empty part's hashes are NULL, as `bit_xor` gives for no rows."""
    rows = [p for p in parts if p[0]]
    if not rows:
        return (0, *[None] * (len(parts[0]) - 1))
    count, *hashes = zip(*rows)
    return (sum(count), *(functools.reduce(operator.xor, h) for h in hashes))


def in_range():
    """The range read's predicate, as a filter on the source."""
    name, lo, hi = URL_RANGE
    return (F.col(name) >= lo) & (F.col(name) <= hi)


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                            recursive=True))


def raw_of(files: list[str]) -> dict[str, int]:
    total: dict[str, int] = {}
    for f in files:
        total = add_raw(total, raw_bytes(pq.read_table(f, columns=COLUMNS)))
    return total


def disk_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def manifest_checksums(store: str) -> frozenset:
    """(chunk, column, payload sha256) of every manifest row of a store
    or of all sub-stores of a streamed store."""
    rows = set()
    for f in parquet_files(store):
        if f"{os.sep}manifest{os.sep}" not in f:
            continue
        t = pq.read_table(f, columns=["chunk_id", "column", "checksum"])
        rows.update(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    return frozenset(rows)


def mb(raw: dict[str, int]) -> float:
    return sum(raw.values()) / 1e6


def full_read(run: Run, i: int, out: str, kind: str, expect: tuple,
              raw: dict[str, int], record: bool) -> None:
    got, wall = run.timed(kind, lambda: checksum(
        pipeline.read_encoded(run.spark, out), COLUMNS), raw, record)
    run.check(got == expect, f"cycle {i}: {kind} checksum")
    if record:
        run.sample("decode_mb_per_s", mb(raw) / wall)


def range_read(run: Run, i: int, out: str, expect: tuple,
               raw: dict[str, int], record: bool) -> None:
    got, wall = run.timed("projected_read", lambda: checksum(
        pipeline.read_encoded(run.spark, out, columns=PROJECTED,
                              where=URL_RANGE), [KEY, *PROJECTED]),
        raw, record)
    run.check(got == expect, f"cycle {i}: range read checksum")
    if record:
        run.sample("projected_read_s", wall)


def bulk_table(run: Run, seed: int):
    spark = run.spark
    stage = run.path("input")
    synth_webpages(spark, BULK_ROWS, seed=seed).write.parquet(stage)
    raw = raw_of(parquet_files(stage))
    src = spark.read.parquet(stage).persist()
    expect = expected(src)
    first: list[frozenset] = []  # the warm-up store's manifest checksums

    def encode(i: int, record: bool) -> str:
        out = run.path(f"store-{len(run.stores)}")
        m, wall = run.timed("encode", lambda: pipeline.run_encode(
            spark, src, out, sample_fraction=SAMPLE_FRACTION), raw, record)
        run.n_chunks = m["n_chunks"]
        run.stores.append(out)
        sums = manifest_checksums(out)
        if not first:
            first.append(sums)
        run.check(sums == first[0],
                  f"cycle {i}: manifest checksums differ from the first")
        if record:
            run.sample("encode_mb_per_s", mb(raw) / wall)
            run.sample("stored_bytes_per_raw_byte",
                       disk_bytes(out) / (mb(raw) * 1e6))
        return out

    def cycle(i: int, record: bool) -> None:
        if run.trace and record:
            # the same encode untraced too, for the tracing overhead; the
            # order alternates so that drift over the run cancels
            outs = {}
            for on in ((False, True) if i % 2 else (True, False)):
                with run.traced(on):
                    outs[on] = encode(i, record)
            out = outs[True]
        else:
            out = encode(i, record)
        for _ in range(BULK_DECODES if record else 1):
            full_read(run, i, out, "full_decode", expect[0], raw, record)
        for _ in range(BULK_RANGE_READS if record else 1):
            range_read(run, i, out, expect[1], raw, record)

    return cycle


def microbatch_stream(run: Run, seed: int):
    spark = run.spark
    stage = run.path("input")
    # slices by murmur3: slicing by the chunking hash (xxhash64) would
    # leave each file only the chunks congruent to its slice number
    (synth_webpages(spark, FILE_ROWS * STREAM_FILES, seed=seed)
     .withColumn("slice", F.pmod(F.hash(KEY), F.lit(STREAM_FILES)))
     .repartition(STREAM_FILES, "slice")
     .write.partitionBy("slice").parquet(stage))
    files = [parquet_files(os.path.join(stage, f"slice={k}"))
             for k in range(STREAM_FILES)]
    if any(len(f) != 1 for f in files):
        raise RuntimeError(f"expected one staged file per slice: {files}")
    files = [f[0] for f in files]
    by_slice = expected(spark.read.parquet(stage), by="slice")
    land, out = run.path("land"), run.path("stream")
    ck = run.path("checkpoint")
    os.makedirs(land)
    run.stores.append(out)
    run.cycles = STREAM_CYCLES[run.trace]

    def land_file(i: int, record: bool) -> None:
        # copy under a hidden name, which the file source skips, so the
        # file lands atomically with the rename inside the timing
        hidden = os.path.join(land, f".f{i}.parquet")
        shutil.copyfile(files[i], hidden)

        def batch():
            os.rename(hidden, os.path.join(land, f"f{i}.parquet"))
            q = encode_stream(spark, land, out, ck, trigger_once=True)
            q.awaitTermination()
        raw = raw_of([files[i]])
        _, wall = run.timed("batch", batch, raw, record)
        subs = sorted(glob.glob(os.path.join(out, "batches", "*")))
        run.check(len(subs) == i + 1,
                  f"cycle {i}: {len(subs)} sub-stores after {i + 1} files")
        run.substores = len(subs)
        with open(os.path.join(subs[-1], "table_meta.json")) as fh:
            run.n_chunks = json.load(fh)["n_chunks"]
        if record:
            run.sample("encode_mb_per_s", mb(raw) / wall)

    def cycle(i: int, record: bool) -> None:
        with run.traced(i > 1):
            stream_cycle(i, record)

    def stream_cycle(i: int, record: bool) -> None:
        land_file(i, record)
        raw = raw_of(files[:i + 1])
        full = combine([by_slice[k][0] for k in range(i + 1)])
        proj = combine([by_slice[k][1] for k in range(i + 1)])
        if record:
            run.sample("stored_bytes_per_raw_byte",
                       disk_bytes(out) / (mb(raw) * 1e6))
            full_read(run, i, out, "readback", full, raw, record)
        # the warm-up's range read also warms the full read's decode path
        range_read(run, i, out, proj, raw, record)

    return cycle


WORKLOADS = {"bulk_table": bulk_table, "microbatch_stream": microbatch_stream}
