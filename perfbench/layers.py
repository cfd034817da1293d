"""Per-layer metrics of a traced run.

Inputs are measured from outside the engine: the benchmark's own
operation timings, the spans `tracer.Tracer` recorded around calls into
`plans.pipeline`, Spark's event log (jobs attributed to operations by
submission time and to layers by job description; stages recognised by
their operator scopes), the manifests and table metadata the run wrote,
and a single-thread codec microbenchmark on one chunk of the last store.

Counts and times are per operation of the kind that exercises the layer
(an encode run, a full decode, a range read), averaged over the traced
operations of the run; `spark.*` totals are per traced cycle."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from eventlog import Job, Stage, union_s
from json_to_parquet_spark.functions.codecs.column import (decode_column,
                                                           encode_column,
                                                           meta_from_json)
from json_to_parquet_spark.plans.pipeline import _plan_from_json
from measure import raw_bytes
from workloads import COLUMNS, KEY, Run, parquet_files

CODECS = ("fsst", "dict", "for", "rle", "plain")
ENCODE_OPS = ("encode", "batch")
DECODE_OPS = ("full_decode", "readback")
RANGE_OPS = ("projected_read",)
MICROBENCH_REPS = 5


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def _skew(stages: list[Stage]) -> float:
    """Median over stages of slowest task ÷ median task run time."""
    ratios = []
    for st in stages:
        runs = [t.run_s for t in st.tasks]
        if runs and statistics.median(runs) > 0:
            ratios.append(max(runs) / statistics.median(runs))
    return statistics.median(ratios) if ratios else 0.0


def _stage_metrics(prefix: str, stages: list[Stage], n_ops: int) -> dict:
    tasks = [t for st in stages for t in st.tasks]
    task_s = sum(t.run_s for t in tasks)
    cpu_s = sum(t.cpu_s for t in tasks)
    return {
        f"{prefix}.stage_s": _per(sum(st.wall_s for st in stages), n_ops),
        f"{prefix}.task_s": _per(task_s, n_ops),
        f"{prefix}.jvm_cpu_s": _per(cpu_s, n_ops),
        f"{prefix}.offcpu_s": _per(task_s - cpu_s, n_ops),
        f"{prefix}.tasks": _per(len(tasks), n_ops),
        f"{prefix}.task_max_over_median": _skew(stages),
    }


def _stores_manifest(out_dir: str) -> list[dict]:
    rows = []
    for f in parquet_files(os.path.join(out_dir, "manifest")):
        rows.extend(pq.read_table(f).to_pylist())
    return rows


def _cv(xs: list[int]) -> float:
    return statistics.pstdev(xs) / statistics.mean(xs) if xs else 0.0


def microbench(store: str) -> dict[str, float]:
    """Single-thread `encode_column`/`decode_column` MB/s per column on
    the first chunk file of `store` (or of its last sub-store), with the
    codec plan the run chose. MB are raw bytes as `measure.raw_bytes`
    counts them."""
    subs = sorted(glob.glob(os.path.join(store, "batches", "*")))
    store = subs[-1] if subs else store
    with open(os.path.join(store, "table_meta.json")) as fh:
        plan = _plan_from_json(json.load(fh)["codec_plan"])
    chunk = parquet_files(os.path.join(store, "chunks"))[0]
    out = {}
    for row in pq.read_table(chunk).to_pylist():
        col, payload = row["column"], bytes(row["payload"])
        meta = meta_from_json(row["meta"])
        arr = decode_column(payload, meta)
        mb = raw_bytes(pa.table({col: arr}))[col] / 1e6
        enc, dec = [], []
        for _ in range(MICROBENCH_REPS):
            t = time.perf_counter()
            encode_column(arr, plan[col])
            enc.append(time.perf_counter() - t)
            t = time.perf_counter()
            decode_column(payload, meta)
            dec.append(time.perf_counter() - t)
        out[f"codecs.{col}.encode_mb_per_s"] = mb / statistics.median(enc)
        out[f"codecs.{col}.decode_mb_per_s"] = mb / statistics.median(dec)
    return out


def per_layer(run: Run, spans: list, jobs: list[Job],
              micro: dict[str, float]) -> dict[str, float]:
    ops = [(i, o) for i, o in enumerate(run.ops) if o.traced]

    def jobs_of(o) -> list[Job]:
        # event-log times have millisecond resolution
        return [j for j in jobs
                if o.start - 0.005 <= j.submit_s <= o.end + 0.005]

    def kind_ops(kinds) -> list[int]:
        return [i for i, o in ops if o.kind in kinds]

    enc, dec, rng = kind_ops(ENCODE_OPS), kind_ops(DECODE_OPS), \
        kind_ops(RANGE_OPS)
    n_enc = len(enc)
    op_jobs = {i: jobs_of(o) for i, o in ops}
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def spans_in(name: str, op_ids) -> list:
        return [s for s in by_name.get(name, []) if s.op in set(op_ids)]

    m: dict[str, float] = {
        "session.start_s": run.setup["session_s"],
        "session.warm_s": run.setup["warm_s"],
    }

    # pass 1 and codec choice
    stats_jobs = [j for i in enc for j in op_jobs[i]
                  if j.description == "collect_stats"]
    m["stats.wall_s"] = _per(sum(s.wall_s for s in
                                 spans_in("collect_stats", enc)), n_enc)
    m["stats.jobs"] = _per(len(stats_jobs), n_enc)
    m["stats.task_s"] = _per(sum(t.run_s for j in stats_jobs
                                 for st in j.stages for t in st.tasks), n_enc)
    m["stats.rows_sampled"] = _mean(s.info.get("rows", 0) for s in
                                    spans_in("collect_stats", enc))
    m["selector.plan_s"] = _per(sum(s.wall_s for s in
                                    spans_in("build_codec_plan", enc)), n_enc)
    m["selector.choose_s"] = _per(sum(
        s.wall_s for s in spans_in("choose_codecs", enc)
        + spans_in("choose_sort_order", enc)), n_enc)

    # pass 2: the FlatMapGroupsInArrow stage and the shuffle map stages
    # of the same SQL execution
    enc_stages, map_stages = [], []
    for i in enc:
        js = op_jobs[i]
        groups = [st for j in js for st in j.stages
                  if "FlatMapGroupsInArrow" in st.scopes]
        execs = {j.execution_id for j in js
                 if any(st in groups for st in j.stages)}
        enc_stages += groups
        map_stages += [st for j in js if j.execution_id in execs
                       for st in j.stages if st not in groups
                       and any(t.shuffle_write_bytes for t in st.tasks)]
    m.update(_stage_metrics("encode", enc_stages, n_enc))
    pass2 = [t for st in enc_stages + map_stages for t in st.tasks]
    m["encode.map_stage_s"] = _per(sum(st.wall_s for st in map_stages), n_enc)
    m["encode.shuffle_write_bytes"] = _per(
        sum(t.shuffle_write_bytes for t in pass2), n_enc)
    m["encode.shuffle_read_bytes"] = _per(
        sum(t.shuffle_read_bytes for t in pass2), n_enc)
    m["encode.spill_bytes"] = _per(sum(t.spill_bytes for t in pass2), n_enc)
    m["encode.gc_s"] = _per(sum(t.gc_s for t in pass2), n_enc)

    # decode: the MapInArrow stages of full decodes and of range reads
    def arrow_maps(op_ids) -> list[Stage]:
        return [st for i in op_ids for j in op_jobs[i] for st in j.stages
                if "MapInArrow" in st.scopes]
    m.update(_stage_metrics("decode", arrow_maps(dec), len(dec)))
    # the scan's own input-bytes counter misses reads made on the Python
    # runner's feeder thread; the payload bytes shipped to the decode
    # workers are what column pruning cuts
    m["decode.input_bytes"] = _per(sum(
        st.sql_metrics.get("data sent to Python workers", 0)
        for st in arrow_maps(rng)), len(rng))

    # run_encode as a whole
    runs = spans_in("run_encode", enc)
    metrics = [s.info["metrics"] for s in runs]
    for k in ("stats_s", "encode_s", "manifest_s"):
        m[f"pipeline.{k}"] = _mean(x[k] for x in metrics)
    m["chunking.n_chunks"] = _mean(x["n_chunks"] for x in metrics)
    n_jobs = driver = covered = wall = 0.0
    for s in runs:
        inner = [(max(j.submit_s, s.start), min(j.end_s, s.end))
                 for j in jobs if s.start <= j.submit_s <= s.end]
        kids = [(c.start, c.end) for c in spans
                if c.parent is not None and spans[c.parent] is s]
        n_jobs += len(inner)
        driver += s.wall_s - union_s(inner)
        covered += union_s(inner + kids)
        wall += s.wall_s
    m["pipeline.jobs"] = _per(n_jobs, len(runs))
    m["pipeline.driver_s"] = _per(driver, len(runs))
    m["pipeline.accounted_frac"] = _per(covered, wall)

    # codecs, from the manifests the traced encode runs wrote
    rows, planned, cvs = [], [], []
    for s in runs:
        out_dir = s.info["out_dir"]
        with open(os.path.join(out_dir, "table_meta.json")) as fh:
            plan = json.load(fh)["codecs"]
        rs = _stores_manifest(out_dir)
        rows += rs
        planned += [r["codec"] == plan[r["column"]] for r in rs]
        per_chunk = [r["n_rows"] for r in rs if r["column"] == KEY]
        cvs.append(_cv(per_chunk))
    m["chunking.rows_per_chunk_cv"] = _mean(cvs)
    m["codecs.kernel_s"] = _per(sum(r["wall_ms"] for r in rows) / 1e3, n_enc)
    for c in CODECS:
        m[f"codecs.{c}.kernel_s"] = _per(sum(
            r["wall_ms"] for r in rows if r["codec"] == c) / 1e3, n_enc)
    for col in COLUMNS:
        m[f"codecs.{col}.enc_ratio"] = _per(
            sum(r["enc_bytes"] for r in rows if r["column"] == col),
            sum(run.ops[i].raw[col] for i in enc))
    m["codecs.plan_kept_frac"] = _per(sum(planned), len(planned))
    m.update(micro)

    # reads
    reads = dec + rng
    outer = [s for s in spans_in("read_encoded", reads)
             if s.parent is None or spans[s.parent].name != "read_encoded"]
    m["read.plan_s"] = _per(sum(s.wall_s for s in outer), len(reads))
    m["read.jobs"] = _per(sum(1 for i in reads for j in op_jobs[i]
                              if j.description == "read_encoded"), len(reads))

    # streaming
    batches = kind_ops(("batch",))
    m["stream.overhead_s"] = _mean(
        run.ops[i].wall_s - sum(s.wall_s for s in spans_in("run_encode", [i]))
        for i in batches)
    m["stream.substores"] = float(run.substores)

    # whole run, per traced cycle
    traced_cycles = {o.cycle for _, o in ops}
    all_jobs = [j for i, _ in ops for j in op_jobs[i]]
    all_tasks = [t for j in all_jobs for st in j.stages for t in st.tasks]
    n_cyc = len(traced_cycles)
    m["spark.jobs"] = _per(len(all_jobs), n_cyc)
    m["spark.tasks"] = _per(len(all_tasks), n_cyc)
    m["spark.gc_s"] = _per(sum(t.gc_s for t in all_tasks), n_cyc)
    m["spark.spill_bytes"] = _per(sum(t.spill_bytes for t in all_tasks), n_cyc)

    # bulk_table pairs each traced encode with an untraced one of the
    # same table; microbatch_stream compares its untraced first batch
    # with its traced second one, a different file of the same size
    def encode_wall(traced: bool) -> float:
        return _mean(o.wall_s for o in run.ops
                     if o.kind in ENCODE_OPS and o.traced == traced)
    untraced = encode_wall(False)
    m["trace.overhead_frac"] = (encode_wall(True) / untraced - 1.0
                                if untraced else 0.0)
    return m
