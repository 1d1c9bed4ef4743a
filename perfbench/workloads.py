"""The benchmark's workloads: each is one client in a closed loop.

``ingest_bulk``     each op encodes one fixed time slice of every series
                    (``encode_points``) and commits it
                    (``ParquetTableIO.append``); one ``compact_sweep`` per
                    run repairs the series-days the slice cuts split.
``read_series_day`` each op reads one (series_key, day) block from the
                    table written in set-up and decodes it
                    (``decode_points`` + collect); choices favour the hot
                    series and recent days.

The traced run of ``ingest_bulk`` also drives one day unit of the daily
rollup job (``rollup_job.main``) and its resume re-invocations, so the
job's layers are measured; see DESIGN.md for why the job is not a timed
workload.

Every op's output is checked against the set-up corpus read with pyarrow;
an op whose output is wrong counts as failed.
"""

from __future__ import annotations

import ast
import contextlib
import gc
import io as _io
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gorillaspark.codec import native
from gorillaspark.jobs import rollup_job
from gorillaspark.operators.encode import decode_points, encode_points
from gorillaspark.operators.normalize import (turn_latency_points,
                                              validate_points)
from gorillaspark.operators.rollup import rollup_from_lower, rollup_tier
from gorillaspark.operators.sketch import dd_sketch_tier
from gorillaspark.plans import checkpoint, maintenance
from gorillaspark.plans.maintenance import (compact_sweep,
                                            fragmented_group_count)
from gorillaspark.sources.tableio import ParquetTableIO
from gorillaspark.sources.transcripts import generate_transcripts

from spans import SparkCounters, Tracer

DAY_MS = 86_400_000
HOT_SERIES = "conv000000"


@dataclass(frozen=True)
class Size:
    """Input sizes; the defaults are the benchmark's, tests shrink them."""
    n_conv: int = 1000
    mean_turns: int = 200
    hot_share: float = 0.25
    slices: int = 24            # ingest: equal time slices of the span
    setup_reps: int = 3         # set-up repeated, median reported
    warmup_ingests: int = 1     # warm-up ops, timed into setup_s
    warmup_reads: int = 3
    resume_reps: int = 3        # job probe: re-invocations timed
    probe_ops: int = 2          # traced ops that also run layer probes


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    size: Size
    trace: bool
    tracer: Tracer = field(init=False)
    counters: SparkCounters | None = field(init=False, default=None)

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace)
        if self.trace:
            self.counters = SparkCounters(self.spark)


@dataclass
class Outcome:
    e2e: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    side: dict


def quiesce(spark) -> None:
    """Python and JVM garbage collection, outside every timed region."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def tail_percentile(values: list[float]) -> dict | None:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            v = float(np.percentile(values, p))
            return {"percentile": p, "value_ms": v, "samples": n}
    return None


def dir_bytes(dirs: list[str]) -> tuple[int, int]:
    """(parquet data files, their bytes) under the given directories."""
    files = [os.path.join(d, f) for d in dirs for f in os.listdir(d)
             if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def table_bytes(io, table: str) -> int:
    return dir_bytes([f for s in io.snapshots(table) for f in s.files])[1]


# -- set-up ----------------------------------------------------------------

def build_corpus(ctx: Ctx, path: str) -> None:
    """Generated transcripts -> latency points, materialised as parquet."""
    s = ctx.size
    tr = generate_transcripts(ctx.spark, n_conv=s.n_conv,
                              mean_turns=s.mean_turns, seed=ctx.seed,
                              hot_share=s.hot_share)
    validate_points(turn_latency_points(tr)).write.parquet(path)


class Reference:
    """The corpus read with pyarrow, sorted by (series_key, ts_ms)."""

    def __init__(self, path: str) -> None:
        t = pq.read_table(path).sort_by([("series_key", "ascending"),
                                         ("ts_ms", "ascending")])
        self.keys = t.column("series_key").combine_chunks()
        self.ts = t.column("ts_ms").to_numpy()
        self.bits = t.column("value").to_numpy().view(np.int64)
        self.day = self.ts - self.ts % DAY_MS
        days, offsets = block_layout(self.keys, self.ts)
        keys = self.keys.take(pa.array(offsets[:-1])).to_pylist()
        self.blocks = {(k, int(d)): (int(a), int(b)) for k, d, a, b
                       in zip(keys, days, offsets[:-1], offsets[1:])}

    @property
    def n_points(self) -> int:
        return len(self.ts)

    def sizes(self) -> dict:
        return {"points": self.n_points,
                "series": len({k for k, _ in self.blocks}),
                "series_days": len(self.blocks),
                "hot_points": int(pc.sum(pc.equal(
                    self.keys, HOT_SERIES)).as_py() or 0)}


def timed_setup(ctx: Ctx, build) -> tuple[float, object]:
    """Run ``build(rep_dir)`` ``setup_reps`` times into fresh
    directories; (median seconds, the last rep's result)."""
    times, result, prev = [], None, None
    for rep in range(ctx.size.setup_reps):
        rep_dir = os.path.join(ctx.work, f"setup{rep}")
        quiesce(ctx.spark)
        t0 = time.perf_counter()
        result = build(rep_dir)
        times.append(time.perf_counter() - t0)
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
        prev = rep_dir
    return statistics.median(times), result


def closed_loop(ctx: Ctx, op) -> list[dict]:
    """One client: run ``op(i)`` back to back until ``seconds`` have
    passed. In a traced run every other op is traced, so the traced and
    untraced op times give the tracing overhead; it runs two at least."""
    records = []
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while time.perf_counter() < deadline or len(records) < 1 + ctx.trace:
        quiesce(ctx.spark)
        traced = ctx.trace and i % 2 == 1
        ctx.tracer.enabled = traced
        ctx.tracer.op = i
        if traced:
            ctx.counters.begin(i)
        t0 = time.perf_counter()
        with ctx.tracer.span("perfbench.op"):
            info = op(i)
        wall = time.perf_counter() - t0
        rec = {"op": i, "wall_ms": wall * 1e3, "traced": traced, **info}
        if traced:
            rec["spark"] = ctx.counters.end()
        records.append(rec)
        i += 1
    ctx.tracer.enabled = ctx.trace
    return records


def trace_layers(ctx: Ctx, records: list[dict]) -> dict[str, float]:
    """Per-layer medians over the traced ops: span self times, Spark
    counters and the tracing overhead."""
    traced = [r for r in records if r["traced"]]
    plain = [r for r in records if not r["traced"]]
    ids = {r["op"] for r in traced}
    out = {f"{name}.self_ms": v
           for name, v in ctx.tracer.median_self_ms(ids).items()}
    for key in (traced[0]["spark"] if traced else {}):
        out[key] = statistics.median(r["spark"][key] for r in traced)
    if traced and plain:
        out["perfbench.trace_overhead_ms"] = (
            statistics.median(r["wall_ms"] for r in traced)
            - statistics.median(r["wall_ms"] for r in plain))
    return out


def common_probes(ctx: Ctx) -> dict[str, float]:
    """Scheduler floor, measured in traced runs only."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        ctx.spark.range(1).count()
        times.append((time.perf_counter() - t0) * 1e3)
    return {"plans.session.trivial_action_ms": statistics.median(times)}


def block_layout(keys: pa.Array, ts: np.ndarray):
    """(block_ts, offsets) of points sorted by (key, ts), as
    ``encode_points`` groups them: one block per series-day."""
    n = len(ts)
    day = ts - ts % DAY_MS
    change = np.ones(n, dtype=bool)
    change[1:] = (day[1:] != day[:-1]) | pc.not_equal(
        keys.slice(1), keys.slice(0, n - 1)).to_numpy(zero_copy_only=False)
    starts = np.flatnonzero(change)
    return day[starts], np.append(starts, n).astype(np.int64)


def median_call_s(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def noop_ms(spark, df) -> float:
    """Milliseconds to compute ``df`` into Spark's noop sink."""
    quiesce(spark)
    return 1e3 * median_call_s(
        lambda: df.write.format("noop").mode("overwrite").save(), reps=1)


# -- ingest_bulk -------------------------------------------------------------

def ingest_bulk(ctx: Ctx) -> Outcome:
    spark, size = ctx.spark, ctx.size
    n_slices = size.slices

    def build(rep_dir: str):
        corpus = os.path.join(rep_dir, "points")
        build_corpus(ctx, corpus)
        return corpus

    setup_s, corpus = timed_setup(ctx, build)
    ref = Reference(corpus)
    points = spark.read.parquet(corpus)
    # slices hold equal point counts, so every seed commits the same
    # points per op; their bounds fall at arbitrary ms, not at days
    ts_sorted = np.sort(ref.ts)
    bounds = np.append(
        ts_sorted[np.arange(n_slices) * ref.n_points // n_slices],
        ts_sorted[-1] + 1)
    slice_of = np.searchsorted(bounds, ref.ts, side="right") - 1
    slice_points = np.bincount(slice_of, minlength=n_slices)

    def slices_df(a: int, b: int):
        """Points of slices a .. b-1."""
        return points.where((F.col("ts_ms") >= int(bounds[a]))
                            & (F.col("ts_ms") < int(bounds[b])))

    owner: dict[tuple[str, int], object] = {}  # (table, slice) -> op

    def ingest_op(io):
        def op(i: int) -> dict:
            k, table = i % n_slices, f"blocks_{i // n_slices}"
            with ctx.tracer.span("operators.encode.encode_points"):
                blocks = encode_points(slices_df(k, k + 1))
            with ctx.tracer.span("sources.tableio.append"):
                snap = io.append(table, blocks, commit_key=f"slice-{k}")
            owner[(table, k)] = i
            return {"slice": k, "points": int(slice_points[k]),
                    "table": table, "snapshot": snap.snapshot_id}
        return op

    t0 = time.perf_counter()
    warm = ingest_op(ParquetTableIO(spark, os.path.join(ctx.work, "warmup")))
    for w in range(size.warmup_ingests):
        quiesce(spark)
        warm(w)
    owner.clear()
    setup_s += time.perf_counter() - t0

    io = ParquetTableIO(spark, os.path.join(ctx.work, "warehouse"))
    records = closed_loop(ctx, ingest_op(io))
    busy_s = sum(r["wall_ms"] for r in records) / 1e3
    pts_done = sum(r["points"] for r in records)
    # compaction empties the snapshots it replaces: count files first
    appended = append_counts(records, io) if ctx.trace else {}

    # untimed: one append commits the rest of the corpus, so the table
    # compacted and checked below always holds every point once
    quiesce(spark)
    ctx.tracer.op = "fill"
    last_table, rest = records[-1]["table"], len(records) % n_slices
    if rest:
        io.append(last_table, encode_points(slices_df(rest, n_slices)),
                  commit_key=f"fill-{rest}")
        owner.update({(last_table, k): "fill"
                      for k in range(rest, n_slices)})
    tables = sorted({t for t, _ in owner})

    # one compaction per table repairs the series-days the cuts split
    frag = 0
    quiesce(spark)
    ctx.tracer.op = "compact"
    t0 = time.perf_counter()
    with ctx.tracer.span("plans.maintenance.compact_sweep"):
        for table in tables:
            frag += compact_sweep(spark, io, table, job_id="perfbench")
    compact_ms = (time.perf_counter() - t0) * 1e3

    # output check: decoded blocks equal the input points bit for bit
    want = pd.DataFrame({"series_key": ref.keys.to_pylist(),
                         "ts_ms": ref.ts,
                         "bits": pd.array(ref.bits, dtype="Int64")})
    bad_ops, left_fragmented = set(), 0
    for table in tables:
        blocks = io.read(table)
        left_fragmented += fragmented_group_count(blocks)
        got = decode_points(blocks, as_double=False).toArrow().to_pandas()
        got["value"] = got["value"].astype("Int64")  # exact, with <NA>
        m = want.merge(got, on=["series_key", "ts_ms"], how="outer",
                       indicator=True)
        bad = ((m["_merge"] != "both")
               | (m["bits"] != m["value"]).fillna(True)).to_numpy(bool)
        dup = got.duplicated(["series_key", "ts_ms"]).to_numpy(bool)
        bad_ts = np.concatenate([m["ts_ms"].to_numpy()[bad],
                                 got["ts_ms"].to_numpy()[dup]])
        bad_slices = np.searchsorted(bounds, bad_ts, side="right") - 1
        bad_ops |= {owner.get((table, int(k)), "compact")
                    for k in bad_slices}
    if left_fragmented:
        bad_ops.add("compact")
    stored = sum(table_bytes(io, t) for t in tables)

    lat = [r["wall_ms"] for r in records]
    e2e = {"throughput_per_s": pts_done / busy_s,
           "latency_ms_p50": statistics.median(lat),
           "stored_bytes_per_point": stored / (ref.n_points * len(tables)),
           "setup_s": setup_s}
    layers = {"plans.maintenance.compact_sweep.ms": compact_ms,
              "plans.maintenance.compact_sweep.fragmented_groups":
                  float(frag)}
    attempted = len(records) + bool(rest) + 1  # ops, fill, compaction
    failed = len(bad_ops)
    if ctx.trace:
        layers.update(trace_layers(ctx, records))
        layers.update(appended)
        layers.update(ingest_probes(ctx, ref, slices_df, bounds, records))
        layers.update(common_probes(ctx))
        job_layers, job_attempted, job_failed = job_probe(ctx, ref)
        layers.update(job_layers)
        attempted += job_attempted
        failed += job_failed
    side = {"sizes": {**ref.sizes(), "slices": n_slices,
                      "slice_points": int(np.median(slice_points))},
            "ops": records, "fragmented_repaired": frag,
            "fragmented_left": left_fragmented,
            "failed_ops": sorted(map(str, bad_ops)),
            "latency_ms_tail": tail_percentile(lat)}
    return Outcome(e2e, layers, attempted, failed, side)


def append_counts(records: list[dict], io) -> dict[str, float]:
    """Files and bytes each traced append committed (exact counts)."""
    files, nbytes = [], []
    for r in records:
        if not r["traced"]:
            continue
        snap = next(s for s in io.snapshots(r["table"])
                    if s.snapshot_id == r["snapshot"])
        f, b = dir_bytes(snap.files)
        files.append(f)
        nbytes.append(b)
    if not files:
        return {}
    return {"sources.tableio.append.files": statistics.median(files),
            "sources.tableio.append.bytes": statistics.median(nbytes)}


def ingest_probes(ctx: Ctx, ref: Reference, slices_df, bounds,
                  records) -> dict[str, float]:
    """encode_points into a noop sink, and the C kernel alone on one
    thread, over the slices of the first traced ops."""
    enc_ms, kern_ms, kern_pts = [], [], []
    for r in [r for r in records if r["traced"]][:ctx.size.probe_ops]:
        k = r["slice"]
        enc_ms.append(noop_ms(ctx.spark, encode_points(slices_df(k, k + 1))))
        sel = np.flatnonzero((ref.ts >= bounds[k]) & (ref.ts < bounds[k + 1]))
        ts, bits = ref.ts[sel], ref.bits[sel].view(np.uint64)
        bts, offsets = block_layout(ref.keys.take(pa.array(sel)), ts)
        s = median_call_s(
            lambda: native.encode_blocks_native(bts, offsets, ts, bits))
        kern_ms.append(s * 1e3)
        kern_pts.append(len(ts) / s)
    if not enc_ms:
        return {}
    return {"operators.encode.encode_points.ms": statistics.median(enc_ms),
            "codec.native.encode_blocks_native.ms":
                statistics.median(kern_ms),
            "codec.native.encode_blocks_native.pts_per_s":
                statistics.median(kern_pts)}


# -- read_series_day ---------------------------------------------------------

def read_choices(ref: Reference, seed: int, hot_share: float):
    """Endless (series_key, block_ts) choices: a day weighted toward the
    most recent (x0.85 per day back), then the hot series with
    probability ``hot_share`` when it has that day, else a uniform
    series of that day."""
    rng = random.Random(seed)
    by_day: dict[int, list[str]] = {}
    for key, day in sorted(ref.blocks):
        by_day.setdefault(day, []).append(key)
    days = sorted(by_day)
    weights = [0.85 ** (len(days) - 1 - i) for i in range(len(days))]
    while True:
        day = rng.choices(days, weights)[0]
        keys = by_day[day]
        if HOT_SERIES in keys and rng.random() < hot_share:
            yield HOT_SERIES, day
        else:
            cold = [k for k in keys if k != HOT_SERIES] or keys
            yield rng.choice(cold), day


def read_series_day(ctx: Ctx) -> Outcome:
    spark, size = ctx.spark, ctx.size

    def build(rep_dir: str):
        corpus = os.path.join(rep_dir, "points")
        build_corpus(ctx, corpus)
        io = ParquetTableIO(spark, os.path.join(rep_dir, "warehouse"))
        io.append("blocks", encode_points(spark.read.parquet(corpus)))
        return corpus, io

    setup_s, (corpus, io) = timed_setup(ctx, build)
    ref = Reference(corpus)
    choices = read_choices(ref, ctx.seed, size.hot_share)
    picked: dict[int, tuple[str, int]] = {}

    def op(i: int) -> dict:
        key, day = picked[i] = next(choices)
        with ctx.tracer.span("sources.tableio.read"):
            blocks = io.read("blocks")
        with ctx.tracer.span("operators.encode.decode_points"):
            pts = decode_points(
                blocks.where((F.col("series_key") == key)
                             & (F.col("block_ts") == day)),
                as_double=False)
        with ctx.tracer.span("spark.action.collect"):
            rows = pts.collect()
        return {"rows": rows}

    def check(i: int, rows) -> bool:
        """The read equals the corpus slice for its series-day."""
        a, b = ref.blocks[picked[i]]
        got = sorted((r.ts_ms, r.value) for r in rows)
        return (all(r.series_key == picked[i][0] for r in rows)
                and np.array_equal(np.array([g[0] for g in got]),
                                   ref.ts[a:b])
                and np.array_equal(np.array([g[1] for g in got]),
                                   ref.bits[a:b]))

    t0 = time.perf_counter()
    for w in range(size.warmup_reads):
        quiesce(spark)
        op(-1 - w)
    setup_s += time.perf_counter() - t0

    records = closed_loop(ctx, op)
    failed = 0
    for r in records:
        r["ok"] = check(r["op"], r.pop("rows"))
        r["series_key"], r["block_ts"] = picked[r["op"]]
        failed += not r["ok"]
    lat = [r["wall_ms"] for r in records]
    e2e = {"throughput_per_s": len(records) / (sum(lat) / 1e3),
           "latency_ms_p50": statistics.median(lat),
           "stored_bytes_per_point": table_bytes(io, "blocks")
           / ref.n_points,
           "setup_s": setup_s}
    layers = {}
    if ctx.trace:
        layers.update(trace_layers(ctx, records))
        layers.update(read_probes(ctx, io, records))
        layers.update(common_probes(ctx))
    side = {"sizes": ref.sizes(), "ops": records,
            "latency_ms_tail": tail_percentile(lat)}
    return Outcome(e2e, layers, len(records), failed, side)


def read_probes(ctx: Ctx, io, records) -> dict[str, float]:
    """The C decode kernel alone on the words of the traced reads; and,
    for the first traced reads, the scan of the read's block and the scan
    plus ``decode_points`` of it, each computed into a noop sink."""
    files = [f for s in io.snapshots("blocks") for f in s.files]
    t = pa.concat_tables([pq.read_table(f) for f in files])
    words = {(k, b): w for k, b, w in zip(
        t.column("series_key").to_pylist(), t.column("block_ts").to_pylist(),
        t.column("words").to_pylist())}
    traced = [r for r in records if r["traced"]]
    us = []
    for r in traced:
        w = np.array(words[(r["series_key"], r["block_ts"])],
                     dtype=np.int64).view(np.uint64)
        wc = np.array([len(w)], dtype=np.int64)
        us.append(1e6 * median_call_s(
            lambda: native.decode_blocks_native(w, wc), reps=5))
    scan_ms, decode_ms = [], []
    for r in traced[:ctx.size.probe_ops]:
        block = io.read("blocks").where(
            (F.col("series_key") == r["series_key"])
            & (F.col("block_ts") == r["block_ts"]))
        for _ in range(3):
            scan_ms.append(noop_ms(ctx.spark, block))
            decode_ms.append(noop_ms(ctx.spark,
                                     decode_points(block, as_double=False)))
    return {"codec.native.decode_blocks_native.us": statistics.median(us),
            "sources.tableio.read.ms": statistics.median(scan_ms),
            "operators.encode.decode_points.ms": statistics.median(decode_ms)}


# -- the daily rollup job, probed in ingest_bulk's traced run ----------------

JOB_SPANS = [
    (rollup_job, "build_session", "plans.session.build_session"),
    (rollup_job, "day_units", "jobs.rollup_job.day_units"),
    (rollup_job, "run_resumable_shared",
     "plans.checkpoint.run_resumable_shared"),
    (rollup_job, "retention_sweep", "operators.retention.retention_sweep"),
    (rollup_job, "compact_sweep", "plans.maintenance.compact_sweep"),
    (checkpoint, "completed_units", "plans.checkpoint.completed_units"),
    (checkpoint, "record_unit", "plans.checkpoint.record_unit"),
    (maintenance, "completed_units", "plans.checkpoint.completed_units"),
    (maintenance, "record_unit", "plans.checkpoint.record_unit"),
]


@contextlib.contextmanager
def traced_job(tracer: Tracer):
    """Record spans around the job's calls into the package's public
    functions, by wrapping the names the job's modules look up."""
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in JOB_SPANS]
    try:
        for mod, name, span in JOB_SPANS:
            setattr(mod, name, tracer.wrap(span, getattr(mod, name)))
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def run_job(ctx: Ctx, transcripts: str, warehouse: str, op) -> tuple:
    """One ``rollup_job.main`` invocation: (wall ms, its summary dict).
    The job stops the session it ran on; the next call starts one."""
    ctx.tracer.op = op
    out = _io.StringIO()
    t0 = time.perf_counter()
    with ctx.tracer.span("jobs.rollup_job.main"), \
            contextlib.redirect_stdout(out):
        rollup_job.main(["--transcripts", transcripts,
                         "--warehouse", warehouse, "--job-id", "perfbench"])
    wall_ms = (time.perf_counter() - t0) * 1e3
    return wall_ms, ast.literal_eval(out.getvalue().strip().splitlines()[-1])


def job_probe(ctx: Ctx, ref: Reference):
    """One day unit of the daily job, then re-invocations that must run
    nothing. Checks: one ``_meta`` row per stage for the unit, the 1d
    rollup's count and sum against pandas, and zero units on resume.
    Returns (layer metrics, ops attempted, ops failed)."""
    spark, size = ctx.spark, ctx.size
    day_ms = int(np.bincount((ref.day - ref.day.min()) // DAY_MS).argmax()
                 * DAY_MS + ref.day.min())
    day = time.strftime("%Y-%m-%d", time.gmtime(day_ms / 1e3))
    transcripts = os.path.join(ctx.work, "job", "transcripts")
    warehouse = os.path.join(ctx.work, "job", "warehouse")
    tr = generate_transcripts(spark, n_conv=size.n_conv,
                              mean_turns=size.mean_turns, seed=ctx.seed,
                              hot_share=size.hot_share)
    tr.where(F.date_format("ts", "yyyy-MM-dd") == day) \
        .write.parquet(transcripts)

    # each stage alone, into a noop sink, on the same day's points
    pts = validate_points(turn_latency_points(
        spark.read.parquet(transcripts))).cache()
    pts.count()
    encode_ms = noop_ms(spark, encode_points(pts, "double"))
    m1 = rollup_tier(pts, "1m")
    layers = {"operators.rollup.rollup_tier.ms": noop_ms(spark, m1)}
    m1 = m1.cache()
    m1.count()
    h1 = rollup_from_lower(m1, "1h", p95_source=pts)
    layers["operators.rollup.rollup_from_lower_1h.ms"] = noop_ms(spark, h1)
    h1 = h1.cache()
    h1.count()
    layers["operators.rollup.rollup_from_lower_1d.ms"] = noop_ms(
        spark, rollup_from_lower(h1, "1d", p95_source=pts))
    layers["operators.sketch.dd_sketch_tier.ms"] = noop_ms(
        spark, dd_sketch_tier(pts, "1m"))
    for df in (h1, m1, pts):
        df.unpersist()
    stage_work = {"encode": encode_ms,
                  "rollup": sum(v for k, v in layers.items()
                                if k.startswith("operators.rollup")),
                  "sketch": layers["operators.sketch.dd_sketch_tier.ms"]}
    quiesce(spark)

    with traced_job(ctx.tracer):
        unit_ms, first = run_job(ctx, transcripts, warehouse, "job-unit")
        resumes = [run_job(ctx, transcripts, warehouse, f"job-resume-{i}")
                   for i in range(size.resume_reps)]
    failed = sum(any(v for k, v in r.items() if k.endswith("_units"))
                 for _, r in resumes)

    # the job stopped its session: start one to read what it wrote
    from gorillaspark.plans.session import build_session
    spark = ctx.spark = build_session(app="perfbench-check")
    io = ParquetTableIO(spark, warehouse)
    meta = io.read(checkpoint.META_TABLE).toPandas()
    stages = {f"perfbench-{s}": s for s in ("encode", "rollup", "sketch")}
    rows = meta[meta["job_id"].isin(stages)]
    meta_ok = (len(rows) == 3 and set(rows["unit"]) == {day}
               and set(rows["job_id"]) == set(stages))
    d1 = io.read("rollups").where(F.col("tier") == "1d").toPandas()
    t = pq.read_table(transcripts, columns=["conv_id", "turn_idx", "ts"])
    ts = t.column("ts")
    tdf = pd.DataFrame({
        "conv_id": t.column("conv_id").to_pylist(),
        "turn_idx": t.column("turn_idx").to_numpy(),
        "ts_ms": pc.cast(pc.cast(ts, pa.timestamp("ms", ts.type.tz)),
                         pa.int64()).to_numpy()}).sort_values(
        ["conv_id", "turn_idx"])
    tdf["latency_ms"] = tdf.groupby("conv_id")["ts_ms"].diff()
    want = tdf.dropna(subset=["latency_ms"]).groupby("conv_id")[
        "latency_ms"].agg(["count", "sum"])
    got = d1.set_index("series_key")[["cnt", "sum"]]
    # latencies are whole milliseconds, so both sums are exact
    rollup_ok = (len(got) == len(want) and got.index.is_unique
                 and (got["cnt"].reindex(want.index) == want["count"]).all()
                 and (got["sum"].reindex(want.index) == want["sum"]).all())
    failed += not (first["encoded_units"] == 1 and meta_ok and rollup_ok)

    commit_ms = dict(zip(rows["job_id"].map(stages), rows["wall_ms"]))
    spans = ctx.tracer.self_ms_by_op()

    def unit_span(name):
        return spans.get(name, {}).get("job-unit", 0.0)

    n_record = sum(1 for s in ctx.tracer.spans
                   if s["op"] == "job-unit"
                   and s["name"] == "plans.checkpoint.record_unit")
    layers.update({f"{name}.self_ms": unit_span(name) for name in (
        "jobs.rollup_job.main", "jobs.rollup_job.day_units",
        "plans.session.build_session", "plans.checkpoint.completed_units",
        "plans.checkpoint.run_resumable_shared",
        "operators.retention.retention_sweep")})
    layers.update({
        "jobs.rollup_job.unit_ms": unit_ms,
        "jobs.rollup_job.resume_noop_ms":
            statistics.median(ms for ms, _ in resumes),
        "plans.checkpoint.record_unit.self_ms":
            unit_span("plans.checkpoint.record_unit") / max(n_record, 1),
        "plans.checkpoint.commit_overhead_ms": statistics.median(
            commit_ms[s] - stage_work[s] for s in commit_ms),
        "operators.retention.retention_sweep.snapshots_dropped":
            float(first["retention_dropped_snapshots"]),
    })
    return layers, 1 + size.resume_reps, failed
