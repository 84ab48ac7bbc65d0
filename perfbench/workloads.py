"""The benchmark's four workloads, driven only through the program's public
entry points.

Each workload prepares seeded inputs under the run's work directory, sets
the service up several times (the median is ``setup_s``'s second term),
measures for the run's seconds, checks every output against the model or
the oracle, and returns its end-to-end and per-layer figures.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from pulsar_topic_deduplicator_spark.config import EngineConfig
from pulsar_topic_deduplicator_spark.service import (
    run_dedup_service_bounded,
    start_dedup_service,
    warmup_seed_digests,
)
from pulsar_topic_deduplicator_spark.streaming.dedup import message_digest
from pulsar_topic_deduplicator_spark.streaming.source import events_message_stream

from . import gen, model
from .observe import ProgressLog, Tracer, batch_commit_s, progress_epoch_s, state_ms

CONFIG = EngineConfig(ignored_properties=gen.IGNORED)
#: a live message committed later than this after it was due has failed
LIVE_LIMIT_MS = 5_000.0
#: a generator that lands a file later than this after it was due makes the
#: run invalid: the lateness would be the generator's, not the service's
GEN_LATE_LIMIT_MS = 500.0
SETUP_CYCLES = 3
#: live traffic before the measured window: its files are checked for
#: correctness but give no latency sample and carry no latency limit, so
#: the window sees a service whose first, cold micro-batches are behind it
LIVE_RAMP_S = 4.0


@dataclass
class Ctx:
    spark: object
    log: ProgressLog
    tracer: Tracer
    root: int | None
    work: str
    seed: int
    seconds: float
    smoke: bool
    rng: np.random.Generator = field(init=False)
    cores: int = field(init=False)

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)
        self.cores = self.spark.sparkContext.defaultParallelism

    def new_dir(self, kind: str) -> str:
        path = os.path.join(self.work, f"{kind}-{uuid.uuid4().hex[:8]}")
        os.makedirs(path)
        return path


@dataclass
class Outcome:
    attempted: int
    failed: int
    correct: bool
    throughput_msg_s: float
    latency_ms: list[float]  # one sample per file (streaming) or entry run
    suite_wall_s: float
    service_setup_s: list[float]
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    #: the warm-up the traced run's probe evaluates
    warm: Warmup | None = None


def p(values, q):
    """Nearest-rank percentile ``q`` in [0, 100] of ``values``."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(np.ceil(q / 100 * len(v))) - 1))]


# ─── shared streaming pieces ───────────────────────────────────────────────


def _drop_sink(spark, name: str | None) -> None:
    if name:
        spark.catalog.dropTempView(name)


def content_digests(ctx: Ctx, cids: np.ndarray) -> list[str]:
    """Digest of each content id, computed by the program's own stream
    reader and digest over one representative message per content."""
    d = ctx.new_dir("contents")
    gen.write_contents(d, cids, ctx.rng)
    name = f"pb_digest_{uuid.uuid4().hex[:8]}"
    q = (
        events_message_stream(ctx.spark, d)
        .select("message_id", message_digest(gen.IGNORED).alias("digest"))
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = ctx.spark.table(name).collect()
    _drop_sink(ctx.spark, name)
    out = [""] * len(cids)
    for r in rows:
        out[int(r.message_id)] = r.digest
    return out


@dataclass
class Warmup:
    prior_dir: str | None = None
    seeded: set = field(default_factory=set)  # content ids the warm-up seeds
    n_prior: int = 0

    def frame(self, spark):
        return spark.read.parquet(self.prior_dir) if self.prior_dir else None


def make_warmup(ctx: Ctx, n_in: int, n_out: int, n_bad: int, cid_base: int) -> tuple[Warmup, np.ndarray, np.ndarray]:
    """Prior-output table over three disjoint content pools: ``n_in``
    in-window digests, ``n_out`` digests published before the cache window
    and ``n_bad`` digests only inside malformed ``origin`` arrays. Returns
    the warm-up and the in-window and the unseeded pools."""
    cids = np.arange(n_in + n_out + n_bad, dtype=np.int64) + cid_base
    digests = content_digests(ctx, cids)
    tbl = gen.prior_output_table(
        digests[:n_in], digests[n_in:n_in + n_out], digests[n_in + n_out:]
    )
    d = ctx.new_dir("prior")
    pq.write_table(tbl, os.path.join(d, "prior.parquet"))
    w = Warmup(d, set(cids[:n_in].tolist()), tbl.num_rows)
    return w, cids[:n_in], cids[n_in:]


def setup_cycle(ctx: Ctx, warm: Warmup, exact: bool, keep: bool = False, src=None):
    """Start the live service until ``health()`` answers 204; return the
    ready time and, with ``keep``, the running service."""
    src = src or ctx.new_dir("empty")
    with ctx.tracer.span("service_start", ctx.root, "service") as s:
        svc = start_dedup_service(
            ctx.spark, CONFIG, src, ctx.new_dir("ckpt"),
            prior_output=warm.frame(ctx.spark), now_ts=gen.NOW_TS,
            exact_processing_ttl=exact,
        )
        while svc.health()[0] != 204:
            time.sleep(0.005)
    ready = s.end - s.start
    if keep:
        return ready, svc
    svc.stop()
    _drop_sink(ctx.spark, svc.output_table)
    return ready, None


def source_batches(batches: list[dict], src_dir: str) -> list[tuple[dict, int]]:
    """(progress, rows read from ``src_dir``) for every micro-batch."""
    out = []
    for b in batches:
        rows = sum(
            s["numInputRows"] for s in b["sources"]
            if src_dir.rstrip("/") in s["description"]
        )
        out.append((b, rows))
    return out


def file_commits(batches, file_rows: list[int]) -> list[float | None]:
    """Commit time of the micro-batch that consumed each file. The file
    source takes files in arrival order, so cumulative input rows map
    files to batches."""
    ends = np.cumsum(file_rows)
    out: list[float | None] = [None] * len(file_rows)
    done, j = 0, 0
    for b, rows in batches:
        if rows == 0:
            continue
        done += rows
        while j < len(ends) and ends[j] <= done:
            out[j] = batch_commit_s(b)
            j += 1
    return out


def batch_layers(batches, n_forwarded: int, n_input: int, cores: int) -> dict:
    """Per-layer figures from the progress reports of one run. State times
    are wall time inside ``addBatch`` (see ``state_ms``)."""
    data = [b for b, rows in batches if rows > 0]
    allb = [b for b, _ in batches]
    lay: dict[str, float] = {}

    def phase(b, k):
        return b["durationMs"].get(k, 0)

    def state(b, k):
        return sum(o.get(k, 0) for o in b["stateOperators"])

    per = {
        "trigger": lambda b: phase(b, "triggerExecution"),
        "plan": lambda b: phase(b, "queryPlanning"),
        "add": lambda b: phase(b, "addBatch"),
        "add_other": lambda b: phase(b, "addBatch")
        - state_ms(b, "allUpdatesTimeMs", cores) - state_ms(b, "commitTimeMs", cores),
        "wal": lambda b: phase(b, "walCommit"),
        "commit": lambda b: phase(b, "commitOffsets"),
    }
    for k, f in per.items():
        lay[f"batch.{k}_ms"] = statistics.median(f(b) for b in data) if data else 0.0
        lay[f"batch.{k}_ms_total"] = float(sum(f(b) for b in allb))
    # the per-message share of addBatch's other work (scan, decode, digest,
    # exchange) next to what a micro-batch pays once whatever its size
    lay["batch.add_other_us_per_row"] = (
        statistics.median(per["add_other"](b) * 1e3 / r for b, r in batches if r > 0)
        if data else 0.0
    )
    lay["batch.count"] = float(len(allb))
    lay["batch.data_count"] = float(len(data))
    lay["batch.rows_p50"] = float(statistics.median(r for _, r in batches if r > 0)) if data else 0.0
    lay["source.latest_offset_ms"] = float(sum(phase(b, "latestOffset") for b in allb))
    lay["source.get_batch_ms"] = float(sum(phase(b, "getBatch") for b in allb))
    lay["state.update_ms"] = float(sum(state_ms(b, "allUpdatesTimeMs", cores) for b in allb))
    lay["state.commit_ms"] = float(sum(state_ms(b, "commitTimeMs", cores) for b in allb))
    lay["state.rows_removed"] = float(sum(state(b, "numRowsRemoved") for b in allb))
    last = allb[-1] if allb else {"stateOperators": []}
    lay["state.rows_total"] = float(state(last, "numRowsTotal"))
    lay["state.memory_bytes"] = float(state(last, "memoryUsedBytes"))
    lay["dedup.forward_ratio"] = n_forwarded / n_input if n_input else 0.0
    return lay


def kernel_of(batches) -> str:
    for b, _ in batches:
        for o in b["stateOperators"]:
            return o.get("operatorName", "unknown")
    return "none"


def merge_layers(parts: list[dict]) -> dict:
    """Sum run totals and counts over reps; take the median of p50s."""
    out: dict[str, float] = {}
    for k in parts[0]:
        vals = [x[k] for x in parts]
        if k.endswith("_total") or k in (
            "batch.count", "batch.data_count", "source.latest_offset_ms",
            "source.get_batch_ms", "state.update_ms", "state.commit_ms",
            "state.rows_removed",
        ):
            out[k] = float(sum(vals))
        else:
            out[k] = float(statistics.median(vals))
    return out


# ─── closed loop: bounded runs (replay_dup90, exact_ttl) ──────────────────


@dataclass
class BoundedInput:
    src: str
    msgs: gen.MessageSet
    warm: Warmup


def bounded_rep(ctx: Ctx, inp: BoundedInput, exact: bool, timed: bool = True) -> dict:
    """One bounded service run over ``inp``: wall, per-file latency,
    correctness and per-layer figures. An untimed run only warms the JIT
    and the plan caches."""
    spark = ctx.spark
    ckpt = ctx.new_dir("ckpt")
    mark = ctx.log.mark()
    name, layer = ("bounded_run", "driver") if timed else ("warm_up_run", "bench")
    with ctx.tracer.span(name, ctx.root, layer) as rep:
        out = run_dedup_service_bounded(
            spark, CONFIG, inp.src, ckpt,
            prior_output=inp.warm.frame(spark), now_ts=gen.NOW_TS,
            exact_processing_ttl=exact,
        )
    t0, t1 = rep.start, rep.end
    runs = ctx.log.runs_since(mark)
    batches = []
    for run_id, _ in runs:
        batches += source_batches(ctx.log.batches(run_id), inp.src)
    with ctx.tracer.span("check", ctx.root, "bench"):
        if exact:
            rows = out.select("message_id", "n_dropped").collect()
            fwd = [r.message_id for r in rows if r.message_id is not None]
            dropped = int(sum(r.n_dropped or 0 for r in rows))
        else:
            fwd = [r.message_id for r in out.select("message_id").collect()]
        n_input = sum(r for _, r in batches)
        if not exact:
            dropped = n_input - len(fwd)
        for _, sink in runs:
            _drop_sink(spark, sink)
        shutil.rmtree(ckpt, ignore_errors=True)
        failed, summary = model.check(
            inp.msgs.cids, 0, fwd, inp.warm.seeded, n_input, dropped
        )
    commits = file_commits(batches, inp.msgs.file_rows)
    lat = []
    for c, rows in zip(commits, inp.msgs.file_rows):
        if c is None:
            failed += rows
        else:
            lat.append((c - t0) * 1e3)
    data_commits = [batch_commit_s(b) for b, r in batches if r > 0]
    if timed and ctx.tracer.enabled:
        first = min((progress_epoch_s(b["timestamp"]) for b, _ in batches), default=t1)
        ctx.tracer.add("query_start", t0, first, rep.id, "service")
        ctx.tracer.add_batches([b for b, _ in batches], rep.id, ctx.cores)
        if data_commits:
            ctx.tracer.add("drain", max(data_commits), t1, rep.id, "drain")
    lay = batch_layers(batches, len(fwd), n_input, ctx.cores)
    lay["drain.tail_s"] = t1 - max(data_commits) if data_commits else 0.0
    return {
        "wall": t1 - t0, "n": inp.msgs.n, "failed": failed, "lat": lat,
        "layers": lay, "summary": summary, "kernel": kernel_of(batches),
    }


def _measure_bounded(ctx: Ctx, inp: BoundedInput, exact: bool) -> Outcome:
    """Set up, warm up on the input, then time as many bounded runs as fit
    in the run's seconds, and at least one."""
    setups = [setup_cycle(ctx, inp.warm, exact)[0] for _ in range(SETUP_CYCLES)]
    bounded_rep(ctx, inp, exact, timed=False)
    reps = [bounded_rep(ctx, inp, exact)]
    t_end = time.monotonic() - reps[0]["wall"] + ctx.seconds
    while time.monotonic() + reps[-1]["wall"] <= t_end:
        reps.append(bounded_rep(ctx, inp, exact))
    failed = sum(r["failed"] for r in reps)
    layers = merge_layers([r["layers"] for r in reps])
    return Outcome(
        attempted=sum(r["n"] for r in reps),
        failed=failed,
        correct=failed == 0,
        throughput_msg_s=statistics.median(r["n"] / r["wall"] for r in reps),
        latency_ms=[x for r in reps for x in r["lat"]],
        suite_wall_s=statistics.median(r["wall"] for r in reps),
        service_setup_s=setups,
        layers=layers,
        detail={"reps": len(reps), "kernel": reps[0]["kernel"],
                "check": reps[-1]["summary"]},
        warm=inp.warm,
    )


def replay_dup90(ctx: Ctx) -> Outcome:
    """Closed-loop bounded replay, 90% duplicates, default kernel, no
    warm-up."""
    n = 20_000 if ctx.smoke else 150_000
    with ctx.tracer.span("input_gen", ctx.root, "bench"):
        cids = gen.replica_stream(ctx.rng, n, n // 10)
        src = os.path.join(ctx.new_dir("replay"), "events.parquet")
        msgs = gen.write_files(src, cids, 4 if ctx.smoke else 6, ctx.rng)
    return _measure_bounded(ctx, BoundedInput(src, msgs, Warmup()), False)


def exact_ttl(ctx: Ctx) -> Outcome:
    """Closed-loop bounded runs of the exact-TTL service (default kernel
    selection) over unique-heavy input with a warm-up seed set."""
    n = 500 if ctx.smoke else 3_000
    with ctx.tracer.span("input_gen", ctx.root, "bench"):
        warm, in_pool, unseeded = make_warmup(
            ctx, n // 10, n // 50, n // 100, cid_base=10**8
        )
        fresh = gen.replica_stream(ctx.rng, int(n * 0.8), int(n * 0.7))
        recur = ctx.rng.choice(np.concatenate([in_pool, unseeded]), n - len(fresh))
        cids = np.concatenate([fresh, recur])
        ctx.rng.shuffle(cids)
        src = os.path.join(ctx.new_dir("exact"), "events.parquet")
        msgs = gen.write_files(src, cids, 4, ctx.rng)
    return _measure_bounded(ctx, BoundedInput(src, msgs, warm), True)


# ─── open loop: live service under warm-up (live_warm) ────────────────────


class OpenLoopGenerator(threading.Thread):
    """Lands one prepared parquet file per period on a fixed schedule and
    never waits on the service. Each file is written beside the source
    directory and renamed in, so the source never sees a partial file."""

    def __init__(self, tables, stage: str, src: str, period: float, t0: float):
        super().__init__(name="open-loop-generator", daemon=True)
        self.tables, self.stage, self.src = tables, stage, src
        self.period, self.t0 = period, t0
        self.due = [t0 + i * period for i in range(len(tables))]
        self.late_ms: list[float] = []
        self.error: BaseException | None = None

    def run(self):
        try:
            for i, tbl in enumerate(self.tables):
                delay = self.due[i] - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = f"part-{i:05d}.parquet"
                staged = os.path.join(self.stage, name)
                pq.write_table(tbl, staged)
                os.rename(staged, os.path.join(self.src, name))
                self.late_ms.append((time.time() - self.due[i]) * 1e3)
        except BaseException as exc:  # surfaced by the caller after join()
            self.error = exc


def live_warm(ctx: Ctx) -> Outcome:
    """Open loop at a fixed rate against the live service, warmed from a
    prior-output table."""
    spark = ctx.spark
    period = 0.1
    rate = 500 if ctx.smoke else 5_000
    ramp_files = int(round(LIVE_RAMP_S / period))
    n_files = ramp_files + max(10, int(round(ctx.seconds / period)))
    per_file = int(rate * period)
    n_in, n_out, n_bad = (2_000, 100, 50) if ctx.smoke else (20_000, 1_000, 500)
    with ctx.tracer.span("input_gen", ctx.root, "bench"):
        warm, in_pool, unseeded = make_warmup(ctx, n_in, n_out, n_bad, cid_base=10**8)
        # about half of each file re-sends content from the last ~2 s of
        # traffic (crossing file and batch boundaries), a tenth recurs from
        # the warm-up pools, the rest is new content
        n = n_files * per_file
        u = ctx.rng.random(n)
        cids = np.empty(n, dtype=np.int64)
        fresh = 0
        window = int(2 / period) * per_file
        for i in range(n):
            if u[i] < 0.4 or i == 0:
                cids[i] = fresh
                fresh += 1
            elif u[i] < 0.9:
                cids[i] = cids[int(ctx.rng.integers(max(0, i - window), i))]
            elif u[i] < 0.95:
                cids[i] = in_pool[int(ctx.rng.integers(0, len(in_pool)))]
            else:
                cids[i] = unseeded[int(ctx.rng.integers(0, len(unseeded)))]
        ts = gen.LIVE_BASE_US + np.arange(n) * int(1e6 / rate)
        tables = [
            gen.message_table(
                cids[i * per_file:(i + 1) * per_file],
                np.arange(i * per_file, (i + 1) * per_file),
                ts[i * per_file:(i + 1) * per_file], ctx.rng,
            )
            for i in range(n_files)
        ]

    src = os.path.join(ctx.new_dir("live"), "events.parquet")
    os.makedirs(src)
    stage = ctx.new_dir("stage")
    setups = [setup_cycle(ctx, warm, False)[0] for _ in range(SETUP_CYCLES - 1)]
    ready, svc = setup_cycle(ctx, warm, False, keep=True, src=src)
    setups.append(ready)
    run_id = str(svc.query.runId)

    with ctx.tracer.span("live", ctx.root, "driver") as live:
        g = OpenLoopGenerator(tables, stage, src, period, time.time() + 0.05)
        g.start()
        g.join()
        if g.error is not None:
            raise g.error
        deadline = time.time() + LIVE_LIMIT_MS / 1e3 + 10
        while time.time() < deadline:
            got = sum(r for _, r in source_batches(ctx.log.batches(run_id), src))
            if got >= n:
                break
            time.sleep(0.05)
        with ctx.tracer.span("stop", live.id, "drain") as stop:
            svc.stop()
            ctx.log.wait_terminated([run_id])
    batches = source_batches(ctx.log.batches(run_id), src)
    with ctx.tracer.span("check", ctx.root, "bench"):
        fwd = [r.message_id for r in svc.output().select("message_id").collect()]
        _drop_sink(spark, svc.output_table)
        n_input = sum(r for _, r in batches)
        failed, summary = model.check(cids, 0, fwd, warm.seeded, n_input, n_input - len(fwd))

    commits = file_commits(batches, [per_file] * n_files)
    lat, start, last_commit = [], g.due[ramp_files], g.due[ramp_files]
    for i, (c, due) in enumerate(zip(commits, g.due)):
        if c is None:
            failed += per_file
            continue
        ms = (c - due) * 1e3
        if i >= ramp_files:
            lat.append(ms)
            last_commit = max(last_commit, c)
            if ms > LIVE_LIMIT_MS:
                failed += per_file
    if ctx.tracer.enabled:
        ctx.tracer.add_batches([b for b, _ in batches], live.id, ctx.cores)
    wall = last_commit - start
    late_max = max(g.late_ms)
    layers = batch_layers(batches, len(fwd), n_input, ctx.cores)
    layers["gen.late_max_ms"] = late_max
    layers["drain.tail_s"] = stop.end - stop.start
    return Outcome(
        attempted=n,
        failed=failed,
        correct=failed == 0,
        throughput_msg_s=len(lat) * per_file / wall,
        latency_ms=lat,
        suite_wall_s=wall,
        service_setup_s=setups,
        layers=layers,
        detail={"files": n_files, "rate_msg_s": rate, "kernel": kernel_of(batches),
                "check": summary, "gen_late_max_ms": late_max,
                "valid": late_max <= GEN_LATE_LIMIT_MS},
        warm=warm,
    )


# ─── batch: the registry's dedup family ───────────────────────────────────

#: entry → the table it reads
BATCH_ENTRIES = {
    "dedup_exact_keep_first": "events",
    "dedup_counters": "events",
    "near_dup_pairs_verified": "documents",
    "near_dup_clusters": "documents",
    "near_dup_clusters_lss": "documents",
    "jaccard_join_prefix_filtered": "documents",
    "winnow_fingerprints": "documents",
    "simhash_near_dup_pairs": "documents",
    "knn_topk_blockwise": "embeddings",
    "knn_topk_tiled": "embeddings",
}


def batch_dedup(ctx: Ctx) -> Outcome:
    """The registry's batch dedup family over a fixed corpus; each entry is
    materialized through the noop sink. The first pass runs each entry
    against its oracle (untimed; it also warms the JIT)."""
    import duckdb

    import __spark_entry__ as entry
    from tests import oracle_harness

    spark = ctx.spark
    sizes = (300, 200, 3_000) if ctx.smoke else (2_000, 1_000, 30_000)
    with ctx.tracer.span("input_gen", ctx.root, "bench"):
        corpus = ctx.new_dir("corpus")
        gen.write_batch_corpus(corpus, *sizes)
    rows = dict(zip(("documents", "embeddings", "events"), sizes))
    queries, oracles = entry.queries(), entry.oracle_sql()

    con = duckdb.connect()
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    failed, mismatches = 0, {}
    with ctx.tracer.span("oracle_check", ctx.root, "bench"):
        for name in BATCH_ENTRIES:
            try:
                res = oracle_harness.compare(queries[name](spark, corpus), con, oracles[name])
                ok = res["match"]
                if not ok:
                    mismatches[name] = res["first_diff"]
            except Exception as exc:  # a crashing entry is a failed operation
                ok = False
                mismatches[name] = f"{type(exc).__name__}: {exc}"[:300]
            failed += not ok
            spark.catalog.clearCache()
    con.close()

    walls: dict[str, list[float]] = {k: [] for k in BATCH_ENTRIES}
    t_end = time.monotonic() + ctx.seconds
    passes = 0
    while passes == 0 or time.monotonic() < t_end:
        for name in BATCH_ENTRIES:
            with ctx.tracer.span(f"entry.{name}", ctx.root, "operators") as s:
                queries[name](spark, corpus).write.format("noop").mode("overwrite").save()
            walls[name].append(s.end - s.start)
            spark.catalog.clearCache()
        passes += 1
    med = {k: statistics.median(v) for k, v in walls.items()}
    suite = sum(med.values())
    work_rows = sum(rows[t] for t in BATCH_ENTRIES.values())
    layers = {f"entry.{k}_s": v for k, v in med.items()}
    return Outcome(
        attempted=len(BATCH_ENTRIES) * passes,
        failed=failed,
        correct=failed == 0,
        throughput_msg_s=work_rows / suite,
        latency_ms=[x * 1e3 for v in walls.values() for x in v],
        suite_wall_s=suite,
        service_setup_s=[],
        layers=layers,
        detail={"passes": passes, "mismatches": mismatches},
    )


WORKLOADS = {
    "replay_dup90": replay_dup90,
    "live_warm": live_warm,
    "exact_ttl": exact_ttl,
    "batch_dedup": batch_dedup,
}


# ─── probes (traced runs only) ────────────────────────────────────────────


def _noop_stream_s(spark, frame) -> float:
    t = time.perf_counter()
    frame.writeStream.format("noop").trigger(availableNow=True).start().awaitTermination()
    return time.perf_counter() - t


def probe_source_and_digest(ctx: Ctx) -> dict:
    """``events_message_stream`` → noop, with and without the digest
    column, alternated three times over a fixed-size replay; medians."""
    spark = ctx.spark
    n = 20_000 if ctx.smoke else 200_000
    src = os.path.join(ctx.new_dir("probe"), "events.parquet")
    gen.write_files(src, gen.replica_stream(ctx.rng, n, n // 10, cid_base=10**10), 4, ctx.rng)
    plain, hashed = [], []
    with ctx.tracer.span("probe.source_digest", None, "probe"):
        for _ in range(3):
            plain.append(_noop_stream_s(spark, events_message_stream(spark, src)))
            hashed.append(_noop_stream_s(
                spark, events_message_stream(spark, src).withColumn(
                    "digest", message_digest(gen.IGNORED))))
    a, b = statistics.median(plain), statistics.median(hashed)
    return {"source.ingest_msg_s": n / a, "digest.ns_per_msg": (b - a) / n * 1e9}


def probe_warmup(ctx: Ctx, warm: Warmup) -> dict:
    """Time one evaluation of the warm-up seed set, as each micro-batch of
    the default kernel re-evaluates it."""
    if warm.prior_dir is None:
        return {"warmup.seed_eval_s": 0.0, "warmup.seeds": 0.0, "warmup.prior_rows": 0.0}
    spark = ctx.spark
    seeds = warmup_seed_digests(warm.frame(spark), CONFIG, gen.NOW_TS)
    with ctx.tracer.span("probe.warmup_seed_eval", None, "warmup") as s:
        seeds.write.format("noop").mode("overwrite").save()
    n_seeds = seeds.count()
    return {"warmup.seed_eval_s": s.end - s.start, "warmup.seeds": float(n_seeds),
            "warmup.prior_rows": float(warm.n_prior)}
