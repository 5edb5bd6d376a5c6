"""The benchmark workloads. Each returns a Result: the end-to-end metrics
(always), the per-layer metrics (traced runs), the operation counts
behind `failed`/`attempted`, and spans for the trace file.

live_feed      open loop, small batches: per-trigger overhead.
backlog_drain  availableNow drain of Avro values: per-row cost.

Traced live_feed runs also make one pass over the batch twins and
extension operators, oracle-checked (see README.md).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import engine as E
import traffic as TR

SETUPS = 3  # app set-ups per run; setup_s reports their median

# live_feed: the generator's rate and sizes are in traffic.py (LIVE_*).

# backlog_drain: 16,000 changes over 40 days on 20,000 accounts, in 40
# files, 20 files per trigger (two data batches). A warm drain costs
# about 10 s whatever its size (each of the five queries' three or four
# batches) plus about 0.5 ms per change (decode in each query, the
# balance fold over some ten thousand keys, window and session state),
# so at this size the per-change work is about 40% of a drain; a larger
# backlog does not fit the run budget. As many whole drains (each on a
# fresh checkpoint) as fit in the run's seconds run, at least one; their
# median is reported.
DRAIN_ACCOUNTS = 20_000
DRAIN_EVENTS = 16_000
DRAIN_FILES = 40
DRAIN_FILES_PER_TRIGGER = 20
DRAIN_BASE_US = 1_709_251_200_000_000  # 2024-03-01T00:00:00Z
SCHEMA_ID = 17


@dataclass
class Result:
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    spans: list[dict] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def check(self, name: str, expected: int, got: int) -> None:
        """One group of operations: `expected` attempted (at least one),
        |expected - got| of them failed."""
        self.attempted += max(expected, 1)
        miss = abs(expected - got)
        self.failed += miss
        if miss:
            self.info.setdefault("mismatches", {})[name] = {"expected": expected, "got": got}

    def span(self, name: str, start: float, end: float, parent: str | None = None,
             children: list | None = None) -> None:
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent,
                           "children": children or []})


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least q of
    the values at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Ctx:
    def __init__(self, root: str, work: str, seed: int, seconds: float, trace: bool):
        self.root, self.work, self.seed, self.seconds, self.trace = root, work, seed, seconds, trace
        self.spark = None
        self.listener = None
        self.session_s = 0.0
        self.t0, self.phases = time.time(), {}

    def mark(self, phase: str) -> None:
        """Record the run time elapsed at the end of `phase` (run budget)."""
        self.phases[phase] = round(time.time() - self.t0, 2)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_spark(self, master: str | None = None) -> None:
        t0 = time.time()
        self.spark = E.start_session(self.work, master)
        self.session_s = time.time() - t0
        if self.trace:
            self.listener = E.progress_listener()
            self.spark.streams.addListener(self.listener)


# -- shared streaming pieces ------------------------------------------------


def _accounts_df(ctx: Ctx, tr: TR.Traffic):
    from cdc_stream_processor_spark import cdc, schemas

    path = ctx.path("inputs", "accounts.parquet")
    TR.write_envelopes(path, tr.account_envelopes(),
                       pa.schema(TR.arrow_schema(schemas.ACCOUNT_ENVELOPE)))
    return cdc.parse_accounts(ctx.spark.read.schema(schemas.ACCOUNT_ENVELOPE).parquet(path))


def _setups(ctx: Ctx, envelopes, accounts, available_now: bool, tag: str):
    """SETUPS times: start the app on a fresh checkpoint and wait until
    every flow has committed its first batch. All but the last app are
    stopped; returns (ready times, last app, its checkpoint).
    The first start in a fresh JVM is cold (class loading, JIT, Python
    workers); it is reported as lifecycle.cold_start_s."""
    ready = []
    for i in range(SETUPS):
        ckpt = ctx.dir("ckpt", f"{tag}{i}")
        t0 = time.time()
        sup = E.start_app(ctx.spark, envelopes, accounts, ckpt, available_now)
        t1 = E.wait_first_commits(ckpt, time.time() + 120)
        if t1 is None:
            raise RuntimeError(f"set-up {i}: not every flow committed a first batch: {E.failures(sup)}")
        ready.append(t1 - t0)
        if i < SETUPS - 1:
            E.stop_queries(ctx.spark)
    return ready, sup, ckpt


def _own_events(ctx: Ctx, sups: list, ckpt: str) -> list[dict]:
    """The listener's progress events of the given apps' queries, once
    the listener bus has delivered the last committed batch of each
    flow in `ckpt` (events arrive asynchronously)."""
    ids = {s["id"] for sup in sups for s in sup.status().values()}
    last = {f: max(E.committed(ckpt, f)) for f in E.FLOWS}
    events: list[dict] = []
    deadline = time.time() + 10
    while True:
        events += [p for p in ctx.listener.take() if p.get("id") in ids]
        seen = {f: max((p["batchId"] for p in events if p["name"] == f), default=-1) for f in E.FLOWS}
        if all(seen[f] >= last[f] for f in E.FLOWS) or time.time() > deadline:
            return events
        time.sleep(0.05)


def _ts(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _stream_layers(res: Result, events: list[dict], offered_rows: int,
                   parents: dict[tuple[str, int], str]) -> None:
    """Per-layer metrics and micro-batch spans from the progress events of
    the measured app (totals over its life)."""
    by_flow: dict[str, list[dict]] = {f: [] for f in E.FLOWS}
    for p in events:
        by_flow[p["name"]].append(p)
    total_in = 0
    plan = commit = offset = 0.0
    for f, ps in by_flow.items():
        total_in += sum(p.get("numInputRows", 0) for p in ps)
        dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in ps)  # noqa: E731
        res.layers[f"flow.{f}.add_batch_ms"] = (dur("addBatch"), "ms")
        res.layers[f"flow.{f}.batches"] = (len(ps), "count")
        plan += dur("queryPlanning")
        commit += dur("walCommit") + dur("commitOffsets")
        offset += dur("latestOffset") + dur("getBatch")
        if f in E.STATEFUL:
            ops = [p.get("stateOperators", []) for p in ps]
            tot = lambda k: sum(op.get(k) or 0 for o in ops for op in o)  # noqa: E731
            res.layers[f"state.{f}.update_ms"] = (tot("allUpdatesTimeMs"), "ms")
            res.layers[f"state.{f}.commit_ms"] = (tot("commitTimeMs"), "ms")
            res.layers[f"state.{f}.dropped_by_watermark"] = (tot("numRowsDroppedByWatermark"), "count")
            last = ops[-1] if ops else []
            res.layers[f"state.{f}.rows_total"] = (sum(op.get("numRowsTotal") or 0 for op in last), "count")
            res.layers[f"state.{f}.memory_bytes"] = (
                max((sum(op.get("memoryUsedBytes") or 0 for op in o) for o in ops), default=0), "bytes")
    res.layers["sources.read_amplification"] = (total_in / max(offered_rows, 1), "ratio")
    res.layers["sources.offset_ms"] = (offset, "ms")
    res.layers["lifecycle.planning_ms"] = (plan, "ms")
    res.layers["lifecycle.commit_ms"] = (commit, "ms")
    res.layers["lifecycle.batches"] = (len(events), "count")
    for p in events:
        start, durs = _ts(p["timestamp"]), p.get("durationMs", {})
        children, t = [], start
        for ph in E.PHASES:
            if ph in durs:
                children.append({"name": ph, "start": t, "end": t + durs[ph] / 1000})
                t += durs[ph] / 1000
        res.span(f"batch:{p['name']}:{p['batchId']}", start,
                 start + durs.get("triggerExecution", 0) / 1000,
                 parents.get((p["name"], p["batchId"])), children)


def _queue_wait(res: Result, events: list[dict], commits: dict, avail: dict[str, float]) -> None:
    """Median wait from a file being available to the start of the
    micro-batch that read it, over (file, flow) pairs."""
    starts = {(p["name"], p["batchId"]): _ts(p["timestamp"]) for p in events}
    waits = [1000 * (starts[(q, commits[q][n][0])] - t)
             for n, t in avail.items() for q in E.FLOWS
             if n in commits[q] and (q, commits[q][n][0]) in starts]
    res.layers["lifecycle.queue_wait_ms"] = (statistics.median(waits) if waits else 0.0, "ms")


def _file_latencies(commits: dict, avail: dict[str, float]) -> tuple[list[float], int]:
    """Per file: ms from availability to the commit of the last flow's
    batch that read it; and the count of (file, flow) pairs never
    committed."""
    lat, missing = [], 0
    for n, t in avail.items():
        done = [commits[q].get(n) for q in E.FLOWS]
        missing += sum(d is None for d in done)
        if all(done):
            lat.append(1000 * (max(c for _, c in done) - t))
    return lat, missing


def _end_to_end(res: Result, lat: list[float], events: int, seconds: float, rss,
                heap_mb: float) -> None:
    res.metrics["latency_p50_ms"] = (pct(lat, 0.5) if lat else float("nan"), "ms")
    res.metrics["latency_p75_ms"] = (pct(lat, 0.75) if lat else float("nan"), "ms")
    res.metrics["throughput_eps"] = (events / seconds if seconds > 0 else float("nan"), "1/s")
    res.metrics["heap_retained_mb"] = (heap_mb, "MB")
    res.layers["jvm.peak_rss_mb"] = (rss.jvm_peak_mb, "MB")
    res.layers["python.workers_peak_mb"] = (rss.workers_peak_mb, "MB")
    res.info["latency_samples"] = len(lat)
    res.info["latency_ms"] = [round(x) for x in lat]


def _restarts(res: Result, sups: list) -> None:
    res.check("no_restarts", 0, sum(E.restarts(s) + len(E.failures(s)) for s in sups))
    res.layers["lifecycle.restarts"] = (float(sum(E.restarts(s) for s in sups)), "count")


# -- live_feed ---------------------------------------------------------------


def live_feed(ctx: Ctx) -> Result:
    from cdc_stream_processor_spark import schemas
    from cdc_stream_processor_spark.streaming import pipelines as SP

    res = Result()
    start_us = int(time.time() * TR.US_PER_S)
    tr = TR.Traffic(ctx.seed, TR.LIVE_ACCOUNTS)
    snap = TR.snapshot(tr, start_us, TR.LIVE_SNAPSHOT)
    feed = ctx.dir("feed")
    TR.write_envelopes(os.path.join(feed, "snapshot.parquet"), snap,
                       pa.schema(TR.arrow_schema(schemas.TRANSACTION_ENVELOPE)))

    ctx.mark("inputs")
    ctx.start_spark()
    ctx.mark("session")
    accounts = _accounts_df(ctx, tr)
    with E.RssSampler(E.jvm_pid()) as rss:
        ready, sup, ckpt = _setups(ctx, SP.read_file_envelopes(ctx.spark, feed), accounts,
                                   False, "live")
        ctx.mark("setups")
        res.metrics["setup_s"] = (ctx.session_s + statistics.median(ready), "s")
        res.layers["lifecycle.cold_start_s"] = (ready[0], "s")
        gc0 = E.gc_ms(ctx.spark)
        manifest = ctx.path("live-manifest.json")
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "traffic.py"),
             "live", "--dir", feed, "--manifest", manifest, "--seed", str(ctx.seed),
             "--start-us", str(start_us), "--seconds", str(ctx.seconds)],
            cwd=ctx.root)
        try:
            gen.wait(timeout=ctx.seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"traffic generator exited with {gen.returncode}")
        ctx.mark("feed")
        with open(manifest) as fh:
            man = json.load(fh)
        published = {f["name"]: f["published"] for f in man["files"]}
        E.wait_files_committed(ckpt, set(published), time.time() + 60)
        gc_ms = E.gc_ms(ctx.spark) - gc0
        heap_mb = E.heap_retained_mb(ctx.spark)
        ctx.mark("drained")

    commits = {f: E.file_commits(ckpt, f) for f in E.FLOWS}
    lat, missing = _file_latencies(commits, published)
    n_events = sum(f["events"] for f in man["files"])
    last_commit = max(t for c in commits.values() for _, t in c.values())
    _end_to_end(res, lat, n_events, last_commit - man["files"][0]["due"], rss, heap_mb)
    res.info.update(generator={k: man[k] for k in ("late_p50_ms", "late_max_ms")},
                    files=len(published),
                    offered_eps=n_events / (man["files"][-1]["due"] - man["files"][0]["due"]))

    # correctness, outside the timed region
    res.check("file_commits", len(published) * len(E.FLOWS), len(published) * len(E.FLOWS) - missing)
    rows = {f: E.sink_rows(ctx.spark, f) for f in E.FLOWS}
    truth = TR.ground_truth(snap)
    for f in man["files"]:
        for k in ("events", "high_value", "balance"):
            truth[k] += f[k]
    res.check("high_value_count", truth["high_value"], len(rows["high_value"]))
    res.check("balance_count", truth["balance"], len(rows["balance"]))
    for f in E.FLOWS:
        res.check(f"{f}_emits", 1, min(1, len(rows[f])))
        res.layers[f"flow.{f}.notifications"] = (len(rows[f]), "count")
    _restarts(res, [sup])
    ctx.mark("checks")

    if ctx.trace:
        events = _own_events(ctx, [sup], ckpt)
        parents = {(q, b): f"tick:{n}" for q in E.FLOWS
                   for n, (b, _) in sorted(commits[q].items()) if n in published}
        _stream_layers(res, events, truth["events"], parents)
        _queue_wait(res, events, commits, published)
        res.layers["jvm.gc_ms"] = (gc_ms, "ms")
        for f in man["files"]:
            res.span(f"tick:{f['name']}", f["due"], f["published"])
    E.stop_queries(ctx.spark)
    if ctx.trace:
        _batch_pass(ctx, res)
    return res


# -- backlog_drain -----------------------------------------------------------


def _write_backlog(ctx: Ctx, envs: list[dict], schema_json: dict) -> tuple[str, list[str]]:
    """Confluent-framed Avro values in one parquet `value` column, split
    into DRAIN_FILES files whose mtimes follow arrival order (the file
    source reads oldest first)."""
    from cdc_stream_processor_spark.sources.avro_codec import encode_record

    d = ctx.dir("backlog")
    per = -(-len(envs) // DRAIN_FILES)
    names, t0 = [], time.time() - 3600
    for i in range(DRAIN_FILES):
        vals = [encode_record(schema_json, e, confluent_schema_id=SCHEMA_ID)
                for e in envs[i * per:(i + 1) * per]]
        name = f"part-{i:04d}.parquet"
        pq.write_table(pa.table({"value": pa.array(vals, pa.binary())}), os.path.join(d, name))
        os.utime(os.path.join(d, name), (t0 + i, t0 + i))
        names.append(name)
    return d, names


def _avro_envelopes(spark, path: str, schema_json: dict):
    """The drain source: the backlog's framed values decoded through the
    schema registry path, maxFilesPerTrigger files per micro-batch."""
    from cdc_stream_processor_spark import schemas
    from cdc_stream_processor_spark.sources import schema_registry as SR

    raw = (spark.readStream.schema("value binary")
           .option("maxFilesPerTrigger", DRAIN_FILES_PER_TRIGGER).parquet(path))
    registry = SR.DictSchemaRegistry({SCHEMA_ID: json.dumps(schema_json)})
    return raw, SR.envelopes_from_avro_registry(raw, registry, schemas.TRANSACTION_ENVELOPE)


def _finish_drain(sup, ckpt: str, names: list[str]):
    """Wait for an availableNow app to end. The drain runs from the first
    micro-batch (the first offsets-log write of the five flows; starting
    the queries is set-up) to the last commit. Returns (drain start,
    drain seconds, per-file latencies from the start, checkpoint
    commits)."""
    sup.await_all(timeout_s=150.0, poll_s=0.05)
    start = E.first_batch_start(ckpt)
    commits = {f: E.file_commits(ckpt, f) for f in E.FLOWS}
    lat, missing = _file_latencies(commits, dict.fromkeys(names, start))
    if missing:
        raise RuntimeError(f"drain incomplete ({missing} file reads missing): {E.failures(sup)}")
    end = max(max(E.committed(ckpt, f).values()) for f in E.FLOWS)
    return start, end - start, lat, commits


def backlog_drain(ctx: Ctx) -> Result:
    from cdc_stream_processor_spark import schemas

    res = Result()
    tr = TR.Traffic(ctx.seed, DRAIN_ACCOUNTS)
    envs = TR.backlog(tr, DRAIN_BASE_US, DRAIN_EVENTS)
    schema_json = TR.avro_schema(schemas.TRANSACTION_ENVELOPE)
    path, names = _write_backlog(ctx, envs, schema_json)
    warm = ctx.dir("warmup")
    shutil.copy2(os.path.join(path, names[0]), warm)

    ctx.mark("inputs")
    ctx.start_spark()
    ctx.mark("session")
    accounts = _accounts_df(ctx, tr)
    stream = _avro_envelopes(ctx.spark, path, schema_json)[1]
    drains, lat, sups = [], [], []
    with E.RssSampler(E.jvm_pid()) as rss:
        # set-ups on a copy of the first backlog file
        ready, sup, _ = _setups(ctx, _avro_envelopes(ctx.spark, warm, schema_json)[1], accounts,
                                True, "setup")
        E.stop_queries(ctx.spark)
        ctx.mark("setups")
        res.metrics["setup_s"] = (ctx.session_s + statistics.median(ready), "s")
        res.layers["lifecycle.cold_start_s"] = (ready[0], "s")
        gc0 = E.gc_ms(ctx.spark)
        t_begin = time.time()
        while not drains or time.time() - t_begin + drains[-1] <= ctx.seconds:
            ckpt = ctx.dir("ckpt", f"drain{len(drains)}")
            sup = E.start_app(ctx.spark, stream, accounts, ckpt, True)
            t0, secs, file_lat, commits = _finish_drain(sup, ckpt, names)
            sups.append(sup)
            drains.append(secs)
            lat += file_lat
        gc_ms = (E.gc_ms(ctx.spark) - gc0) / len(drains)
        heap_mb = E.heap_retained_mb(ctx.spark)
        ctx.mark("drains")
    n = len(envs)
    _end_to_end(res, lat, n, statistics.median(drains), rss, heap_mb)
    res.info.update(drain_s=drains, backlog_envelopes=n)

    _check_drain(ctx, res, envs, accounts)
    _restarts(res, sups)
    ctx.mark("checks")

    if ctx.trace:
        events = _own_events(ctx, sups[-1:], ckpt)
        _stream_layers(res, events, n, {})
        _queue_wait(res, events, commits, dict.fromkeys(names, t0))
        res.layers["jvm.gc_ms"] = (gc_ms, "ms")
        # prefixes on the first trigger's worth of files, to bound the run
        part = ctx.dir("prefix-input")
        for name in names[:DRAIN_FILES_PER_TRIGGER]:
            shutil.copy2(os.path.join(path, name), part)
        _prefix_spans(ctx, res, *_avro_envelopes(ctx.spark, part, schema_json), accounts)
        _single_core(ctx, res, path, schema_json, names, tr, n)
    return res


def _check_drain(ctx: Ctx, res: Result, envs: list[dict], accounts) -> None:
    """Each flow's emitted keys and windows against the operators.pipelines
    batch twins on the same changes. Keys a late change could touch are
    left out on both sides: whether Spark drops a late change depends on
    where the batch boundaries fall, which the twins do not model."""
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark import cdc, schemas
    from cdc_stream_processor_spark.operators import pipelines as P

    cfg = E.app_config()
    late = [e["after"] for e in envs if TR.is_late(e)]
    late_min = {(int(a["ACCOUNT_ID"]), a["INITIATED_AT"] // 60_000_000 * 60_000) for a in late}
    late_day = {(int(a["ACCOUNT_ID"]), _utc_day(a["INITIATED_AT"] // 1000)) for a in late}
    late_acct = {int(a["ACCOUNT_ID"]) for a in late}

    path = ctx.path("inputs", "twin.parquet")
    on_time = [e for e in envs if not TR.is_late(e)]
    TR.write_envelopes(path, on_time, pa.schema(TR.arrow_schema(schemas.TRANSACTION_ENVELOPE)))
    txns = cdc.parse_transactions(ctx.spark.read.schema(schemas.TRANSACTION_ENVELOPE).parquet(path))
    w_final = max(TR.initiated_at(e) for e in on_time) // 1000

    rows = {f: [(int(r.key), json.loads(r.value)) for r in E.sink_rows(ctx.spark, f)]
            for f in E.FLOWS}
    for f, r in rows.items():
        res.layers[f"flow.{f}.notifications"] = (len(r), "count")
        res.check(f"{f}_emits", 1, min(1, len(r)))

    ms = lambda c: F.unix_millis(F.col(c))  # noqa: E731
    twin = {
        "fraud": {(r[0], r[1]) for r in P.transaction_velocity(
            txns, window=f"{cfg.velocity_window_seconds} seconds", max_txns=cfg.velocity_max_txns)
            .select("account_id", ms("window_start")).collect()} - late_min,
        "high_value": {tuple(r) for r in P.high_value_alerts(txns, accounts, threshold=cfg.high_value_ngn)
                       .select("account_id", "transaction_ref", "severity").collect()},
        "daily_spend": {(r[0], _utc_day(r[1])) for r in P.daily_spend(txns, threshold=cfg.daily_spend_ngn)
                        .select("account_id", ms("window_start")).collect()} - late_day,
    }
    # fraud and daily_spend emit updates: one (key, window) can repeat
    got = {
        "fraud": {(k, int(v["metadata"]["windowStartMs"])) for k, v in rows["fraud"]} - late_min,
        "high_value": {(k, v["metadata"]["transactionRef"], v["severity"]) for k, v in rows["high_value"]},
        "daily_spend": {(k, v["metadata"]["date"]) for k, v in rows["daily_spend"]} - late_day,
    }
    for f in twin:
        res.check(f, len(twin[f]), len(twin[f]) - len(twin[f] ^ got[f]))

    bal_twin = Counter((r[0], r[1], round(r[2], 4), r[3]) for r in P.balance_reconciliation_batch(txns)
                       .select("account_id", "severity", "discrepancy", "balance_after").collect())
    bal_got = Counter((k, v["severity"], round(float(v["metadata"]["discrepancy"]), 4),
                       float(v["metadata"]["balanceAfter"])) for k, v in rows["balance"])
    n_bal = sum(bal_twin.values())
    res.check("balance", n_bal, n_bal - sum(((bal_twin - bal_got) + (bal_got - bal_twin)).values()))

    # dormancy emits a session once the watermark passes its end; sessions
    # ending within a day of the final watermark may or may not be out yet
    dorm = P.dormancy_candidates(txns, gap=f"{cfg.dormancy_days} days").select(
        "account_id", ms("session_start"), ms("session_end")).collect()
    closed = {(r[0], r[1]) for r in dorm if r[0] not in late_acct and r[2] <= w_final - 86_400_000}
    every = {(r[0], r[1]) for r in dorm if r[0] not in late_acct}
    got_d = {(k, int(v["metadata"]["sessionStart"])) for k, v in rows["dormancy"] if k not in late_acct}
    res.check("dormancy", len(closed), len(closed) - len(closed - got_d) - len(got_d - every))


def _utc_day(ms: int) -> str:
    return time.strftime("%Y-%m-%d", time.gmtime(ms / 1000))


def _prefix_spans(ctx: Ctx, res: Result, raw, envelopes, accounts) -> None:
    """Prefix materialization on the drain input: read -> decode -> parse
    -> each flow, each prefix drained alone as one availableNow query to
    the noop sink. A layer's self time is its prefix minus the prefix
    before it."""
    from cdc_stream_processor_spark import cdc
    from cdc_stream_processor_spark.__main__ import build_pipelines

    def run(name, df, mode, parent):
        t0 = time.time()
        q = (df.writeStream.queryName(f"prefix_{name}").format("noop").outputMode(mode)
             .option("checkpointLocation", ctx.dir("ckpt", f"prefix-{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(150)
        q.stop()
        res.span(f"prefix:{name}", t0, time.time(), parent)
        if name == "parse":
            res.layers["cdc.rows_out"] = (float(sum(
                json.loads(p.json)["sink"].get("numOutputRows", 0) for p in q.recentProgress)), "count")
        return time.time() - t0

    t_read = run("read", raw, "append", None)
    t_dec = run("decode", envelopes, "append", "prefix:read")
    t_parse = run("parse", cdc.parse_transactions(envelopes), "append", "prefix:decode")
    res.layers["sources.decode_s"] = (max(t_dec - t_read, 0.0), "s")
    res.layers["cdc.parse_s"] = (max(t_parse - t_dec, 0.0), "s")
    for f, (df, mode) in build_pipelines(envelopes, accounts, E.app_config()).items():
        res.layers[f"flow.{f}.self_s"] = (max(run(f, df, mode, "prefix:parse") - t_parse, 0.0), "s")


def _single_core(ctx: Ctx, res: Result, path: str, schema_json: dict, names: list[str],
                 tr: TR.Traffic, n: int) -> None:
    """The same drain on local[1]: the single-threaded baseline."""
    E.stop_session(ctx.spark, kill_jvm=False)
    ctx.start_spark(master="local[1]")
    accounts = _accounts_df(ctx, tr)
    ckpt = ctx.dir("ckpt", "one-core")
    sup = E.start_app(ctx.spark, _avro_envelopes(ctx.spark, path, schema_json)[1], accounts,
                      ckpt, True)
    secs = _finish_drain(sup, ckpt, names)[1]
    E.stop_queries(ctx.spark)
    res.layers["baseline.drain_eps_1core"] = (n / secs, "1/s")
    res.layers["baseline.scaling_ratio"] = (res.metrics["throughput_eps"][0] / (n / secs), "ratio")


# -- batch pass (traced live_feed) -------------------------------------------

# the fifteen CDC batch twins, plus the most expensive query (by the
# committed sf0.1 sweep) of three other registries
BATCH_EXTRAS = {
    "queries_relational": "basket_size_distribution",
    "queries_tpch": "promo_revenue",
    "queries_linkage": "er_match_pairs",
}


def batch_queries() -> dict[str, str]:
    """query name -> registry module, in run order."""
    from cdc_stream_processor_spark import queries as Q

    out = dict.fromkeys(Q.CDC_QUERIES, "queries")
    out.update({q: m for m, q in BATCH_EXTRAS.items()})
    return out


def _oracle_check(res: Result, name: str, rows: list, cols: list[str], con, sql: str) -> None:
    """Row count and order-insensitive value multiset against the DuckDB
    oracle, normalized as tools/oracle_check.py does."""
    from oracle_check import norm

    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    got = Counter(tuple(norm(r[i]) for i in order) for r in rows)
    ddf = con.execute(sql).fetch_arrow_table()
    dcols = sorted(ddf.column_names, key=str.lower)
    want = Counter(tuple(norm(r[c]) for c in dcols) for r in ddf.to_pylist())
    same = [c.lower() for c in dcols] == sorted(c.lower() for c in cols) and got == want
    res.check(f"oracle:{name}", 1, int(same))


def _batch_pass(ctx: Ctx, res: Result) -> None:
    """One pass over batch_queries() on seeded tables: each query's
    result collected and timed, then checked against its oracle_sql()
    twin in DuckDB. Fills the batch.* and cdc.* layers."""
    import duckdb

    import tables as TB

    sys.path.insert(0, os.path.join(ctx.root, "tools"))
    import __spark_entry__ as entry

    data = ctx.dir("tables")
    res.info["table_rows"] = TB.generate(data, ctx.seed)
    qs, oracles, names = entry.queries(), entry.oracle_sql(), batch_queries()
    results: dict[str, tuple[list, list[str]] | Exception] = {}
    per_query: dict[str, float] = {}
    p0 = time.time()
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](ctx.spark, data)
            results[name] = (df.collect(), df.columns)
        except Exception as e:  # noqa: BLE001 - a raising query is a failed operation
            results[name] = e
        per_query[name] = time.time() - t0
        ctx.spark.catalog.clearCache()
        res.span(f"query:{name}", t0, t0 + per_query[name], "pass")
    suite_s = time.time() - p0
    res.span("pass", p0, p0 + suite_s)

    con = duckdb.connect()
    for t in TB.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for name, r in results.items():
        if isinstance(r, Exception):
            res.check(f"oracle:{name}", 1, 0)
            res.info.setdefault("errors", {})[name] = str(r)[:300]
        else:
            _oracle_check(res, name, r[0], r[1], con, oracles[name])
    con.close()

    modules: dict[str, float] = {}
    for name, mod in names.items():
        res.layers[f"batch.{name}_s"] = (per_query[name], "s")
        modules[mod] = modules.get(mod, 0.0) + per_query[name]
    for mod, s in modules.items():
        res.layers[f"batch.{mod}_s"] = (s, "s")
    res.layers["batch.suite_s"] = (suite_s, "s")
    if "cdc.parse_s" not in res.layers:
        _parse_spans(ctx, res, data)


def _parse_spans(ctx: Ctx, res: Result, data: str) -> None:
    """Prefix materialization of the batch CDC path: events -> envelopes
    (sources.cdc_sim) -> cdc.parse_transactions, to the noop sink."""
    from cdc_stream_processor_spark import cdc
    from cdc_stream_processor_spark.sources import batch as B
    from cdc_stream_processor_spark.sources import cdc_sim

    def run(name, df, parent):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        res.span(f"prefix:{name}", t0, time.time(), parent)
        return time.time() - t0

    envs = cdc_sim.transaction_envelopes_from_events(B.load_table(ctx.spark, data, "events"))
    txns = cdc.parse_transactions(envs)
    t_env = run("envelopes", envs, None)
    res.layers["cdc.parse_s"] = (max(run("parse", txns, "prefix:envelopes") - t_env, 0.0), "s")
    res.layers["cdc.rows_out"] = (float(txns.count()), "count")
