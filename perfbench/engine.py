"""Driving the shipped application from outside: Spark session lifetime,
composing `__main__.build_app` over a file source, reading the
checkpoint's offset/commit/source logs, and the probes a run records
(process RSS, JVM GC time, streaming progress spans).

Nothing here reaches inside the program: it calls its public functions
and reads what Spark writes to the checkpoint and the listener bus.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

FLOWS = ("fraud", "high_value", "balance", "dormancy", "daily_spend")
STATEFUL = ("fraud", "balance", "dormancy", "daily_spend")
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def prepare_env(root: str, work: str, cpus: int) -> None:
    """Environment the JVM and its Python workers inherit. The checkout
    goes on PYTHONPATH: pandas-UDF tasks unpickle functions from the
    program's modules in fresh worker processes. Scratch space stays
    inside the run's work directory."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (spark-submit's launcher too): no HotSpot perf-data file,
    # which goes to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"


def start_session(work: str, master: str | None = None):
    from cdc_stream_processor_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=master,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, kill_jvm: bool = True) -> None:
    """Stop the SparkContext; with kill_jvm also shut the py4j gateway and
    wait for the JVM process (and with it the Python workers) to end."""
    from pyspark import SparkContext

    stop_queries(spark)
    spark.stop()
    if not kill_jvm:
        return
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - a hung JVM must still go
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def heap_retained_mb(spark) -> float:
    """JVM heap in use after a full collection: what the app keeps (state
    stores, sinks, source logs, caches), independent of when the
    collector last ran. The least of a few collections, so a micro-batch
    running at one of them does not count its working objects."""
    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        used.append(mem.getHeapMemoryUsage().getUsed())
        time.sleep(0.3)
    return min(used) / 2**20


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


# -- the application -------------------------------------------------------


def app_config():
    from cdc_stream_processor_spark.__main__ import AppConfig

    return AppConfig(health_port=0)


def start_app(spark, envelopes, accounts, ckpt: str, available_now: bool):
    """The app exactly as `python -m cdc_stream_processor_spark` wires it:
    five flows over one parsed stream, memory sinks, supervised."""
    from cdc_stream_processor_spark.__main__ import build_app

    sup = build_app(spark, app_config(), envelopes, accounts, ckpt,
                    sink_format="memory", available_now=available_now)
    sup.start_all()
    return sup


def stop_queries(spark) -> None:
    """Stop every active query concurrently (each stop waits for its
    query's running batch, so stopping one after another adds up)."""
    from concurrent.futures import ThreadPoolExecutor

    queries = spark.streams.active
    with ThreadPoolExecutor(max_workers=max(len(queries), 1)) as pool:
        for f in [pool.submit(q.stop) for q in queries]:
            f.result()


def sink_rows(spark, flow: str) -> list:
    return spark.sql(f"SELECT key, value FROM {flow}").collect()


def restarts(sup) -> int:
    return sum(s["restarts"] for s in sup.status().values())


def failures(sup) -> list[str]:
    return [n for n, s in sup.status().items() if s["exception"]]


# -- checkpoint logs -------------------------------------------------------


def _log_entries(path: str) -> list[str]:
    with open(path) as fh:
        lines = fh.read().splitlines()
    return lines[1:]  # drop the version header


def committed(ckpt: str, flow: str) -> dict[int, float]:
    """batch id -> commit time (mtime of commits/<id>, written at commit)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, flow, "commits", "[0-9]*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime
    return out


def log_offsets(ckpt: str, flow: str) -> dict[int, int]:
    """batch id -> file-source log offset the batch read up to."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, flow, "offsets", "[0-9]*")):
        name = os.path.basename(p)
        if not name.isdigit():
            continue
        lines = _log_entries(p)
        if len(lines) >= 2:
            out[int(name)] = json.loads(lines[1])["logOffset"]
    return out


def source_files(ckpt: str, flow: str) -> dict[str, int]:
    """file name -> file-source log batch that listed it (compacted logs
    included)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, flow, "sources", "0", "*")):
        base = os.path.basename(p).split(".")[0]
        if not base.isdigit():
            continue
        for line in _log_entries(p):
            e = json.loads(line)
            out[os.path.basename(e["path"])] = e["batchId"]
    return out


def file_commits(ckpt: str, flow: str) -> dict[str, tuple[int, float]]:
    """file name -> (query batch id, commit time) of the micro-batch that
    consumed it; files not yet covered by a committed batch are absent."""
    commits = committed(ckpt, flow)
    offsets = sorted((off, b) for b, off in log_offsets(ckpt, flow).items() if b in commits)
    out = {}
    for name, src_batch in source_files(ckpt, flow).items():
        for off, b in offsets:
            if src_batch <= off:
                out[name] = (b, commits[b])
                break
    return out


def first_batch_start(ckpt: str) -> float:
    """Earliest offsets/0 write over the five flows: when the first
    micro-batch had planned its input."""
    return min(os.stat(os.path.join(ckpt, f, "offsets", "0")).st_mtime for f in FLOWS)


def wait_first_commits(ckpt: str, deadline: float) -> float | None:
    """Latest commits/0 time over the five flows, once all exist."""
    while time.time() < deadline:
        times = [committed(ckpt, f).get(0) for f in FLOWS]
        if all(t is not None for t in times):
            return max(times)
        time.sleep(0.02)
    return None


def wait_files_committed(ckpt: str, names: set[str], deadline: float) -> bool:
    while time.time() < deadline:
        if all(names <= set(file_commits(ckpt, f)) for f in FLOWS):
            return True
        time.sleep(0.1)
    return False


# -- probes ----------------------------------------------------------------


class RssSampler:
    """Samples every `period` s the RSS of the JVM and the summed RSS of
    every process below it (the Python daemon and workers); keeps the
    peak of each."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid, self.period = pid, period
        self.jvm_peak_mb = self.workers_peak_mb = 0.0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._t = threading.Thread(target=self._run, daemon=True)

    def _rss_mb(self, pid: int) -> float:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page / 2**20
        except (OSError, IndexError, ValueError):
            return 0.0

    def _descendants(self) -> set[int]:
        parents: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parents[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = set(), [self.pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parents.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        return tree

    def _run(self) -> None:
        while not self._stop.is_set():
            self.jvm_peak_mb = max(self.jvm_peak_mb, self._rss_mb(self.pid))
            workers = sum(self._rss_mb(p) for p in self._descendants())
            self.workers_peak_mb = max(self.workers_peak_mb, workers)
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


def host_snapshot(own_jvm: int | None) -> dict:
    """nproc, load average and the other JVMs running on the host."""
    others = 0
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == own_jvm:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                exe = fh.read().split(b"\0", 1)[0]
        except OSError:
            continue
        others += os.path.basename(exe) == b"java"
    return {"nproc": os.cpu_count(), "cpus": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()), "other_jvms": others}


def progress_listener():
    """A StreamingQueryListener keeping every progress event in memory."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = json.loads(event.progress.json)
            with self._lock:
                self.events.append(p)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def take(self) -> list[dict]:
            with self._lock:
                out, self.events = self.events, []
            return out

    return Recorder()
