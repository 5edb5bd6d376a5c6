"""Composed application entry point — `python -m cdc_stream_processor_spark`.

Reference parity: ABBankStreamsApp.java:37-89 boots ONE process that wires
the five notification pipelines (velocity fraud, high-value alert, balance
reconciliation, dormancy, daily spend), a supervising restart policy
(ABBankStreamsApp.java:55-59 REPLACE_THREAD), and a health HTTP server
(HealthServer.java, ABBankStreamsApp.java:78-79). Configuration mirrors
application.conf's `abbank.thresholds` block with the SAME environment
override names (application.conf:34-59):

  ABBANK_HIGH_VALUE_THRESHOLD_NGN  (default 500000)
  ABBANK_VELOCITY_MAX_TXN          (default 5)
  ABBANK_VELOCITY_WINDOW_SEC       (default 60)
  ABBANK_DORMANCY_DAYS             (default 30)
  ABBANK_DAILY_SPEND_ALERT_NGN     (default 1000000)
  HEALTH_PORT                      (default 8080; 0 = ephemeral)
  KAFKA_BOOTSTRAP_SERVERS          (default localhost:9092)

Source modes:
  --source file  (default) — envelope parquet/json directory streamed with
                 FileStreamSource; `--simulate-from <sf_dir>` materializes a
                 deterministic envelope feed + static accounts from the
                 testdata tables first (sources.cdc_sim), so the demo runs
                 with zero external infrastructure.
  --source kafka — the reference's deployment shape: Debezium envelopes on
                 XEPDB1.BANKDB.TRANSACTIONS (streaming/pipelines.py topics),
                 notifications to the five abbank.notifications.* topics.
                 Requires the spark-sql-kafka package on the classpath.

`--available-now` drains all available input and exits (demo / integration
tests); without it the app runs until SIGINT, supervising restarts like the
reference's uncaught-exception handler.

Scale note: the app only COMPOSES; every pipeline body is the shared
column-expression code the batch twins run (operators/pipelines.py), so the
plans are identical to the oracle-checked ones — watermark-bounded state,
partial-agged windows, broadcast-able static enrich side.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from cdc_stream_processor_spark import cdc
from cdc_stream_processor_spark.streaming import pipelines as SP
from cdc_stream_processor_spark.streaming.lifecycle import (
    PipelineSupervisor,
    serve_health,
)


def _env_num(name: str, default: float) -> float:
    raw = os.environ.get(name)
    if raw is None or raw == "":
        return default
    try:
        return float(raw)
    except ValueError:
        raise ValueError(
            f"invalid value for {name}: {raw!r} (expected a number)"
        ) from None


@dataclass
class AppConfig:
    """application.conf:34-59 analog — env-overridable thresholds."""

    high_value_ngn: float = 500_000.0
    velocity_max_txns: int = 5
    velocity_window_seconds: int = 60
    dormancy_days: int = 30
    daily_spend_ngn: float = 1_000_000.0
    health_port: int = 8080
    bootstrap_servers: str = "localhost:9092"
    max_restarts: int = 3

    @classmethod
    def from_env(cls) -> AppConfig:
        return cls(
            high_value_ngn=_env_num("ABBANK_HIGH_VALUE_THRESHOLD_NGN", 500_000.0),
            velocity_max_txns=int(_env_num("ABBANK_VELOCITY_MAX_TXN", 5)),
            velocity_window_seconds=int(_env_num("ABBANK_VELOCITY_WINDOW_SEC", 60)),
            dormancy_days=int(_env_num("ABBANK_DORMANCY_DAYS", 30)),
            daily_spend_ngn=_env_num("ABBANK_DAILY_SPEND_ALERT_NGN", 1_000_000.0),
            health_port=int(_env_num("HEALTH_PORT", 8080)),
            bootstrap_servers=os.environ.get(
                "KAFKA_BOOTSTRAP_SERVERS", "localhost:9092"
            ),
        )


def build_pipelines(
    envelopes: DataFrame, accounts: DataFrame, cfg: AppConfig
) -> dict[str, tuple[DataFrame, str]]:
    """The five notification flows over ONE shared parsed stream
    (ABBankTopology.java:149-153): name -> (DataFrame, output_mode).
    Output modes follow each flow's state shape — windowed/session aggs
    emit updates (KTable update-stream analog), per-row joins and the
    stateful fold append."""
    txns = SP.parsed_transaction_stream(envelopes)
    window = f"{cfg.velocity_window_seconds} seconds"
    gap = f"{cfg.dormancy_days} days"
    return {
        "fraud": (
            SP.fraud_velocity_notifications(
                txns, window=window, max_txns=cfg.velocity_max_txns
            ),
            "update",
        ),
        "high_value": (
            SP.high_value_notifications(
                txns, accounts, threshold=cfg.high_value_ngn
            ),
            "append",
        ),
        "balance": (SP.balance_notifications(txns), "append"),
        # session-window aggregations support append only (Spark rejects
        # update mode): a dormancy notification emits once, when the
        # watermark passes the session's end — exactly the reference's
        # emit-on-inactivity-gap semantics
        "dormancy": (SP.dormancy_notifications(txns, gap=gap), "append"),
        "daily_spend": (
            SP.daily_spend_notifications(txns, threshold=cfg.daily_spend_ngn),
            "update",
        ),
    }


def build_app(
    spark: SparkSession,
    cfg: AppConfig,
    envelopes: DataFrame,
    accounts: DataFrame,
    checkpoint_dir: str,
    sink_format: str = "memory",
    available_now: bool = False,
) -> PipelineSupervisor:
    """Wire the five flows into a PipelineSupervisor (not started). Each
    registered builder constructs a FRESH StreamingQuery against the same
    checkpoint, so poll_once() restarts are at-least-once safe — the
    REPLACE_THREAD analog (ABBankStreamsApp.java:55-59)."""
    supervisor = PipelineSupervisor(max_restarts=cfg.max_restarts)
    flows = build_pipelines(envelopes, accounts, cfg)
    for name, (df, mode) in flows.items():
        opts: dict[str, str] = {}
        if sink_format == "kafka":
            opts = {
                "kafka.bootstrap.servers": cfg.bootstrap_servers,
                "topic": SP.SINK_TOPICS[name],
            }

        def builder(df=df, name=name, mode=mode, opts=opts):
            return SP.start_pipeline(
                df,
                name,
                checkpoint_dir,
                output_mode=mode,
                sink_format=sink_format,
                sink_options=opts,
                trigger_available_now=available_now,
            )

        supervisor.register(name, builder)
    return supervisor


def simulate_envelope_feed(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> tuple[str, DataFrame]:
    """Demo-mode input: materialize deterministic transaction envelopes
    from the testdata `events` table into `out_dir` (the file-stream
    source) and return (envelopes_path, static parsed accounts from
    `customer`) — exactly the mapping the oracle-checked batch queries
    use (sources/cdc_sim.py)."""
    from cdc_stream_processor_spark.sources import batch as B
    from cdc_stream_processor_spark.sources import cdc_sim

    events = B.load_table(spark, sf_dir, "events")
    env_path = os.path.join(out_dir, "envelopes")
    cdc_sim.transaction_envelopes_from_events(events).write.mode(
        "overwrite"
    ).parquet(env_path)
    accounts = cdc.parse_accounts(
        cdc_sim.accounts_envelopes_from_customers(
            B.load_table(spark, sf_dir, "customer")
        )
    )
    return env_path, accounts


def _parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        prog="python -m cdc_stream_processor_spark",
        description="Run the five CDC notification pipelines "
        "(reference ABBankStreamsApp) on Structured Streaming.",
    )
    ap.add_argument("--source", choices=("file", "kafka"), default="file")
    ap.add_argument(
        "--envelopes",
        help="file mode: directory of envelope parquet (the stream source)",
    )
    ap.add_argument(
        "--envelope-format", choices=("parquet", "json"), default="parquet"
    )
    ap.add_argument(
        "--accounts",
        help="file mode: parquet directory of ACCOUNT envelopes for the "
        "high-value enrich side (parsed with cdc.parse_accounts)",
    )
    ap.add_argument(
        "--simulate-from",
        metavar="SF_DIR",
        help="demo mode: synthesize the envelope feed + accounts from a "
        "testdata dir (overrides --envelopes/--accounts)",
    )
    ap.add_argument("--workdir", default="/tmp/cdc_spark_app")
    ap.add_argument(
        "--sink",
        choices=("memory", "console", "kafka"),
        default=None,
        help="default: memory with --available-now (a bounded drain the "
        "CLI then counts), console in continuous mode — a memory sink "
        "would accumulate every notification in driver memory for the "
        "life of a long-running process",
    )
    ap.add_argument(
        "--available-now",
        action="store_true",
        help="drain available input and exit (demo / test mode)",
    )
    ap.add_argument(
        "--health-port",
        type=int,
        default=None,
        help="override HEALTH_PORT (0 = ephemeral)",
    )
    ap.add_argument(
        "--poll-seconds",
        type=float,
        default=5.0,
        help="continuous mode: supervision poll interval",
    )
    ap.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=None,
        help="file mode: replay the drop as ordered micro-batches of N "
        "files (advances watermarks incrementally, like a live feed)",
    )
    return ap.parse_args(argv)


def _resolve_sink(sink: str | None, available_now: bool) -> str:
    """Memory sink is demo/test-only: it accumulates every notification
    row in driver memory for the life of the process, so it is only the
    default for the bounded --available-now drain (whose CLI counts the
    sink tables); continuous supervision defaults to console."""
    if sink is not None:
        return sink
    return "memory" if available_now else "console"


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = _parse_args(sys.argv[1:] if argv is None else argv)
    try:
        cfg = AppConfig.from_env()
    except ValueError as e:
        print(f"config error: {e}", file=sys.stderr)
        return 2
    if args.health_port is not None:
        cfg.health_port = args.health_port
    sink_format = _resolve_sink(args.sink, args.available_now)

    if spark is None:
        from cdc_stream_processor_spark.session import get_spark

        spark = get_spark("cdc-stream-processor")
        spark.sparkContext.setLogLevel("WARN")

    os.makedirs(args.workdir, exist_ok=True)
    checkpoint_dir = os.path.join(args.workdir, "checkpoints")

    envelope_format = args.envelope_format
    if args.source == "kafka":
        envelopes = SP.read_kafka_envelopes(
            spark, bootstrap=cfg.bootstrap_servers
        ).drop("_kafka_ts")
        # The high-value enrich side wants a BATCH frame: in a Kafka deploy
        # the accounts changelog is CDC-materialized to storage, so we take
        # a parquet snapshot path (--accounts); absent one, the left join
        # labels alerts "N/A" — the reference's missing-account behavior.
        # The fully-streamed twin is streaming.pipelines.stream_changelog_enrich.
        accounts = _load_accounts(spark, args.accounts)
    else:
        if args.simulate_from:
            env_path, accounts = simulate_envelope_feed(
                spark, args.simulate_from, args.workdir
            )
            # the simulated feed is materialized as parquet; honoring a
            # user-passed json format here would parse every row to null
            # and silently drain nothing
            envelope_format = "parquet"
        else:
            if not args.envelopes:
                print(
                    "file mode needs --envelopes DIR or --simulate-from SF_DIR",
                    file=sys.stderr,
                )
                return 2
            env_path = args.envelopes
            accounts = _load_accounts(spark, args.accounts)
        src_opts = (
            {"maxFilesPerTrigger": str(args.max_files_per_trigger)}
            if args.max_files_per_trigger
            else None
        )
        envelopes = SP.read_file_envelopes(
            spark, env_path, fmt=envelope_format, source_options=src_opts
        )

    supervisor = build_app(
        spark,
        cfg,
        envelopes,
        accounts,
        checkpoint_dir,
        sink_format=sink_format,
        available_now=args.available_now,
    )
    # SIGTERM → the same graceful path as Ctrl-C: a cluster manager
    # (K8s/YARN) terminates with SIGTERM, which Python's default handler
    # turns into immediate process death — the `finally` below would never
    # stop the queries or free the checkpoint locks. The reference covers
    # this with a JVM shutdown hook (ABBankStreamsApp.java:71-75), which
    # runs on SIGTERM; raising KeyboardInterrupt routes both signals
    # through one tested shutdown path. Signal handlers only install from
    # the main thread — in-process callers (tests) skip the hook.
    import signal

    def _sigterm(_signum, _frame):  # pragma: no cover - exercised via kill
        raise KeyboardInterrupt

    old_sigterm = None
    try:
        old_sigterm = signal.signal(signal.SIGTERM, _sigterm)
    except ValueError:
        pass  # not the main thread

    server = None
    try:
        # start INSIDE the try: a health-server bind failure (port already
        # taken) must not leak five running StreamingQueries
        supervisor.start_all()
        server, port, _ = serve_health(supervisor, port=cfg.health_port)
        print(f"healthz: http://127.0.0.1:{port}/healthz", file=sys.stderr)

        if args.available_now:
            supervisor.await_all(timeout_s=600.0)
            status = supervisor.status()
            still_active = [n for n, s in status.items() if s["active"]]
            code, body = supervisor.healthz()
            print(json.dumps({"healthz": code, **json.loads(body)}, indent=1))
            if sink_format == "memory":
                for name in SP.SINK_TOPICS:
                    n = spark.sql(f"SELECT count(*) c FROM {name}").first()["c"]
                    print(f"sink {name}: {n} notifications")
            if still_active:
                # await_all timed out: the drain is INCOMPLETE — partial
                # sink contents must not be reported as success
                print(
                    f"drain timed out with active queries: {still_active}",
                    file=sys.stderr,
                )
                return 1
            return 0 if code == 200 else 1
        # continuous mode: the latch-await + supervision loop
        # (ABBankStreamsApp.java:81-84)
        while True:
            supervisor.poll_once()
            code, _ = supervisor.healthz()
            if code != 200:
                print("health DOWN — exiting", file=sys.stderr)
                return 1
            time.sleep(args.poll_seconds)
    except KeyboardInterrupt:
        # graceful shutdown hook analog (ABBankStreamsApp.java:71-75)
        print("shutdown signal — stopping queries", file=sys.stderr)
        return 0
    finally:
        supervisor.stop_all()
        if server is not None:
            server.shutdown()
        if old_sigterm is not None:
            signal.signal(signal.SIGTERM, old_sigterm)


def _load_accounts(spark: SparkSession, path: str | None) -> DataFrame:
    """Static account snapshot for the high-value enrich side; an empty
    frame when absent — the left join then labels every alert "N/A",
    the reference's missing-account behavior (ABBankTopology.java:252)."""
    from cdc_stream_processor_spark import schemas

    if path:
        raw = spark.read.schema(schemas.ACCOUNT_ENVELOPE).parquet(path)
        return cdc.parse_accounts(raw)
    return cdc.parse_accounts(
        spark.createDataFrame([], schemas.ACCOUNT_ENVELOPE)
    )


if __name__ == "__main__":
    sys.exit(main())
