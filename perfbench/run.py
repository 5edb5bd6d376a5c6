"""CDC engine benchmark: drives the shipped five-flow application and its
batch twins over seeded, generated traffic and prints one JSON result.

    python3 perfbench/run.py --workload live_feed --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. The line before it ("# run ...") records the host (nproc, load
average, other JVMs), the sample counts and the generator's lateness.
Traced runs also write their spans to .perfbench_out/. See
perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("live_feed", "backlog_drain")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cdc_stream_processor_spark", "__main__.py")):
        print("perfbench: no cdc_stream_processor_spark package in this checkout", file=sys.stderr)
        return 2
    spec = _spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path[:0] = [ROOT, HERE]
    import engine as E
    import workloads as W

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    E.prepare_env(ROOT, work, cpus)
    ctx = W.Ctx(ROOT, work, args.seed, args.seconds, bool(args.trace))
    try:
        res = getattr(W, args.workload)(ctx)
        host = E.host_snapshot(E.jvm_pid())
    except Exception:  # noqa: BLE001 - report the failure, not a result
        traceback.print_exc()
        return 1
    finally:
        if ctx.spark is not None:
            E.stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    src = res.layers if args.trace else res.metrics
    metrics = {}
    for m in wanted:
        value, unit = src.get(m["name"], (0.0, m["unit"]))
        if unit != m["unit"]:
            raise SystemExit(f"unit mismatch for {m['name']}: {unit} != {m['unit']}")
        metrics[m["name"]] = {"value": float(value), "unit": unit}
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        print(f"perfbench: non-finite metrics {bad}", file=sys.stderr)
        return 1
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"spans": res.spans, "layers": res.layers, "metrics": res.metrics}, fh)
    ctx.mark("stopped")
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **host, **res.info,
            "phase_end_s": ctx.phases}
    if args.trace:
        info["traced_end_to_end"] = {k: v[0] for k, v in res.metrics.items()}
    print("# run " + json.dumps(info, default=str))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main(sys.argv[1:])
    print(f"perfbench: exit {code} after {time.time() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
