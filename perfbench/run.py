"""Run one benchmark workload against the engine and print its result.

    python3 perfbench/run.py --workload tick_ingest --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md): ``tick_ingest`` and ``query_mix``.
Every run builds its own seeded inputs under a fresh temp dir inside the
checkout (``.perfbench_tmp/``) and removes it on exit.

Standard output ends with two JSON lines:

* a detail record (``"perfbench"`` key): environment, the end-to-end and
  per-layer figures, and the workload's own named figures, for
  ``perfbench/compare.py`` to read from saved output;
* the result line: ``correct``, ``attempted``, ``failed`` and ``metrics``
  (the end-to-end metrics, or the per-layer ones with ``--trace 1``).

The exit code is 0 when every output check passed, 1 when any failed,
and 2 when the engine cannot be loaded.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import shutil
import signal
import sys
import tempfile
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

PKG = "low_latency_time_series_database_tsdb_for_market_data_spark"

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p75_ms": "ms",
    "op_mean_ms": "ms",
    "op_cpu_ms": "ms",
}
PER_LAYER = {
    "session.open_s": "s",
    "session.warm_start_s": "s",
    "setup.workload_s": "s",
    "op.construct_ms": "ms",
    "op.construct_jobs": "count",
    "op.plan_ms": "ms",
    "op.exec_ms": "ms",
    "op.exec_jobs": "count",
    "op.stages": "count",
    "op.tasks": "count",
    "op.shuffle_read_bytes": "bytes",
    "op.shuffle_write_bytes": "bytes",
    "op.spill_bytes": "bytes",
    "op.cache_scan_ratio": "ratio",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "process.peak_rss_mb": "MB",
    "trace.read_ms": "ms",
}
WORKLOADS = ("tick_ingest", "query_mix")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(args, ctx) -> dict:
    from perfbench import harness, workloads

    env = harness.prepare_env(ctx.tmp)
    env["load_factor_start"] = harness.load_factor()
    jiffies = harness.cpu_jiffies()
    out = getattr(workloads, args.workload)(ctx)
    sess, tracer, jvm, ops = ctx.session, out.tracer, out.jvm, out.ops
    env.update(harness.spark_env(sess.spark))
    env["load_factor_end"] = harness.load_factor()
    env["cpu_steal_pct"] = harness.steal_pct(jiffies, harness.cpu_jiffies())
    e2e = {"setup_s": sess.open_s + sess.warm_start_s + out.setup_workload_s}
    e2e.update(harness.op_metrics(ops))
    layers = {
        "session.open_s": sess.open_s,
        "session.warm_start_s": sess.warm_start_s,
        "setup.workload_s": out.setup_workload_s,
        "jvm.gc_s": jvm.gc_s(),
        "jvm.heap_peak_mb": jvm.heap_peak_mb(),
        "trace.read_ms": 1000.0 * tracer.read_s / len(ops),
    }
    if args.trace:
        layers.update(harness.layer_metrics(ops))
    layers["process.peak_rss_mb"] = jvm.peak_rss_mb()
    return {
        "perfbench": 1,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "attempted": out.checks + len(ops),
        "failed": out.failed_checks + sum(1 for o in ops if not o.ok),
        "failures": out.failures[:20],
        "samples": dict(Counter(o.group for o in ops)),
        "end_to_end": e2e,
        "layers": layers,
        "detail": out.detail,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if importlib.util.find_spec(PKG) is None:
        print(f"perfbench: cannot import {PKG} from {ROOT}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench_tmp"
    base.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base))
    from perfbench.workloads import Ctx

    ctx = Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), tmp=tmp)
    try:
        record = measure(args, ctx)
    finally:
        try:
            if ctx.session is not None:
                ctx.session.close()  # fails when the JVM died first
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                base.rmdir()  # only when no other run is using it
            except OSError:
                pass
    names = PER_LAYER if args.trace else END_TO_END
    src = record["layers"] if args.trace else record["end_to_end"]
    metrics = {k: {"value": float(src[k]), "unit": u} for k, u in names.items()}
    correct = record["failed"] == 0
    print(json.dumps(record, sort_keys=True, default=float))
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
