#!/usr/bin/env python3
"""The engine's layered benchmark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S \\
        --trace 0|1 [--scale X]

Run from the root of a checkout. Workloads (see each module's docstring):

- analytic_headline (headline.py): bench.py's 23 registry builders;
- sql_read_wire (wire.py): seeded short SELECTs over the MySQL wire, on
  tables that include one its set-up writes with seeded INSERT/UPDATE/
  DELETE/SELECT statements through DB-API (dml.py).

Tables are generated deterministically into `.perfbench/` (datagen.py);
the seed only chooses SQL text and parameters. Spark runs as
local[<cores>]. Every result is checked; a wrong result is a failed op.

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. Lines above it, prefixed `#`, report
every metric with its unit and sample count, the canary, and with
`--trace 1` the full per-layer table, each layer's self time and the
tracing overhead. `--workload all` runs each workload in turn and
prefixes metric names with the workload.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))  # the checkout root: the package, bench.py, tests/

import common  # noqa: E402
import datagen  # noqa: E402
from headline import Headline  # noqa: E402
from wire import Wire  # noqa: E402

WORKLOADS = {w.name: w for w in (Headline, Wire)}

# End-to-end metrics of the --trace 0 JSON line (name, unit). The timing
# percentile is the median: a run of analytic_headline has 23 ops, so the
# median is the highest percentile with ten samples beyond it; a p90 there
# rests on the three slowest queries and swings with their order.
# latency_p90_ms is still printed, with its sample count, on the `#` lines.
END_TO_END = (("setup_s", "s"), ("ops_per_s", "1/s"),
              ("latency_p50_ms", "ms"), ("median_sum_s", "s"))

# Per-layer metrics: (name, unit, the end-to-end metric and workload it
# should move). Rows marked `True` are measured on every workload and
# printed in the --trace 1 JSON line; the rest belong to one or two
# workloads and are reported on the `#` lines only.
LAYERS = (
    ("session.build_ms", "ms", "setup_s on both", True),
    ("session.canary_ms", "ms", "none: health gate", True),
    ("engine.init_ms", "ms", "setup_s on sql_read_wire", False),
    ("plans.build_ms", "ms",
     "median_sum_s, latency_p90_ms on analytic_headline", False),
    ("plans.build_jobs", "count",
     "median_sum_s, latency_p90_ms on analytic_headline", True),
    ("exec.plan_ms", "ms", "median_sum_s on analytic_headline", True),
    ("exec.run_ms", "ms", "median_sum_s on analytic_headline", True),
    ("exec.jobs", "count", "median_sum_s on analytic_headline", True),
    ("exec.stages", "count", "median_sum_s on analytic_headline", True),
    ("exec.tasks", "count", "median_sum_s on analytic_headline", True),
    ("exec.shuffle_write_bytes", "bytes",
     "median_sum_s on analytic_headline", True),
    ("exec.spill_bytes", "bytes", "median_sum_s on analytic_headline", True),
    ("sink.collect_ms", "ms", "latency_p50_ms on analytic_headline", True),
    ("sink.rows", "count", "latency_p50_ms on analytic_headline", True),
    ("dialect.transpile_ms", "ms", "latency_p50_ms on sql_read_wire", False),
    ("engine.query_ms", "ms", "latency_p50/p90_ms on sql_read_wire", False),
    ("engine.collect_ms", "ms", "latency_p50/p90_ms on sql_read_wire",
     False),
    ("engine.retry_ratio", "ratio", "latency_p90_ms on sql_read_wire", True),
    ("engine.insert_ms", "ms", "setup_s on sql_read_wire", False),
    ("engine.update_ms", "ms", "setup_s on sql_read_wire", False),
    ("engine.delete_ms", "ms", "setup_s on sql_read_wire", False),
    ("engine.dml_jobs_per_stmt", "count", "setup_s on sql_read_wire", True),
    ("engine.table_partitions", "count",
     "latency_p50/p90_ms on sql_read_wire, through app_kv lookups", True),
    ("dbapi.overhead_ms", "ms", "setup_s on sql_read_wire", False),
    ("server.roundtrip_ms", "ms", "latency_p50/p90_ms on sql_read_wire",
     False),
    ("server.overhead_ms", "ms", "latency_p50/p90_ms on sql_read_wire",
     False),
    ("server.jobs_per_stmt", "count", "latency_p90_ms on sql_read_wire",
     True),
    ("trace.overhead_pct", "%", "none: cost of tracing", True),
)
_TIME_UNITS = ("ms",)


def _line(text: str) -> None:
    print(f"# {text}", flush=True)


def _aggregate(name: str, unit: str, values: list[float]) -> float:
    """Times are per-op medians; counts, bytes and ratios per-op means."""
    if not values:
        return 0.0
    if unit in _TIME_UNITS:
        return statistics.median(values)
    return sum(values) / len(values)


def _overhead_pct(ops: list[dict]) -> float:
    """Traced minus untraced end-to-end time, as a share of the untraced:
    each traced op also times the call an untraced op makes."""
    base = sum(o["ms"] for o in ops)
    return 100.0 * (sum(o["wall_ms"] for o in ops) - base) / base


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run_one(args) -> dict:
    from go_mysql_server_spark.session import build_session

    cls = WORKLOADS[args.workload]
    scale = args.scale or cls.SCALE
    data_dir = datagen.ensure(common.WORK, scale) if scale else None
    tracer = common.Tracer(bool(args.trace))
    wl = cls(data_dir, args.seed, scale, tracer)
    cpus = common.cpu_count()

    t0 = common.now()
    spark = build_session("perfbench", cpus=cpus)
    layer = {"session.build_ms": [common.ms(t0, common.now())]}
    common.warm_up(spark, cpus)
    for k, v in wl.setup(spark).items():
        layer[k] = [v]
    setup_s = common.now() - t0

    # the first canaries after set-up still read cold; keep the last three
    canary_start = [common.canary_ms(spark) for _ in range(10)][-3:]
    t0 = common.now()
    wl.run(args.seconds)
    window_s = common.now() - t0 - wl.excluded_s
    canary_end = [common.canary_ms(spark) for _ in range(3)]
    rss = common.peak_rss_mb(spark)  # before the checks load DuckDB
    failures = wl.check()
    wl.teardown()
    _stop(spark)

    ops = wl.ops
    lat = [o["ms"] for o in ops]
    by_cls: dict[str, list[float]] = {}
    for o in ops:
        by_cls.setdefault(o["cls"], []).append(o["ms"])
    n = len(ops)
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "ops_per_s": (n / window_s, "1/s", n),
        "latency_p50_ms": (common.percentile(lat, 50), "ms", n),
        "latency_p90_ms": (common.percentile(lat, 90), "ms", n),
        "median_sum_s": (sum(statistics.median(v) for v in by_cls.values())
                         / 1000.0, "s", n),
    }
    # peak RSS moves with JVM heap sizing by up to a fifth between runs, so
    # it is reported on the `#` lines only
    extra = {"peak_rss_mb": (rss, "MB", 1), **wl.extra_metrics()}
    failed = sum(1 for o in ops if not o["ok"])
    start, end = statistics.median(canary_start), statistics.median(canary_end)
    # the start canary still carries JIT warm-up and reads high; a run whose
    # end canary reads well above it got slower while it ran
    drifted = end > 1.5 * start
    report = {"workload": wl.name, "seed": args.seed, "scale": scale,
              "attempted": n, "failed": failed, "failures": failures[:20],
              "failed_ratio": failed / n if n else 1.0,
              "beyond_p90": common.beyond(lat, 90),
              "canary_ms": {"start": start, "end": end, "drifted": drifted},
              "end_to_end": e2e, "extra": extra}

    if args.trace:
        for k, v in wl.layer.items():
            layer.setdefault(k, []).extend(v)
        layer["session.canary_ms"] = canary_start + canary_end
        layer["trace.overhead_pct"] = [_overhead_pct(ops)]
        report["per_layer"] = {
            name: (_aggregate(name, unit, layer.get(name, [])), unit,
                   len(layer.get(name, [])), moves)
            for name, unit, moves, _ in LAYERS}
        report["self_ms"] = tracer.self_times_ms()
        spans = os.path.join(common.WORK,
                             f"spans-{wl.name}-seed{args.seed}.jsonl")
        tracer.write(spans)
        report["spans"] = spans
        report["metrics"] = {name: {"value": report["per_layer"][name][0],
                                    "unit": unit}
                             for name, unit, _, json_line in LAYERS
                             if json_line}
    else:
        report["metrics"] = {name: {"value": e2e[name][0], "unit": unit}
                             for name, unit in END_TO_END}
    return report


def print_report(r: dict) -> None:
    w = r["workload"]
    _line(f"{w} seed={r['seed']} scale={r['scale']}: "
          f"attempted={r['attempted']} failed={r['failed']} "
          f"failed_ratio={r['failed_ratio']:.4f}")
    for f in r["failures"]:
        _line(f"{w} FAILED {f}")
    c = r["canary_ms"]
    _line(f"{w} canary_ms start={c['start']:.2f} end={c['end']:.2f}"
          + (" DRIFTED: this run's timings are suspect" if c["drifted"]
             else ""))
    for name, (value, unit, count) in {**r["end_to_end"],
                                       **r["extra"]}.items():
        _line(f"{w} {name} = {value:.6g} {unit} (n={count})")
    _line(f"{w} samples beyond latency_p90_ms: {r['beyond_p90']}")
    if "per_layer" in r:
        for name, (value, unit, count, moves) in r["per_layer"].items():
            _line(f"{w} layer {name} = {value:.6g} {unit} (n={count}; "
                  f"should move: {moves})")
        for name, value in sorted(r["self_ms"].items()):
            _line(f"{w} self_ms {name} = {value:.1f}")
        _line(f"{w} spans written to {r['spans']}")


def run_all(args) -> dict:
    """Each workload in its own process, so each pays its own set-up."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.scale:
            cmd += ["--scale", str(args.scale)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                             check=True).stdout.strip().splitlines()
        for line in out[:-1]:
            print(line, flush=True)
        res = json.loads(out[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    return merged


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="data scale for every workload (1 is sf0.1, 0.01 "
                         "is sf0.001); default: each workload's own")
    args = ap.parse_args()
    common.confine_to_checkout()
    if args.workload == "all":
        result = run_all(args)
    else:
        r = run_one(args)
        print_report(r)
        result = {"correct": r["failed"] == 0 and not r["failures"],
                  "attempted": r["attempted"],
                  "failed": r["failed"], "metrics": r["metrics"]}
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
