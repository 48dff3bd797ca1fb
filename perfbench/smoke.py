#!/usr/bin/env python3
"""Self-check of the benchmark: every workload at sf0.001, untraced
and traced. Asserts that every end-to-end and per-layer metric is printed
with its unit, that no op failed, and that the traced runs wrote spans.

    python3 perfbench/smoke.py --seed 7     # from the checkout root; ~3 min
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from run import END_TO_END, LAYERS, WORKLOADS  # noqa: E402


# end-to-end metrics reported on the `#` lines only
EXTRA = {"analytic_headline": ["latency_p90_ms = ", "headline_total_s = ",
                               "peak_rss_mb = "],
         "sql_read_wire": ["latency_p90_ms = ", "write_p50_ms = ",
                           "write_p90_ms = ", "read_p50_ms = ",
                           "peak_rss_mb = "]}


def run(seed: int, trace: int) -> tuple[dict, list[str]]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
         "--scale", "0.01"],
        stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
    return json.loads(out[-1]), out[:-1]


def check(result: dict, lines: list[str], trace: int) -> None:
    assert result["correct"] and result["failed"] == 0, result
    assert result["attempted"] > 0
    json_metrics = ([(n, u) for n, u, _, in_json in LAYERS if in_json]
                    if trace else END_TO_END)
    printed = ([f"layer {n} = " for n, *_ in LAYERS] if trace
               else [f"{n} = " for n, _ in END_TO_END])
    for w in WORKLOADS:
        for name, unit in json_metrics:
            got = result["metrics"][f"{w}.{name}"]
            assert got["unit"] == unit, (w, name, got)
            assert isinstance(got["value"], (int, float)), (w, name, got)
        assert any(ln.startswith(f"# {w} ") and "failed_ratio=0.0000" in ln
                   for ln in lines), w
        for name in printed + EXTRA.get(w, []):
            assert any(ln.startswith(f"# {w} {name}") and "(n=" in ln
                       for ln in lines), (w, name)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    seed = ap.parse_args().seed
    spans = {w: os.path.join(common.WORK, f"spans-{w}-seed{seed}.jsonl")
             for w in WORKLOADS}
    for path in spans.values():
        if os.path.exists(path):
            os.remove(path)
    for trace in (0, 1):
        result, lines = run(seed, trace)
        check(result, lines, trace)
    for path in spans.values():
        with open(path) as fh:
            assert sum(1 for _ in fh) > 0, path
    print("smoke ok")


if __name__ == "__main__":
    main()
