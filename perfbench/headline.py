"""analytic_headline: bench.py's 23 registry builders, one client, fixed
order, every result collected and checked.

Loads `plans/`, `operators/` and Spark execution; never touches
`dialect/`, the SELECT path of `engine.py`, `dbapi` or `server`. The seed
does not change this workload: its inputs are the fixed tables.

A run is one whole pass in a fresh JVM, however long `--seconds` is:
the pass is cold, and a second, warm pass would mix two distributions in
the percentiles, in proportions set by how many passes fit. A cold pass
at sf0.001 takes 20-40 s on 4 cores; at sf0.1 a cold pass takes ~43 s and
a warm one ~27 s, more than the run budget allows. At this size the time
is the per-query fixed cost (jobs, code generation, plan construction).

Traced ops split each query into `plans.build` (the builder call, with the
Spark jobs it launches counted), `exec.plan` (forcing the physical plan),
`exec.run` (a noop sink) and `sink.collect` (collect, minus the noop run).
"""

from __future__ import annotations

import gc
import json
import os
import statistics

import common
from check import summary, summary_problems

EXPECTED = os.path.join(common.HERE, "expected_headline.json")


def headline_names() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE)


def oracle_summaries(data_dir: str, names: list[str]) -> dict[str, dict]:
    """Expected results from the registry's DuckDB oracles."""
    import duckdb

    from go_mysql_server_spark.plans import all_oracles

    import datagen

    oracles = all_oracles()
    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        rel = con.sql(oracles[name])
        out[name] = summary([d[0] for d in rel.description], rel.fetchall())
    con.close()
    return out


class Headline:
    name = "analytic_headline"
    SCALE = 0.01  # sf0.001

    def __init__(self, data_dir: str, seed: int, scale: float,
                 tracer: common.Tracer):
        self.data_dir, self.scale, self.tracer = data_dir, scale, tracer
        self.names = headline_names()
        self.ops: list[dict] = []
        self.results: list[tuple[int, str, list[str], list]] = []
        self.layer: dict[str, list[float]] = {}
        self.excluded_s = 0.0

    def setup(self, spark) -> dict[str, float]:
        from go_mysql_server_spark.plans import all_queries

        self.spark = spark
        self.counter = common.JobCounter(spark)
        queries = all_queries()
        self.builders = [queries[n] for n in self.names]
        return {}

    def teardown(self) -> None:
        pass

    def _add(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def _op(self, i: int) -> None:
        op = len(self.ops)
        name, fn = self.names[i], self.builders[i]
        if not self.tracer.enabled:
            t0 = common.now()
            df = fn(self.spark, self.data_dir)
            rows = df.collect()
            t1 = common.now()
            call_ms = common.ms(t0, t1)
        else:
            tr, jc = self.tracer, self.counter
            t0 = common.now()
            with tr.span("op", op):
                with tr.span("plans.build", op) as sp:
                    group = jc.new_group("build")
                    df = fn(self.spark, self.data_dir)
                build_ms = sp.ms
                self._add("plans.build_ms", build_ms)
                self._add("plans.build_jobs", len(jc.jobs(group)))
                with tr.span("exec.plan", op) as sp:
                    common.executed_plan(df)
                self._add("exec.plan_ms", sp.ms)
                with tr.span("exec.run", op) as sp:
                    group = jc.new_group("exec")
                    common.noop_run(df)
                run_ms = sp.ms
                self._add("exec.run_ms", run_ms)
                for k, v in jc.stats(jc.jobs(group)).items():
                    self._add(f"exec.{k}", v)
                with tr.span("sink.collect", op) as sp:
                    jc.new_group("sink")
                    rows = df.collect()
                self._add("sink.collect_ms", sp.ms - run_ms)
                self._add("sink.rows", len(rows))
            t1 = common.now()
            call_ms = build_ms + sp.ms  # what the untraced op times
        self.ops.append({"cls": name, "kind": "query", "ok": True,
                         "ms": call_ms, "wall_ms": common.ms(t0, t1)})
        self.results.append((op, name, df.columns, rows))

    def run(self, seconds: float) -> None:
        """One pass over the 23 queries; `seconds` does not change it.

        A traced run first makes one unrecorded untraced pass: on a cold
        pass the noop run would pay code generation that the collect then
        skips, and `sink.collect_ms` would read negative."""
        if self.tracer.enabled:
            t0 = common.now()
            self.tracer.enabled = False
            for i in range(len(self.names)):
                self._op(i)
            self.tracer.enabled = True
            del self.ops[:], self.results[:]
            self.excluded_s += common.now() - t0
        for i in range(len(self.names)):
            self._op(i)
            t0 = common.now()
            gc.collect()  # frees unpersisted checkpoint blocks
            self.excluded_s += common.now() - t0

    def check(self) -> list[str]:
        with open(EXPECTED) as fh:
            stored = json.load(fh)
        if stored["scale"] == self.scale:
            expected = stored["queries"]
        else:
            expected = oracle_summaries(self.data_dir, self.names)
        failures = []
        for op, name, cols, rows in self.results:
            problems = summary_problems(summary(cols, rows), expected[name])
            if problems:
                self.ops[op]["ok"] = False
                failures.append(f"{name}: {problems[0]}")
        self.results = []
        return failures

    def extra_metrics(self) -> dict[str, tuple[float, str, int]]:
        by_query: dict[str, list[float]] = {}
        for o in self.ops:
            by_query.setdefault(o["cls"], []).append(o["ms"])
        total = sum(statistics.median(v) for v in by_query.values())
        return {"headline_total_s": (total / 1000.0, "s", len(self.ops))}
