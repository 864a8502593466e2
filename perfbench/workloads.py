"""The workloads. Each is closed-loop with one caller: after warm-up rounds
(part of set-up) it repeats whole rounds of the same operations, a minimum
number and more while another round fits in ``seconds``, checks every
operation's output against the oracle, and returns the result record that
run.py prints.

Both workloads report the same metric names; README.md says what "main"
and "side" mean in each.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from perfbench import inputs, oracle
from perfbench.spark_trace import CallStats, Ledger, RssSampler, exec_metrics, layer_metrics, tree_cpu_s

MASTER = "local[4]"

# ROADMAP item-2 targets (a driver-side fixpoint loop, the streaming
# harness, the resumable runner), each with the table it reads, and
# single-pass controls beside them
REGISTRY_MAIN = {
    "dedup_components_documents": "documents",
    "streaming_enum_rate_events": "events",
    "resumable_runner_events": "events",
}
REGISTRY_SIDE = [
    "tool_dispatch_events",
    "enum_membership_events",
    "ri_orphan_lineitems",
]

# metric name -> unit, as BENCHMARK.json lists them
END_TO_END = {"setup_s": "s", "main_rows_per_cpu_s": "rows/cpu-s", "round_cpu_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "functions.compile_s": "s",
    "sources.scan_s": "s",
    "main.wall_s": "s",
    "main.driver_s": "s",
    "main.jobs": "count",
    "main.stages": "count",
    "side.wall_s": "s",
    "side.driver_s": "s",
    "side.jobs": "count",
    "side.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "jvm.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "exec.task_p50_s": "s",
    "operators.persistent_rdds": "count",
}

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on standard error, stamped with seconds since start."""
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}] {msg}", file=sys.stderr, flush=True)


class Run:
    """Per-run state: the session, the job ledger, the RSS sampler (traced
    runs), the operation tally and the measured rounds. A round maps each operation
    name to its CallStats; ``main`` and ``side`` name the two groups."""

    def __init__(self, seconds: int, trace: bool, main: list[str], side: list[str]):
        from jsonschema_validator_spark.session import get_spark

        self.seconds, self.trace, self.main, self.side = seconds, trace, main, side
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.layers: dict = {}
        self.rounds: list[dict] = []
        log("inputs and oracle ready")
        self.t_start = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=MASTER)
        self.layers["session.start_s"] = time.perf_counter() - self.t_start
        self.ledger = Ledger(self.spark)
        if trace:
            self.sampler = RssSampler(self.spark.sparkContext._gateway.proc.pid)

    def timed(self, key: str, fn):
        t = time.perf_counter()
        out = fn()
        self.layers[key] = time.perf_counter() - t
        return out

    def one_round(self, ops: dict) -> dict:
        """Run ops (name -> (call, check)): call() is timed, and in traced
        runs its Spark jobs are collected; check(output) lists the
        output's differences from the oracle."""
        stats = {}
        for name, (call, check) in ops.items():
            if self.trace:
                out, stats[name] = self.ledger.measure(call)
            else:
                # this process's tree holds the JVM and its Python workers
                t0, c0 = time.time(), tree_cpu_s(os.getpid())
                out = call()
                stats[name] = CallStats(wall_s=time.time() - t0, proc_cpu_s=tree_cpu_s(os.getpid()) - c0)
            diffs = check(out)
            self.attempted += 1
            if diffs:
                self.failed += 1
                self.problems.extend(f"{name}: {d}" for d in diffs[:5])
        return stats

    def measure(self, ops: dict, warmup: int, min_rounds: int) -> None:
        """``warmup`` rounds (the end of set-up), then ``min_rounds``
        measured rounds and more while one more fits in ``seconds``."""
        for _ in range(warmup):
            stats = self.one_round(ops)
            log("warm-up wall/cpu s: " + " ".join(f"{n} {c.wall_s:.2f}/{c.proc_cpu_s:.2f}" for n, c in stats.items()))
        self.setup_s = time.perf_counter() - self.t_start
        log(f"setup {self.setup_s:.2f}s")
        t0 = time.perf_counter()
        while len(self.rounds) < min_rounds or (
            (time.perf_counter() - t0) * (len(self.rounds) + 1) / len(self.rounds) <= self.seconds
        ):
            self.rounds.append(self.one_round(ops))
        log(f"{len(self.rounds)} rounds in {time.perf_counter() - t0:.2f}s")
        for name in ops:
            log(f"  {name} wall/cpu s: " + " ".join(f"{r[name].wall_s:.2f}/{r[name].proc_cpu_s:.2f}" for r in self.rounds))

    def _group(self, names: list[str], key: str) -> float:
        """Sum over names of each operation's median ``key`` (a CallStats field)."""
        return sum(statistics.median(getattr(r[n], key) for r in self.rounds) for n in names)

    def finish(self, rows: int) -> dict:
        """Stop the session and build the result record."""
        if self.trace:
            self.layers["session.peak_rss_mb"] = self.sampler.stop() / 2**20
            self.layers["operators.persistent_rdds"] = self.ledger.persistent_rdds()
        _stop_session(self.spark)
        log("session stopped")
        if not self.trace:
            main = self._group(self.main, "proc_cpu_s")
            values = {
                "setup_s": self.setup_s,
                "main_rows_per_cpu_s": rows / main,
                "round_cpu_s": main + self._group(self.side, "proc_cpu_s"),
            }
            units = END_TO_END
        else:
            # the round whose wall time is the median one
            mid = sorted(self.rounds, key=lambda r: sum(s.wall_s for s in r.values()))[
                (len(self.rounds) - 1) // 2
            ]
            group = {}
            for g, names in (("main", self.main), ("side", self.side)):
                group[g] = CallStats()
                for n in names:
                    group[g].add(mid[n])
            values = dict(self.layers)
            values.update(layer_metrics("main", group["main"]))
            values.update(layer_metrics("side", group["side"]))
            values.update(exec_metrics(CallStats().add(group["main"]).add(group["side"])))
            units = PER_LAYER
        for p in self.problems[:20]:
            log(p)
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }


def _stop_session(spark) -> None:
    """Stop the session, then close the JVM's stdin (it exits on EOF) and
    wait for it, so no process of this run outlives it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def _noop_scan(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- verdicts_scan -------------------------------------------------------------


def verdicts_scan(seed: int, seconds: int, trace: bool) -> dict:
    from jsonschema_validator_spark.specs import transcripts_spec

    path = inputs.scan_transcripts(seed)
    spec = transcripts_spec()
    con = oracle.connect()
    want_v, want_x = oracle.transcripts_expected(con, path, spec)
    rows = oracle.row_count(con, path)
    con.close()

    run = Run(seconds, trace, ["verdicts"], ["violations"])
    from jsonschema_validator_spark.plans import CheckSuite
    from jsonschema_validator_spark.sources import read_table

    df = read_table(run.spark, f"parquet:{path}")
    suite = run.timed("functions.compile_s", lambda: CheckSuite(spec).build())
    run.measure(
        {
            "verdicts": (
                lambda: suite.verdicts(df).collect(),
                lambda got: oracle.verdict_diffs(got, want_v),
            ),
            "violations": (
                lambda: suite.violations(df).collect(),
                lambda got: oracle.violation_diffs(oracle.normalise_violations(got), want_x),
            ),
        },
        warmup=1,
        min_rounds=3,
    )
    if trace:
        run.timed("sources.scan_s", lambda: _noop_scan(df))
    return run.finish(rows)


# --- registry_fixed_cost -------------------------------------------------------


def registry_fixed_cost(seed: int, seconds: int, trace: bool) -> dict:
    import __spark_entry__ as entry

    sf_dir = inputs.registry_tables()  # fixed tables: the seed selects nothing here
    queries, sqls = entry.queries(), entry.oracle_sql()
    con = oracle.connect()
    want = {q: oracle.registry_expected(con, sf_dir, sqls[q]) for q in [*REGISTRY_MAIN, *REGISTRY_SIDE]}
    # the rows the target queries read, each query counting its own table
    rows = sum(oracle.row_count(con, f"{sf_dir}/{t}.parquet") for t in REGISTRY_MAIN.values())
    con.close()

    run = Run(seconds, trace, list(REGISTRY_MAIN), REGISTRY_SIDE)
    run.timed("functions.compile_s", entry._events_suite)

    def op(q):
        def call():
            df = queries[q](run.spark, sf_dir)
            return df.columns, df.collect()

        return call, lambda got: oracle.registry_diffs(*got, *want[q])

    run.measure({q: op(q) for q in [*REGISTRY_SIDE, *REGISTRY_MAIN]}, warmup=1, min_rounds=3)
    if trace:
        events = run.spark.read.parquet(f"{sf_dir}/events.parquet")
        run.timed("sources.scan_s", lambda: _noop_scan(events))
    return run.finish(rows)


WORKLOADS = {
    "verdicts_scan": verdicts_scan,
    "registry_fixed_cost": registry_fixed_cost,
}
