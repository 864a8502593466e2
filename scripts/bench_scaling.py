"""Two-parallelism scaling benchmark (BASELINE.md protocol).

Runs the IDENTICAL full check-suite job (CheckSuite.verdicts — fused
two-pass plan — over the bench transcripts fixture) at local[N] and
local[4N], each JVM pinned with `taskset -c 0-(cores-1)` so a config
sees exactly its core budget (emulating N-core vs 4N-core clusters on
one host). Per config: separate JVM, 2 warm-up runs discarded
(JIT/codegen/page cache), `runs` timed runs, plan rebuilt and caches
cleared between runs so every timed run does the full work.

Reports median and min times; throughput + scaling efficiency are
computed on the MIN (the host is a shared VM with multi-second
throttling episodes — see matmul variance note in BENCH/BASELINE.md —
and min-of-N at BOTH configs is the symmetric noise-robust estimator
of attainable throughput). Writes BENCH/BASELINE.md.

Usage:
    python scripts/bench_scaling.py [--cores 1,4] [--runs 5] [--scale bench4]

``--cores`` defaults to ``1,<os.cpu_count()>``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_config(cores: int, warmups: int, runs: int, fixture: str) -> dict:
    cmd = [
        "taskset", "-c", f"0-{cores - 1}",
        sys.executable, os.path.join(REPO, "scripts", "bench_once.py"),
        str(cores), str(warmups), str(runs), fixture,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"no RESULT from cores={cores}:\n{out.stdout[-2000:]}\n{out.stderr[-3000:]}"
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", default=f"1,{os.cpu_count()}")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--warmups", type=int, default=2)
    ap.add_argument("--scale", default="bench4")
    ap.add_argument("--fixture-dir", default=os.path.join(REPO, "bench_data"))
    args = ap.parse_args()

    fixture = os.path.join(args.fixture_dir, f"transcripts_clean_{args.scale}.parquet")
    if not os.path.exists(fixture):
        print(f"generating {args.scale} fixture at {fixture} ...", flush=True)
        from jsonschema_validator_spark.fixtures import write_fixture

        write_fixture(args.fixture_dir, scale=args.scale, variant="clean")

    cores_list = [int(c) for c in args.cores.split(",")]
    results = {}
    for cores in cores_list:
        print(f"running pinned local[{cores}] x{args.runs} (+{args.warmups} warmup) ...", flush=True)
        r = run_config(cores, args.warmups, args.runs, fixture)
        best = min(r["times"])
        med = statistics.median(r["times"])
        results[cores] = {
            "min_sec": round(best, 2),
            "median_sec": round(med, 2),
            "times": [round(t, 2) for t in r["times"]],
            "turns_per_sec": round(r["n_turns"] / best),
            "n_turns": r["n_turns"],
        }
        print(
            f"  local[{cores}]: min {best:.2f}s median {med:.2f}s"
            f" -> {results[cores]['turns_per_sec']:,} turns/s",
            flush=True,
        )

    pairs = []
    for a, b in zip(cores_list, cores_list[1:]):
        ratio = b / a
        eff = (results[b]["turns_per_sec"] / results[a]["turns_per_sec"]) / ratio
        pairs.append((a, b, ratio, eff))
        print(f"scaling efficiency local[{a}] -> local[{b}] (x{ratio:.0f} cores): {eff:.3f}")

    rows = "\n".join(
        f"| local[{c}] (pinned {c} cores) | {results[c]['times']} |"
        f" {results[c]['min_sec']} | {results[c]['median_sec']} |"
        f" {results[c]['turns_per_sec']:,} |"
        for c in cores_list
    )
    effs = "\n".join(
        f"- **local[{a}] -> local[{b}] ({ratio:.0f}x cores): efficiency {eff:.3f}**"
        for a, b, ratio, eff in pairs
    )
    md = f"""# BENCH — measured performance (scaling protocol from BASELINE.md)

Job: full `CheckSuite(transcripts_spec()).verdicts(df)` — every keyword
check + drift bucketing + column-stats partials fused into ONE heavy
scan (pass A), and uniqueness + referential-root + ordering fused into
ONE key-column window pass (pass B), run concurrently — over the
deterministic transcripts fixture
(`jsonschema_validator_spark.fixtures`, scale `{args.scale}`,
{results[cores_list[0]]['n_turns']:,} turns, seed 42).

Protocol: identical job, identical input, multiple parallelism levels.
Each config runs in its own JVM pinned with `taskset -c 0-(N-1)` so
local[N] sees exactly N cores (unpinned, the small config borrows the
host's idle cores and the comparison understates scaling).
`spark.sql.shuffle.partitions = 2 x cores`. {args.warmups} warm-up
runs discarded (JIT/codegen/page cache); {args.runs} timed runs, the
plan is rebuilt and Spark caches cleared between runs so each timed
run performs the complete scan + shuffle + aggregate work.

Throughput and efficiency use the MIN across timed runs at every
config symmetrically: this host is a shared VM with multi-second
throttling episodes (a fixed numpy matmul microbenchmark varies
4.6-8.9s run-to-run), and min-of-N is the standard noise-robust
estimator of attainable throughput under external interference.

| config | times (s) | min (s) | median (s) | validated turns/sec (min) |
|---|---|---|---|---|
{rows}

{effs}

The north rule's criterion (throughput scaling efficiency >= 0.8 from
N to 4N executors) is read from the pairs above. All configs share one
host's memory bus, so a pair that falls short here may still scale on
a cluster, where each executor node brings its own bandwidth.

Reference baseline: the reference publishes no numbers
(BASELINE.md — pre-release skeleton); the authoritative target is the
north rule's throughput + efficiency criterion above.
"""
    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    if os.path.exists(out_path):
        # NEVER overwrite the curated pooled history (it carries every
        # prior session's sample batches and the pooling protocol) —
        # append this batch as a raw addendum for manual folding-in
        with open(out_path, "a") as f:
            f.write(
                "\n<!-- raw batch appended by bench_scaling.py; fold into "
                "the pooled narrative -->\n\n"
                f"| config | times (s) | min (s) | median (s) | turns/sec |\n"
                f"|---|---|---|---|---|\n{rows}\n\n{effs}\n"
            )
        print(f"appended batch to {out_path}")
    else:
        with open(out_path, "w") as f:
            f.write(md)
        print(f"wrote {out_path}")
    print(json.dumps({"efficiency": round(eff, 3), **{f"local[{c}]": results[c] for c in cores_list}}))


if __name__ == "__main__":
    main()
