"""One scaling-config measurement: run the full fused verdicts job at
local[N] over the bench fixture, fresh plan per run, cache cleared
between runs. Prints RESULT json.

Invoked by bench_scaling.py under `taskset -c 0-(N-1)` so the JVM
(executor threads, GC, shuffle, Python driver) sees exactly N cores —
a faithful stand-in for an N-core cluster slice; without pinning the
low-parallelism config silently borrows the host's idle cores.

Usage: python scripts/bench_once.py <cores> <warmups> <runs> <fixture>
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jsonschema_validator_spark.session import get_spark
from jsonschema_validator_spark.plans import CheckSuite
from jsonschema_validator_spark.specs import transcripts_spec


def main(cores: int, warmups: int, runs: int, fixture: str) -> None:
    spark = get_spark(
        app_name=f"scaling_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
    )
    df = spark.read.parquet(fixture)
    n_turns = df.count()
    suite = CheckSuite(transcripts_spec()).build()

    def job() -> float:
        t0 = time.time()
        suite.verdicts(df).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        # drop materialized intermediates so every run does the full work
        spark.catalog.clearCache()
        return dt

    for _ in range(warmups):  # JIT/codegen/page-cache — discarded
        job()
    times = [job() for _ in range(runs)]
    print("RESULT " + json.dumps({"cores": cores, "times": times, "n_turns": n_turns}))
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
