"""Per-component scaling profile: time each piece of the verdicts job
separately at a given core count (separate JVM per invocation) to find
what fails to scale. Usage: python scripts/profile_components.py <cores>"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from jsonschema_validator_spark.plans import CheckSuite
from jsonschema_validator_spark.session import get_spark
from jsonschema_validator_spark.specs import transcripts_spec

FIXTURE = os.path.join(REPO, "bench_data", "transcripts_dirty_bench.parquet")


def main(cores: int) -> None:
    spark = get_spark(
        app_name=f"prof{cores}", master=f"local[{cores}]", shuffle_partitions=2 * cores
    )
    df = spark.read.parquet(FIXTURE)
    suite = CheckSuite(transcripts_spec()).build()
    spec = transcripts_spec()

    def noop(d):
        d.write.format("noop").mode("overwrite").save()

    def flags_only():
        part = suite.partition_by
        flags = suite._flag_cols(df)
        sel = df.select(
            F.col(part),
            *[(~c).cast("long").alias(f"f{i}") for i, (_, c) in enumerate(flags)],
        )
        agg = sel.groupBy(part).agg(
            F.count(F.lit(1)).alias("rows_checked"),
            *[F.sum(f"f{i}").alias(f"v{i}") for i in range(len(flags))],
        )
        noop(agg)

    components = {
        "scan_count": lambda: df.select("day").groupBy("day").count().write.format("noop").mode("overwrite").save(),
        "flags": flags_only,
        "unique": lambda: noop(suite._dataset_verdicts(df, spec["dataset"][0])),
        "key_window": lambda: suite._pass_b(df, "conv_id", "turn_idx", spec["dataset"][:3]),
        "drift": lambda: suite._pass_a(df, [], [spec["dataset"][3]]),
        "stats": lambda: suite._pass_a(df, [], [spec["dataset"][4]]),
        "full": lambda: noop(suite.verdicts(df)),
    }

    # warm-up: full job (page cache + JIT)
    components["full"]()
    components["full"]()

    out = {}
    for name, fn in components.items():
        ts = []
        for _ in range(2):
            t0 = time.time()
            fn()
            ts.append(time.time() - t0)
        out[name] = round(min(ts), 2)
        print(f"  {name}: {out[name]}s", flush=True)
    print("PROFILE " + json.dumps({"cores": cores, **out}))
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]))
