"""sf1 heavy-query bench (VERDICT r4 #5): run the 20 heaviest contract
queries (by the r04 sf0.1 per-query bench) at BOTH sf0.1 (driver
testdata) and sf1 (bench_data/sf1, 10x key-shifted replication —
scripts/gen_sf1.py), min-of-3 in one warmed session, and emit a
markdown table with the sf1/sf0.1 ratio. At 10x rows a scale-sound
plan should cost <= ~10x plus fixed overhead; the table flags any
query whose ratio exceeds 20x (2x its sf-scaled expectation).

Usage (from the repository root): PYTHONPATH=. python scripts/bench_sf1.py [out.md]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOP20 = [
    "tree_linearize_events",
    "streaming_verdicts_events",
    "acf_events",
    "streaming_loops_events",
    "similarity_recall_embeddings",
    "resumable_runner_events",
    "mann_kendall_events",
    "streaming_completeness_events",
    "pagerank_events",
    "kmeans_embeddings",
    "label_noise_embeddings",
    "wasserstein_events",
    "triangles_lineitem",
    "tree_depth_events",
    "violation_triage_events",
    "fuzzy_pairs_documents",
    "stump_events",
    "assortativity_lineitem",
    "quantized_recall_embeddings",
    "spearman_lineitem",
]


def main() -> None:
    import __spark_entry__ as entry_mod
    from jsonschema_validator_spark.session import get_spark

    out_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH/sf1_top20.md"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf1 = os.path.join(repo, "bench_data", "sf1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="bench_sf1", master=f"local[{cpus}]", shuffle_partitions=32
    )
    spark.range(1000).count()  # warm the JVM
    qs = entry_mod.queries()

    def run(name: str, sf_dir: str) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            best = min(best, time.time() - t0)
        return best

    # queries whose OUTPUT (not plan) scales superlinearly under
    # key-shifted replication: every document gains 10 exact copies, so
    # pair-emitting near-dup queries see ~x100 candidate pairs at x10
    # rows — their sf-scaled expectation is quadratic (<= 200x at the
    # same 2x allowance), not linear
    QUADRATIC_OUTPUT = {
        "fuzzy_pairs_documents": 200.0,
    }

    rows = []
    for name in TOP20:
        t01 = run(name, sf01)
        t1 = run(name, sf1)
        ratio = t1 / t01 if t01 > 0 else float("inf")
        rows.append((name, t01, t1, ratio))
        print(
            f"{name:36s} sf0.1={t01:6.2f}s sf1={t1:7.2f}s ratio={ratio:5.2f}x",
            flush=True,
        )

    with open(out_path, "w") as f:
        f.write(
            "# sf1 top-20 heavy-query bench (min-of-3, one warmed "
            f"local[{cpus}] session)\n\n"
            "sf1 = 10x key-shifted replication of the driver's sf0.1 "
            "tables (`scripts/gen_sf1.py`): 1M events, 6M lineitem, "
            "50k documents, 20k embeddings. A scale-sound plan costs "
            "<= ~10x at 10x rows; fixed job overhead pulls small "
            "queries well below that. Flag threshold: ratio > 20x "
            "(2x the sf-scaled expectation), except pair-emitting "
            "near-dup queries where replication multiplies "
            "within-bucket duplicates and the honest expectation is "
            "quadratic in the copy count (threshold 200x, noted "
            "per-row).\n\n"
            "| query | sf0.1 s | sf1 s | sf1/sf0.1 | flag |\n"
            "|---|---|---|---|---|\n"
        )
        n_over = 0
        for name, t01, t1, ratio in rows:
            limit = QUADRATIC_OUTPUT.get(name, 20.0)
            over = ratio > limit
            n_over += over
            note = (
                "quadratic pair output under replication"
                if name in QUADRATIC_OUTPUT
                else ""
            )
            flag = "**EXCEEDS scaled expectation**" if over else note
            f.write(
                f"| {name} | {t01:.2f} | {t1:.2f} | {ratio:.2f}x | {flag} |\n"
            )
        worst = max(rows, key=lambda r: r[3])
        f.write(
            f"\nWorst ratio: {worst[0]} at {worst[3]:.2f}x. "
            f"Queries over their scaled expectation: {n_over}/20.\n"
        )
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
