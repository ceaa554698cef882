"""Isolated per-leg trace: run ONE headline gate N times in a fresh
process/session and print each run's wall time — the adjudication tool
for cross-invocation drift in bench legs (r12 partsupp playbook: an
8-run trace on identical code separates JIT warm-up depth and suite-
position noise from a real plan regression, which best-of-2 inside the
full suite samples too thinly).

    python tools/leg_trace.py llm_embedding_clusters_fast [runs] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    sf_dir = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    from bench import force
    from platform_spark.gate import GATE
    from platform_spark.session import get_spark

    spark = get_spark("leg-trace")
    fn, _oracle = GATE[name]
    times = []
    for i in range(runs):
        # match the bench methodology: a repeat must recompute, never read
        # a cache a previous run left (the package's own reuse is
        # localCheckpoint, released with its frames; this guards caches a
        # caller makes)
        spark.catalog.clearCache()
        t0 = time.time()
        force(fn(spark, sf_dir))
        times.append(round(time.time() - t0, 3))
        print(f"run {i + 1}: {times[-1]} s", file=sys.stderr)
    print(json.dumps({"leg": name, "sf_dir": sf_dir, "runs": times,
                      "best": min(times), "worst": max(times)}))


if __name__ == "__main__":
    main()
