"""Isolated per-leg trace: run ONE headline gate in a fresh
process/session, once cold and then under bench.py's per-leg stopping
rule (`bench.steady_runs`), and print each run's wall time plus the
converged best — the adjudication tool for cross-invocation drift in
bench legs (r12 partsupp playbook: a multi-run trace on identical code
separates JIT warm-up depth and suite-position noise from a real plan
regression, which best-of-2 inside the full suite samples too thinly).

    python tools/leg_trace.py llm_embedding_clusters_fast [min_runs] [sf_dir]

`min_runs` (default 2, the bench's own floor) forces at least that many
warm runs before the stopping rule may end the trace.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    min_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    from bench import force, steady_runs
    from platform_spark.gate import GATE
    from platform_spark.session import get_spark

    spark = get_spark("leg-trace")
    fn, _oracle = GATE[name]
    times: list[float] = []

    def run() -> float:
        # match the bench methodology: a repeat must recompute, never read
        # a cache a previous run left (the package's own reuse is
        # localCheckpoint, released with its frames; this guards caches a
        # caller makes)
        spark.catalog.clearCache()
        t0 = time.time()
        force(fn(spark, sf_dir))
        times.append(round(time.time() - t0, 3))
        print(f"run {len(times)}: {times[-1]} s", file=sys.stderr)
        return times[-1]

    run()  # cold: excluded from the converged best, as in bench.py
    warm = steady_runs(run, min_runs)
    print(json.dumps({"leg": name, "sf_dir": sf_dir, "runs": times,
                      "best": min(times), "worst": max(times),
                      "converged_best": min(warm), "warm_runs": len(warm)}))


if __name__ == "__main__":
    main()
