"""Interleaved A/B of runtime-settable SQL confs over bench keys.

Ambient load in this sandbox swings minute to minute, so sequential
A-then-B captures are worthless; this interleaves A and B per pass
(shuffled key order, clearCache between queries) and reports per-key
min and median for both arms from the same time window. Each arm's
value goes into the session AND the one conf table
(``session._BASE_CONFS``), so the ``prep()`` that every query build
calls keeps the arm's value instead of resetting it.

Usage:
  AB_CONF='{"spark.x":["a_val","b_val"], ...}' \
  python scripts/ab_conf.py key1 key2 ... [--passes N]
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench as B  # noqa: E402
from capture_plans import all_bench_fns, build_variant_registry  # noqa: E402
from picoprobedataflow_spark import session as S  # noqa: E402


def main() -> None:
    keys = [a for a in sys.argv[1:] if not a.startswith("--")]
    passes = 6
    for a in sys.argv[1:]:
        if a.startswith("--passes="):
            passes = int(a.split("=", 1)[1])
    ab = json.loads(os.environ["AB_CONF"])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = S.get_spark(app_name="ab-conf")
    fns, _ = all_bench_fns(spark)
    fns.update(build_variant_registry())
    from picoprobedataflow_spark.plans.common import tbl
    for t in ("events", "lineitem", "orders", "documents", "embeddings"):
        B.run_query(tbl(spark, sf_dir, t).limit(1))
    warm = "/root/testdata/sf0.001"
    for name in keys:
        try:
            B.run_query(fns[name](spark, warm))
        except Exception:
            pass
    spark.catalog.clearCache()

    def set_arm(i: int) -> None:
        for k, vals in ab.items():
            S._BASE_CONFS[k] = vals[i]
            spark.conf.set(k, vals[i])

    reps: dict[tuple, list] = {(k, i): [] for k in keys for i in (0, 1)}
    for p in range(passes):
        order = [(k, i) for k in keys for i in (0, 1)]
        random.shuffle(order)
        for name, arm in order:
            set_arm(arm)
            t0 = time.perf_counter()
            B.run_query(fns[name](spark, sf_dir))
            reps[(name, arm)].append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
    tot = [0.0, 0.0]
    for k in keys:
        a, b = reps[(k, 0)], reps[(k, 1)]
        print(f"{k}: A min={min(a):.3f} med={statistics.median(a):.3f} "
              f"| B min={min(b):.3f} med={statistics.median(b):.3f} "
              f"| A={a} B={b}")
        tot[0] += min(a)
        tot[1] += min(b)
    print(f"TOTAL(min) A={tot[0]:.3f} B={tot[1]:.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
