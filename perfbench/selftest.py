"""Toy-size self-test of the benchmark itself.

    python3 perfbench/selftest.py

Checks that every metric name matches ``[A-Za-z0-9_.-]+`` and has a
unit, that ``BENCHMARK.json`` lists exactly the metrics the benchmark
prints, that the event-log arithmetic is right, and that each
workload's output checks pass on clean outputs and fail — raising the
failed fraction — on a deliberately corrupted one. Exits 0 when all
hold.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def check_names() -> None:
    from metrics import END_TO_END, NAME, PER_LAYER

    for table in (END_TO_END, PER_LAYER):
        for name, (unit, better) in table.items():
            assert NAME.fullmatch(name) and len(name) <= 64, name
            assert unit and better in ("lower", "higher"), name
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    for key, table in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        assert listed == table, f"BENCHMARK.json {key} differs from metrics.py"


def check_eventlog() -> None:
    from eventlog import Job, busy_seconds, driver_only_seconds

    jobs = [Job(0, "a", 1.0, 2.0), Job(1, "a", 1.5, 3.0),
            Job(2, "b", 5.0, 6.0)]
    assert busy_seconds(jobs, 0.0, 10.0) == 3.0
    assert busy_seconds(jobs, 2.5, 5.5) == 1.0
    assert driver_only_seconds(jobs, [(0.0, 4.0), (4.0, 6.0)]) == 3.0


def check_outputs(work: str) -> None:
    from harness import Tally, default_cores, shutdown_jvm, start_session
    from workloads import CurationFunnel, EmdFlows, WatchIngest

    spark = start_session(work, default_cores(2))
    try:
        for i, corrupt in enumerate((False, True)):
            for wl in (EmdFlows(os.path.join(work, f"emd{i}"), 7,
                                **EmdFlows.SMALL),
                       WatchIngest(os.path.join(work, f"watch{i}"), 7, 20.0),
                       CurationFunnel(os.path.join(work, f"cur{i}"), 7,
                                      **CurationFunnel.SMALL)):
                tally = Tally()
                if isinstance(wl, WatchIngest):
                    wl.segment(spark, 1.0, tally, corrupt=corrupt)
                else:
                    wl.generate(spark)
                    wl.run(spark, 0, tally, corrupt=corrupt, min_ops=1)
                print(f"{wl.name} corrupt={corrupt}: failed "
                      f"{tally.failed}/{tally.attempted} {tally.notes[:2]}")
                if corrupt:
                    assert tally.failed_frac > 0, wl.name
                else:
                    assert tally.attempted > 0 and tally.failed == 0, \
                        (wl.name, tally.notes)
    finally:
        shutdown_jvm()


def main() -> int:
    check_names()
    check_eventlog()
    work = os.path.join(ROOT, ".perfbench-work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    try:
        check_outputs(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
