"""Product-level benchmark of picoprobedataflow_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload emd_flows --seed 1 --seconds 12 \
        --trace 0

Workloads: emd_flows, curation_funnel (see NOTE.md). ``--trace 0``
measures the end-to-end metrics with no event log or listener;
``--trace 1`` is the separate traced run that reports the per-layer
metrics. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; earlier lines
describe the inputs and details. Everything is written under
``.perfbench-work/`` in the checkout and removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: set-up cycles per run (session start + input generation); setup_s
#: is their median plus the warm-up
SETUP_CYCLES = 3
#: the watched-directory segment of every traced run: Poisson arrivals
#: at about half the rate at which the backlog first grows (NOTE.md)
WATCH_RATE = 50.0
WATCH_SECONDS = 4.0


def make(name: str, root: str, seed: int, small: bool = False):
    """The workload; ``small`` gives its small side input."""
    from workloads import WORKLOADS
    cls = WORKLOADS[name]
    return cls(root, seed, **(cls.SMALL if small else {}))


def untraced(name: str, seed: int, seconds: float, work: str, cores: int):
    from harness import Tally, clock, median, start_session, stop_session

    setups = []
    for c in range(SETUP_CYCLES):
        t0 = clock()
        stop_session()
        spark = start_session(work, cores)
        wl = make(name, os.path.join(work, f"setup{c}"), seed)
        info = wl.generate(spark)
        setups.append(clock() - t0)
        if c + 1 < SETUP_CYCLES:
            shutil.rmtree(os.path.join(work, f"setup{c}"), ignore_errors=True)
    tally = Tally()
    warm = wl.warmup(spark, tally)
    ops = wl.run(spark, seconds, tally)
    detail = {"ops_s": ops}
    if name == "emd_flows":
        detail.update({k: median(v) for k, v in wl.calls.items()})
    else:
        detail["funnel"] = wl.funnel
    print(json.dumps({"inputs": info, "setup_cycles_s": setups,
                      "warmup_s": warm, "warmup_ops_s": wl.warmup_ops}))
    print(json.dumps({"detail": detail}))
    if tally.notes:
        print(json.dumps({"failures": tally.notes[:20]}))
    return tally, {"setup_s": median(setups) + warm, "op_p50_s": median(ops)}


def traced(name: str, seed: int, seconds: float, work: str, cores: int):
    """One untraced operation after the cold one; then a fresh session
    with the event log on: the same loop traced, every layer probe, and
    a watched-directory segment. Returns the per-layer metrics."""
    import eventlog
    from harness import (Tally, clock, job_group, median, start_session,
                         stop_session)
    from metrics import COUNTERS
    from probes import LAYERS, Probes
    from workloads import WatchIngest

    tally = Tally()
    out: dict[str, float] = {}

    # A: untraced — session start, the warm-up, one more operation
    t0 = clock()
    spark = start_session(work, cores)
    out["session.start_s"] = clock() - t0
    wl_a = make(name, os.path.join(work, "a"), seed)
    wl_a.generate(spark)
    wl_a.warmup(spark, tally)
    ops_a = wl_a.run(spark, 0, tally, min_ops=1)
    # the cold first operation minus a warm one on the same inputs
    warm = ops_a[0] if wl_a.WARMUP_SIDE is None else wl_a.warmup_ops[-1]
    out["session.warmup_s"] = wl_a.cold_op_s - warm
    stop_session()

    # B: traced — the same loop, every call under its job group
    log_dir = os.path.join(work, "eventlog")
    spark = start_session(work, cores, event_log_dir=log_dir)
    # (no second warm-up: the JVM is warm, and a traced run must stay
    # inside its time limit on a slow machine)
    wl_b = make(name, os.path.join(work, "b"), seed)
    wl_b.generate(spark)
    ops_b = wl_b.run(spark, seconds, tally, tracing=True)
    out["trace.overhead_s"] = median(ops_b) - median(ops_a)

    # C: every layer; small side inputs for the kinds this workload
    # does not have
    if name == "emd_flows":
        emd = wl_b
        cur = make("curation_funnel", os.path.join(work, "docs-side"), seed,
                   small=True)
        cur.generate(spark)
    else:
        cur = wl_b
        emd = make("emd_flows", os.path.join(work, "emd-side"), seed,
                   small=True)
        emd.generate(spark)
        emd.run(spark, 0, tally, tracing=True, min_ops=1)
    with job_group(spark, "flows.analyzer", True):
        out.update(emd.analyze(spark, tally))
    out.update({f"flows.pipelines.{k}": median(v)
                for k, v in emd.calls.items()})

    watch = WatchIngest(os.path.join(work, "watch"), seed, WATCH_RATE)
    watch.warmup(spark, tally)
    watch.segment(spark, WATCH_SECONDS, tally)
    out.update(watch.stream_metrics())

    probes = Probes(spark, os.path.join(work, "probes"), seed)
    probes.emd(emd.n_files, emd.n_new, emd.cube, emd.stack)
    probes.curation(cur.docs_path, cur.bench_path, cur.quota, cur.budget)
    out.update(probes.out)
    stop_session()

    # D: Spark's event log, split by job group
    jobs = eventlog.read_jobs(eventlog.event_log_file(log_dir))
    stream_runs = {s["run_id"] for s in watch.segments}

    def layer_of(group: str | None) -> str | None:
        if group in stream_runs:  # the stream's jobs carry its run id
            return "streaming.watch"
        for layer in LAYERS:
            if group and (group == layer or group.startswith(layer + ".")):
                return layer
        return group

    flow_ops = len(emd.calls["hyperspectral_flow_s"])
    for layer in LAYERS:
        c = eventlog.counters([j for j in jobs if layer_of(j.group) == layer])
        per = flow_ops if layer == "flows.pipelines" else 1
        for k, _ in COUNTERS:
            out[f"{layer}.{k}"] = c[k] / per
    inc = eventlog.counters(
        [j for j in jobs if j.group == "io.binary_files.incremental"])
    out["io.binary_files.incremental_bytes_read_per_new_byte"] = (
        inc["input_bytes"] / probes.new_bytes)

    # the workload's own traced operations, per operation
    own = eventlog.counters([j for j in jobs if j.group == wl_b.group])
    n_ops = len(ops_b)
    out["spark.driver_only_s"] = eventlog.driver_only_seconds(
        jobs, wl_b.windows) / n_ops
    out["spark.outside_jvm_s"] = (own["run_s"] - own["cpu_s"]) / n_ops
    out["spark.gc_s"] = own["gc_s"] / n_ops
    return tally, out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("emd_flows", "curation_funnel"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="N of local[N] (default: the usable CPUs, at "
                         "most 4 on emd_flows and 2 on curation_funnel)")
    args = ap.parse_args(argv)

    import picoprobedataflow_spark  # noqa: F401  (fails outside a checkout)
    import harness
    from metrics import END_TO_END, PER_LAYER
    from workloads import WORKLOADS

    cores = args.cores or harness.default_cores(
        WORKLOADS[args.workload].CORES)
    work = os.path.join(ROOT, ".perfbench-work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        run, spec = ((traced, PER_LAYER) if args.trace
                     else (untraced, END_TO_END))
        tally, metrics = run(args.workload, args.seed, args.seconds, work,
                             cores)
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": unit}
                    for k, (unit, _) in spec.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
