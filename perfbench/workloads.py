"""The three workloads: what each one feeds the program, what it times
and how it checks the outputs.

- ``EmdFlows``        closed loop, one client: full hyperspectral flow,
                      incremental hyperspectral flow, spatiotemporal flow.
- ``WatchIngest``     open loop: Poisson file drops into a watched
                      directory under a continuous ingest stream (run
                      as a segment of every traced run, see NOTE.md).
- ``CurationFunnel``  closed loop, one client: ``curate_documents`` with
                      all seven stages on.

The closed-loop workloads expose ``generate`` (make the inputs from
the seed), ``warmup`` (untimed operations, returns their seconds) and
``run`` (timed operations for a number of seconds). ``corrupt=True`` perturbs
one output before it is checked; the self-test uses it to show that
each check can fail.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import time

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import inputs
from harness import Tally, clock, job_group, local_path, median, quantile
from picoprobedataflow_spark.flows import pipelines as P
from picoprobedataflow_spark.flows.analyzer import FlowAnalyzer
from picoprobedataflow_spark.flows.curation import curate_documents
from picoprobedataflow_spark.streaming import watch as W


#: a timed loop makes at least this many operations, so that its median
#: never rests on one or two of them
MIN_OPS = 2


def _closed_loop(op, seconds: float, min_ops: int) -> list[float]:
    """Call ``op`` back to back until ``seconds`` have passed (and at
    least ``min_ops`` times); the seconds of each call that succeeded."""
    ops: list[float] = []
    t_end = clock() + seconds
    n = 0
    while clock() < t_end or n < min_ops:
        n += 1
        s = op()
        if s is not None:
            ops.append(s)
    return ops


def _warmup(wl, spark: SparkSession, tally: Tally) -> float:
    """``wl.WARMUP_OPS`` untimed operations, on a side input of the sizes
    ``wl.WARMUP_SIDE`` seeded like the run, or on the run's own inputs
    when that is None; their wall seconds. ``warmup_ops`` keeps the
    seconds of each and ``cold_op_s`` the first.

    A call's time is mostly driver-side planning and job scheduling,
    which in a new JVM keep getting faster for several calls. Where
    that work is the same for small inputs, small calls get through
    it in fewer seconds."""
    t0 = clock()
    side = wl
    if wl.WARMUP_SIDE is not None:
        side = type(wl)(os.path.join(wl.root, "warmup"), wl.seed,
                        **wl.WARMUP_SIDE)
        side.generate(spark)
    ops = [side._operation(spark, tally, record=False)
           for _ in range(wl.WARMUP_OPS)]
    if None in ops:
        raise RuntimeError(f"{wl.name} warm-up failed: {tally.notes}")
    wl.warmup_ops = ops
    wl.cold_op_s = ops[0]
    if side is not wl:
        shutil.rmtree(side.root, ignore_errors=True)
    return clock() - t0


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _fail_reason(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {str(exc).splitlines()[0][:160]}" \
        if str(exc) else type(exc).__name__


# -- emd_flows --------------------------------------------------------------

class EmdFlows:
    """Per operation (one iteration): a fresh drop of ``n_files``
    hyperspectral files; a full ``hyperspectral_flow`` publishing to a
    fresh catalog; ``n_new`` more files; an incremental flow with
    ``processed=`` the first manifest; a ``spatiotemporal_flow`` over
    ``n_stacks`` frame stacks. The operation's time is the sum of the
    three calls."""

    name = "emd_flows"
    group = "flows.pipelines"
    #: the small side input, for the flow probes of a traced
    #: curation_funnel run
    SMALL = dict(n_files=4, n_new=1, cube=(16, 16, 32), n_stacks=1,
                 stack=(16, 16, 16))
    #: the warm-up runs on the run's own inputs: a cold call costs as
    #: much on SMALL, and the first calls on the own inputs after small
    #: ones were still ~15% slower than later ones. After one warm-up
    #: operation the next one was still 10-40% slower than the one after
    WARMUP_OPS, WARMUP_SIDE = 2, None
    #: task slots, at most. The Python/Arrow kernels run one task per
    #: file; on 4 vCPUs, local[2] made a run ~15% longer and no steadier
    #: (NOTE.md)
    CORES = 4

    def __init__(self, root: str, seed: int, n_files: int = 12,
                 n_new: int = 2, cube: tuple[int, int, int] = (32, 32, 32),
                 n_stacks: int = 3,
                 stack: tuple[int, int, int] = (48, 48, 48)):
        self.root, self.seed = root, seed
        self.n_files, self.n_new, self.cube = n_files, n_new, cube
        self.n_stacks, self.stack = n_stacks, stack
        self.iteration = 0
        self._drops: dict[int, tuple] = {}
        self.calls: dict[str, list[float]] = {
            "hyperspectral_flow_s": [], "hyperspectral_incremental_s": [],
            "spatiotemporal_flow_s": []}
        self.windows: list[tuple[float, float]] = []
        self.runs: list[tuple[str, str, float, float]] = []
        self.events: list[tuple[str, int, str, str, float]] = []

    def generate(self, spark: SparkSession) -> dict:
        """Writes the first drop; later drops are written per operation,
        outside the timed calls."""
        self._drop(self.iteration)
        n, b = inputs.dir_stats(self._dir(self.iteration))
        rows = (self.n_files * int(np.prod(self.cube))
                + self.n_stacks * int(np.prod(self.stack)))
        return {"files": n + self.n_new, "bytes": b, "longform_rows": rows}

    def _dir(self, k: int) -> str:
        return os.path.join(self.root, f"it{k}")

    def _drop(self, k: int):
        if k not in self._drops:
            d = self._dir(k)
            self._drops[k] = (
                inputs.write_hyperspectral_drop(
                    os.path.join(d, "hs"), (self.seed, k), self.n_files,
                    self.cube),
                inputs.write_temporal_drop(
                    os.path.join(d, "st"), (self.seed, k), self.n_stacks,
                    self.stack))
        return self._drops[k]

    def warmup(self, spark: SparkSession, tally: Tally) -> float:
        return _warmup(self, spark, tally)

    def run(self, spark: SparkSession, seconds: float, tally: Tally,
            tracing: bool = False, corrupt: bool = False,
            min_ops: int = MIN_OPS) -> list[float]:
        return _closed_loop(lambda: self._operation(
            spark, tally, tracing=tracing, corrupt=corrupt), seconds, min_ops)

    def _timed(self, spark, tracing, fn):
        with job_group(spark, self.group, tracing):
            w0, t0 = time.time(), clock()
            out = fn()
            t1, w1 = clock(), time.time()
        return out, t1 - t0, (w0, w1)

    def _operation(self, spark: SparkSession, tally: Tally,
                   record: bool = True, tracing: bool = False,
                   corrupt: bool = False) -> float | None:
        """One iteration; its seconds, or None when a call raised."""
        k = self.iteration
        self.iteration += 1
        cubes, stacks = self._drop(k)
        d = self._dir(k)
        hs_dir, st_dir = os.path.join(d, "hs"), os.path.join(d, "st")
        windows, runs, events = [], [], []
        try:
            r1, s1, w = self._timed(spark, tracing, lambda: (
                P.hyperspectral_flow(
                    spark, hs_dir, catalog_path=os.path.join(d, "cat-full"),
                    run_id=f"hs-full-{k}")))
            windows.append(w)
            runs.append((f"hs-full-{k}", "hs-full", *w))
            events += r1.step_events
            self._check_full(r1, cubes, tally, corrupt)

            # Each call is a separate flow invocation: the processed log
            # is read from storage and nothing stays cached between
            # calls. (A manifest still cached from the full call would
            # be served in place of the new directory scan — see NOTE.md.)
            log = os.path.join(d, "processed.parquet")
            r1.manifest.select("path", "sha256").write.parquet(log)
            spark.catalog.clearCache()
            new = inputs.write_hyperspectral_drop(
                hs_dir, (self.seed, k), self.n_new, self.cube,
                start=self.n_files)
            processed = spark.read.parquet(log)
            r2, s2, w = self._timed(spark, tracing, lambda: (
                P.hyperspectral_flow(
                    spark, hs_dir, catalog_path=os.path.join(d, "cat-inc"),
                    processed=processed, run_id=f"hs-inc-{k}")))
            windows.append(w)
            runs.append((f"hs-inc-{k}", "hs-inc", *w))
            events += r2.step_events
            self._check_incremental(r2, new, tally)

            r3, s3, w = self._timed(spark, tracing, lambda: (
                P.spatiotemporal_flow(
                    spark, st_dir, catalog_path=os.path.join(d, "cat-st"),
                    run_id=f"st-{k}")))
            windows.append(w)
            runs.append((f"st-{k}", "st", *w))
            events += r3.step_events
            self._check_frames(r3, stacks, tally)
        except Exception as exc:  # a failed call is counted, not fatal
            tally.record(f"{self.name} iteration {k}", False,
                         _fail_reason(exc))
            return None
        finally:
            self._drops.pop(k, None)
            spark.catalog.clearCache()
            shutil.rmtree(d, ignore_errors=True)
        if record:
            for key, s in zip(self.calls, (s1, s2, s3)):
                self.calls[key].append(s)
            self.windows += windows
            self.runs += runs
            self.events += events
        return s1 + s2 + s3

    # -- checks ---------------------------------------------------------

    @staticmethod
    def _check_manifest(manifest, expected: list[str], tally: Tally,
                        name: str) -> None:
        got = {local_path(r.path): r.sha256
               for r in manifest.select("path", "sha256").collect()}
        ok = sorted(got) == sorted(expected) and all(
            got[p] == _sha256(p) for p in expected)
        tally.record(name, ok, f"manifest {len(got)} rows for "
                     f"{len(expected)} files or sha256 mismatch")

    @staticmethod
    def _check_sums(result, cubes: dict[str, np.ndarray], tally: Tally,
                    name: str, corrupt: bool = False) -> None:
        image = result.analysis["image"].toPandas()
        spect = result.analysis["spectrum"].toPandas()
        if corrupt:
            image.loc[0, "intensity"] += 1.0
        ok = set(map(local_path, image["path"])) == set(cubes)
        for path, cube in cubes.items():
            nx, ny, ns = cube.shape
            img = image[image["path"].map(local_path) == path]
            got = np.full((nx, ny), np.nan)
            got[img["x"].to_numpy(), img["y"].to_numpy()] = img["intensity"]
            sp = spect[spect["path"].map(local_path) == path]
            got_sp = np.full(ns, np.nan)
            got_sp[sp["channel"].to_numpy()] = sp["counts"]
            c64 = cube.astype("float64")
            ok &= (len(img) == nx * ny and len(sp) == ns
                   and np.allclose(got, c64.sum(axis=2), rtol=1e-9, atol=0)
                   and np.allclose(got_sp, c64.sum(axis=(0, 1)),
                                   rtol=1e-9, atol=0))
        tally.record(name, bool(ok), "image/spectrum sums differ from numpy")

    def _check_full(self, r, cubes, tally: Tally, corrupt: bool) -> None:
        self._check_manifest(r.manifest, list(cubes), tally,
                             "hyperspectral manifest")
        self._check_sums(r, cubes, tally, "hyperspectral sums", corrupt)

    def _check_incremental(self, r, new, tally: Tally) -> None:
        self._check_manifest(r.manifest, list(new), tally,
                             "incremental manifest")
        self._check_sums(r, new, tally, "incremental sums")

    def _check_frames(self, r, stacks, tally: Tally) -> None:
        nt, nx, ny = self.stack
        frames = (r.analysis["frames_px"].groupBy("path", "t")
                  .agg(F.min("px").alias("lo"), F.max("px").alias("hi"),
                       F.count("*").alias("n")).collect())
        ok = (len(frames) == len(stacks) * nt
              and all(f.lo == 0 and f.hi == 255 and f.n == nx * ny
                      for f in frames))
        tally.record("spatiotemporal frames", ok,
                     "a frame does not span px 0..255")

    # -- flow telemetry (the paper's metric) --------------------------------

    def analyze(self, spark: SparkSession, tally: Tally) -> dict[str, float]:
        """FlowAnalyzer's per-step medians and overhead over the recorded
        runs, checked against the benchmark's own medians."""
        out: dict[str, float] = {}
        overheads: list[float] = []
        ok = bool(self.runs)
        t_describe = 0.0
        for kind in ("hs-full", "hs-inc", "st"):
            ids = {r[0] for r in self.runs if r[1] == kind}
            runs = spark.createDataFrame(
                [(r[0], "SUCCEEDED", r[2], r[3]) for r in self.runs
                 if r[1] == kind],
                "run_id string, status string, start_time double, "
                "completion_time double")
            ev = spark.createDataFrame(
                [e for e in self.events if e[0] in ids],
                "run_id string, entry_index int, code string, "
                "state_name string, time double")
            fa = FlowAnalyzer(runs, ev)
            t0 = clock()
            desc = {r.metric: r for r in fa.describe_runtimes().collect()}
            t_describe += clock() - t0
            overheads += [r.overhead for r in fa.overhead().collect()]
            own = _own_step_medians(self.events, ids)
            for step, med in own.items():
                got = desc.get(f"{step}_runtime")
                ok &= got is not None and abs(got.median - med) <= 1e-3
                if kind == "hs-full" or step == "TemporalImageTool":
                    out[f"flows.pipelines.step.{step}_s"] = got.median
        out["flows.pipelines.overhead_s"] = median(overheads)
        out["flows.analyzer.describe_runtimes_s"] = t_describe
        tally.record("FlowAnalyzer medians", ok,
                     "FlowAnalyzer per-step medians differ from the "
                     "benchmark's own")
        return out


def _own_step_medians(events, run_ids) -> dict[str, float]:
    starts, spans = {}, {}
    for run_id, _, code, step, t in events:
        if run_id not in run_ids:
            continue
        if code == "ActionStarted":
            starts[(run_id, step)] = t
        else:
            spans.setdefault(step, []).append(t - starts[(run_id, step)])
    return {s: median(v) for s, v in spans.items()}


# -- watch_ingest -------------------------------------------------------------

class WatchIngest:
    """Open loop. A generator thread drops ``*.emd`` files on a seeded
    Poisson schedule at ``rate`` files/s into an empty watched directory
    (written under a hidden name, then renamed); a continuous
    ``run_ingest_stream`` appends each micro-batch's manifest to
    parquet. Each operation is one file, timed from its due time to the
    commit of the micro-batch that held it."""

    name = "watch_ingest"

    def __init__(self, root: str, seed: int, rate: float,
                 cube: tuple[int, int, int] = (32, 32, 32)):
        self.root, self.seed, self.rate, self.cube = root, seed, rate, cube
        self.segment_no = 0
        self.latencies: list[float] = []
        self.segments: list[dict] = []

    def warmup(self, spark: SparkSession, tally: Tally) -> float:
        """A short unrecorded segment; its wall seconds."""
        t0 = clock()
        self.segment(spark, 1.0, tally, rate=20.0, record=False)
        return clock() - t0

    def segment(self, spark: SparkSession, seconds: float, tally: Tally,
                rate: float | None = None, record: bool = True,
                corrupt: bool = False) -> dict:
        """One segment from a fresh directory and checkpoint. Structured
        Streaming labels the stream's jobs with the query's run id, which
        the segment records, so it sets no job group of its own."""
        k = self.segment_no
        self.segment_no += 1
        d = os.path.join(self.root, f"seg{k}")
        in_dir, ckpt, out = (os.path.join(d, x) for x in ("in", "ckpt", "out"))
        os.makedirs(in_dir)
        rng = inputs.seeded_rng((self.seed, k), "arrivals")
        rate = rate or self.rate
        gaps = rng.exponential(1.0 / rate, size=int(rate * seconds * 3) + 10)
        due = np.cumsum(gaps)
        due = due[due < seconds]
        payloads = [inputs.hyperspectral_payload(
            inputs.seeded_rng((self.seed, k), f"watch{i}"), *self.cube,
            index=i)[0] for i in range(len(due))]
        names = [os.path.join(in_dir, f"f_{i:05d}.emd")
                 for i in range(len(due))]

        query = W.run_ingest_stream(W.file_watch_stream(spark, in_dir), ckpt,
                                    output_path=out, available_now=False)
        try:
            _wait(lambda: query.lastProgress is not None, 60.0,
                  "the stream's first trigger")
            gen = _Generator(names, payloads, due)
            gen.start()
            gen.join(timeout=seconds + 60.0)
            if gen.is_alive():
                raise RuntimeError("file generator did not finish")
            want = {local_path(p) for p in names}
            _wait(lambda: want <= set(_committed_files(ckpt)), 120.0,
                  "every dropped file to be committed")
            progress = [json.loads(p.json) for p in query.recentProgress]
        finally:
            query.stop()
        committed = _committed_files(ckpt)
        commit_t = _commit_times(ckpt)
        lat = [commit_t[committed[p]] - (gen.t0 + t)
               for p, t in zip(names, due)]
        self._check(spark, out, names, payloads, tally, corrupt)
        seg = {"latencies": lat, "progress": progress, "due": due.tolist(),
               "t0": gen.t0, "written": gen.written,
               "batch_of": [committed[p] for p in names],
               "commit_t": commit_t, "run_id": str(query.runId)}
        shutil.rmtree(d, ignore_errors=True)
        if record:
            self.latencies += lat
            self.segments.append(seg)
        return seg

    @staticmethod
    def _check(spark, out, names, payloads, tally: Tally,
               corrupt: bool) -> None:
        got = spark.read.parquet(out).select("path", "sha256").toPandas()
        if corrupt:
            got = got.iloc[1:]
        counts = got["path"].map(local_path).value_counts().to_dict()
        sha = dict(zip(got["path"].map(local_path), got["sha256"]))
        for p, payload in zip(names, payloads):
            ok = (counts.get(p) == 1
                  and sha[p] == hashlib.sha256(payload).hexdigest())
            tally.record(f"ingest {os.path.basename(p)}", ok,
                         f"ingested {counts.get(p, 0)} times or sha256 "
                         f"mismatch")

    def stream_metrics(self) -> dict[str, float]:
        """``streaming.watch.*`` from the recorded segments'
        StreamingQueryProgress and source commit log."""
        batches, trig, add, lst, waits, late = [], [], [], [], [], []
        backlog = 0
        for seg in self.segments:
            for p in seg["progress"]:
                if p.get("numInputRows", 0) <= 0:
                    continue
                dm = p.get("durationMs", {})
                batches.append(p["numInputRows"])
                trig.append(dm.get("triggerExecution", 0) / 1e3)
                add.append(dm.get("addBatch", 0) / 1e3)
                lst.append(dm.get("latestOffset", 0) / 1e3)
            starts = {p["batchId"]: _iso_seconds(p["timestamp"])
                      for p in seg["progress"]}
            for b, t in zip(seg["batch_of"], seg["due"]):
                if b in starts:
                    waits.append(starts[b] - (seg["t0"] + t))
            late += [w - (seg["t0"] + t)
                     for w, t in zip(seg["written"], seg["due"])]
            events = sorted([(w, 1) for w in seg["written"]]
                            + [(seg["commit_t"][b], -1)
                               for b in seg["batch_of"]])
            level = 0
            for _, step in events:
                level += step
                backlog = max(backlog, level)
        return {
            "streaming.watch.batches": len(batches),
            "streaming.watch.files_per_batch_p50": median(batches),
            "streaming.watch.trigger_s_p50": median(trig),
            "streaming.watch.add_batch_s_p50": median(add),
            "streaming.watch.list_s_p50": median(lst),
            "streaming.watch.wait_s_p50": median(waits),
            "streaming.watch.backlog_files_max": backlog,
            "streaming.watch.generator_late_s_max": max(late),
            "streaming.watch.latency_p50_s": median(self.latencies),
            "streaming.watch.latency_p90_s": quantile(self.latencies, 0.9),
        }


class _Generator(threading.Thread):
    """Writes file i at ``t0 + due[i]`` under a hidden temporary name,
    then renames it, so the stream never lists a partial file."""

    def __init__(self, names, payloads, due):
        super().__init__(daemon=True)
        self.names, self.payloads, self.due = names, payloads, due
        self.t0 = time.time() + 0.1
        self.written: list[float] = []

    def run(self) -> None:
        for name, payload, t in zip(self.names, self.payloads, self.due):
            delay = self.t0 + t - time.time()
            if delay > 0:
                time.sleep(delay)
            d, base = os.path.split(name)
            tmp = os.path.join(d, f".{base}.tmp")
            with open(tmp, "wb") as f:
                f.write(payload)
            os.rename(tmp, name)
            self.written.append(time.time())


def _wait(cond, timeout: float, what: str) -> None:
    t_end = time.time() + timeout
    while not cond():
        if time.time() > t_end:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.02)


def _committed_files(ckpt: str) -> dict[str, int]:
    """path -> batch id, for files in batches whose commit is written
    (file-source log under ``sources/0``, commit log under ``commits``)."""
    commits = _commit_times(ckpt)
    src = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(src, name), encoding="utf-8") as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:
            continue
        for line in lines:
            if not line.strip():
                continue
            try:
                e = json.loads(line)
            except json.JSONDecodeError:  # a log file being written
                break
            if e["batchId"] in commits:
                out[local_path(e["path"])] = e["batchId"]
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
            for n in os.listdir(d) if n.isdigit()}


def _iso_seconds(ts: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# -- curation_funnel ----------------------------------------------------------

class CurationFunnel:
    """Closed loop, one client: ``curate_documents`` over a seeded
    corpus with all seven stages on. ``url`` is derived from ``source``;
    a seeded 2% of the docs is the benchmark corpus for decontamination;
    the domain quota and token budget are set so that both stages drop
    rows."""

    name = "curation_funnel"
    group = "flows.curation"
    #: the small side input, for the curation probes of a traced
    #: emd_flows run
    SMALL = dict(n_docs=200)
    #: three warm-up calls on 60 docs cost less than two on the run's
    #: own 400, and leave the timed calls near their later speed where
    #: two on the 400 left them ~30% above it
    WARMUP_OPS, WARMUP_SIDE = 3, dict(n_docs=60)
    #: task slots, at most. A call is driver-bound: more slots only take
    #: CPU from the driver thread and the JIT and GC threads. On 4 vCPUs,
    #: ten runs spread 0.19-0.21 on local[4] and 0.14 on local[2]
    #: (NOTE.md)
    CORES = 2

    def __init__(self, root: str, seed: int, n_docs: int = 400,
                 bench_frac: float = 0.02):
        self.root, self.seed = root, seed
        self.n_docs, self.bench_frac = n_docs, bench_frac
        self.kept_hash: str | None = None
        self.windows: list[tuple[float, float]] = []

    def generate(self, spark: SparkSession) -> dict:
        docs = inputs.documents(self.seed, self.n_docs)
        bench = inputs.bench_corpus(docs, self.seed, self.bench_frac)
        os.makedirs(self.root, exist_ok=True)
        self.docs_path = os.path.join(self.root, "documents.parquet")
        self.bench_path = os.path.join(self.root, "bench.parquet")
        docs.to_parquet(self.docs_path, index=False)
        bench.to_parquet(self.bench_path, index=False)
        tokens = int(docs["text"].str.split().str.len().sum())
        self.quota = max(2, self.n_docs // 30)
        # after the earlier stages and the quota, the kept docs hold well
        # over a quarter of the tokens, so the budget stage drops rows
        self.budget = int(0.25 * tokens)
        return {"rows": len(docs), "bench_rows": len(bench),
                "bytes": os.path.getsize(self.docs_path)
                + os.path.getsize(self.bench_path),
                "tokens": tokens, "domain_quota": self.quota,
                "token_budget": self.budget}

    def frames(self, spark: SparkSession):
        return (spark.read.parquet(self.docs_path),
                spark.read.parquet(self.bench_path))

    def warmup(self, spark: SparkSession, tally: Tally) -> float:
        return _warmup(self, spark, tally)

    def run(self, spark: SparkSession, seconds: float, tally: Tally,
            tracing: bool = False, corrupt: bool = False,
            min_ops: int = MIN_OPS) -> list[float]:
        return _closed_loop(lambda: self._operation(
            spark, tally, tracing=tracing, corrupt=corrupt), seconds, min_ops)

    def _operation(self, spark: SparkSession, tally: Tally,
                   record: bool = True, tracing: bool = False,
                   corrupt: bool = False) -> float | None:
        docs, bench = self.frames(spark)
        try:
            with job_group(spark, self.group, tracing):
                w0, t0 = time.time(), clock()
                res = curate_documents(
                    docs, bench_docs=bench, url_col="url",
                    domain_quota=self.quota, token_budget=self.budget)
                secs, w1 = clock() - t0, time.time()
            ids = sorted(r.doc_id
                         for r in res.kept.select("doc_id").collect())
        except Exception as exc:
            tally.record(f"{self.name} call", False, _fail_reason(exc))
            return None
        if corrupt:
            ids = ids[1:]
        counts = [n for _, n in res.funnel]
        digest = hashlib.sha256(json.dumps(ids).encode()).hexdigest()
        if self.kept_hash is None:
            self.kept_hash = digest
        stages = dict(res.funnel)
        ok = (all(a >= b for a, b in zip(counts, counts[1:]))
              and len(res.funnel) == 8 and counts[-1] == len(ids)
              and stages["quota"] < stages["decontam"]
              and stages["budget"] < stages["quota"]
              and digest == self.kept_hash)
        tally.record(f"{self.name} call", ok,
                     f"funnel {res.funnel} or kept-id hash changed")
        self.funnel = res.funnel
        if record:
            self.windows.append((w0, w1))
        return secs


WORKLOADS = {c.name: c for c in (EmdFlows, WatchIngest, CurationFunnel)}
