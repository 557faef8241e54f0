"""Opt-in pytest plugin: Spark jobs and wall time per test.

Each test's setup, call and teardown run under one job group named
after the test's node id; after teardown the plugin reads the group's
job ids from ``statusTracker`` and the phase durations from the test
reports. Job counts do not swing with the machine the way wall time
does, so they are the steady measure of a test's Spark cost.

Usage (not loaded by the default suite)::

    python -m pytest tests/ -p scripts.job_counts \\
        --job-counts-out=job_counts.json

The JSON file maps each node id to ``{"jobs", "seconds", "outcome"}``;
the terminal summary prints the session total and the ``TOP`` tests by
job count.

Limits: the status tracker keeps only the last ``spark.ui.retainedJobs``
jobs (1000 by default), so a test that runs more reports at most that
many. Job groups are per thread: jobs started on another thread (a
streaming query's micro-batches) or under a test's own
``setJobGroup`` are not counted for the test. Jobs a test runs before
the session's first SparkContext exists cannot be grouped.
"""

from __future__ import annotations

import json

import pytest

TOP = 20


def _active_sc():
    from pyspark import SparkContext
    return SparkContext._active_spark_context


class JobCounts:
    def __init__(self, out_path: str | None):
        self.out_path = out_path
        self.results: dict[str, dict] = {}
        self._grouped: set[str] = set()

    def _set_group(self, nodeid: str) -> None:
        sc = _active_sc()
        if sc is not None and nodeid not in self._grouped:
            sc.setJobGroup(nodeid, nodeid)
            self._grouped.add(nodeid)

    @pytest.hookimpl(hookwrapper=True)
    def pytest_runtest_setup(self, item):
        self._set_group(item.nodeid)
        yield
        # the first test of a session creates the SparkContext in its
        # own setup; group what follows
        self._set_group(item.nodeid)

    def pytest_runtest_logreport(self, report):
        rec = self.results.setdefault(
            report.nodeid, {"jobs": 0, "seconds": 0.0, "outcome": None})
        rec["seconds"] = round(rec["seconds"] + report.duration, 3)
        if (report.when == "call" or report.outcome != "passed") \
                and rec["outcome"] in (None, "passed"):
            rec["outcome"] = report.outcome
        # counted after every phase: the last test's teardown stops
        # the session, and then its call-phase count stands
        sc = _active_sc()
        if sc is not None and report.nodeid in self._grouped:
            rec["jobs"] = len(
                sc.statusTracker().getJobIdsForGroup(report.nodeid))
            if report.when == "teardown":
                sc._jsc.clearJobGroup()

    def pytest_terminal_summary(self, terminalreporter):
        if not self.results:
            return
        total = sum(r["jobs"] for r in self.results.values())
        tr = terminalreporter
        tr.section("spark jobs per test")
        tr.write_line(f"total jobs: {total} over {len(self.results)} tests")
        ranked = sorted(self.results.items(),
                        key=lambda kv: (-kv[1]["jobs"], kv[0]))
        for nodeid, r in ranked[:TOP]:
            tr.write_line(f"{r['jobs']:6d} jobs {r['seconds']:8.1f} s  "
                          f"{nodeid}")
        if self.out_path:
            with open(self.out_path, "w") as f:
                json.dump(self.results, f, indent=1, sort_keys=True)
            tr.write_line(f"written: {self.out_path}")


def pytest_addoption(parser):
    group = parser.getgroup("job_counts")
    group.addoption("--job-counts-out", default=None,
                    help="write per-test job counts and durations as JSON")


def pytest_configure(config):
    config.pluginmanager.register(
        JobCounts(config.getoption("--job-counts-out")),
        "job_counts_recorder")
