"""End-to-end flow tests: the hyperspectral / spatiotemporal pipelines
over FAKE-EMD drops, the FlowAnalyzer over the telemetry they emit
(plus FIXTURES-shaped crafted tables), and the record-oriented side
sources (SQLite / paginated REST / pickle, incl. the J2 regexp-key
join)."""

from __future__ import annotations

import pickle
import sqlite3

import numpy as np
import pytest
from pyspark.sql import functions as F

from picoprobedataflow_spark.flows import (
    FlowAnalyzer,
    hyperspectral_flow,
    spatiotemporal_flow,
)
from picoprobedataflow_spark.io import emd
from picoprobedataflow_spark.io.binary_files import search_catalog
from picoprobedataflow_spark.io.records import (
    TRANSITIONS_SCHEMA,
    paginated_rest_scan,
    read_pickled_runs,
    read_sqlite,
)


def _write_emd_files(directory, indices, seed=0):
    rng = np.random.default_rng(seed)
    for i in indices:
        cube = rng.integers(0, 50, size=(6, 5, 4)).astype("f4")
        (directory / f"simulator-{i}-run.emd").write_bytes(
            emd.write_fake_emd([("EDS", cube, {"i": i})]))


@pytest.fixture()
def emd_drop(tmp_path):
    _write_emd_files(tmp_path, range(3))
    return tmp_path


def test_hyperspectral_flow_end_to_end(spark, emd_drop, tmp_path):
    cat = str(tmp_path / "catalog")
    res = hyperspectral_flow(spark, str(emd_drop), catalog_path=cat)
    assert res.manifest.count() == 3
    assert res.publish_docs.count() == 1
    img = res.analysis["image"]
    assert img.count() == 3 * 6 * 5            # per-file (x, y) pixels
    sp = res.analysis["spectrum"]
    assert sp.count() == 3 * 4                 # per-file channels
    # telemetry: 4 steps × start+end, sequential
    ev = res.step_events_df(spark)
    assert ev.count() == 8
    steps = [r.state_name for r in ev.orderBy("entry_index").collect()]
    assert steps[0] == steps[1] == "Transfer"
    assert steps[2] == steps[3] == "HyperspectralImageTool"
    # published catalog is queryable through the search API
    docs = search_catalog(spark, cat)
    assert docs.count() == 1 and docs.collect()[0].n_files == 3
    hit = search_catalog(spark, cat, text_like="simulator-1-run").collect()
    assert len(hit) == 1 and hit[0].n_files == 3
    assert search_catalog(spark, cat, text_like="no-such-file").count() == 0


def test_repeated_flows_over_one_directory_see_new_files(spark, emd_drop):
    """Flows leave no cached plan behind, so each flow over a directory
    scans it afresh within one session: an incremental run after new
    files land sees exactly those, and a later full run sees all."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # only to start from an empty cache
    first = hyperspectral_flow(spark, str(emd_drop))
    assert cache.isEmpty()
    _write_emd_files(emd_drop, range(3, 5), seed=1)

    inc = hyperspectral_flow(spark, str(emd_drop), processed=first.manifest)
    assert cache.isEmpty()
    assert inc.manifest.count() == 2
    assert inc.analysis["image"].count() == 2 * 6 * 5

    again = hyperspectral_flow(spark, str(emd_drop))
    assert cache.isEmpty()
    assert again.manifest.count() == 5
    assert again.publish_docs.collect()[0].n_files == 5


def test_spatiotemporal_flow_normalizes(spark, emd_drop):
    res = spatiotemporal_flow(spark, str(emd_drop))
    px = res.analysis["frames_px"]
    stats = px.agg(F.min("px"), F.max("px")).collect()[0]
    assert stats[0] == 0 and stats[1] == 255


def test_flow_analyzer_on_flow_telemetry(spark, emd_drop):
    res = hyperspectral_flow(spark, str(emd_drop), run_id="r1")
    ev = res.step_events_df(spark)
    first = ev.agg(F.min("time")).collect()[0][0]
    last = ev.agg(F.max("time")).collect()[0][0]
    runs = spark.createDataFrame(
        [("r1", "SUCCEEDED", float(first), float(last)),
         ("r2", "FAILED", 0.0, 1.0)],  # P1: filtered out
        "run_id string, status string, start_time double, "
        "completion_time double")
    fa = FlowAnalyzer(runs, ev)
    wide = fa.extract_times().collect()
    assert len(wide) == 1
    row = wide[0]
    assert row.flow_runtime >= 0
    for s in fa.steps:
        assert getattr(row, f"{s}_runtime") >= 0
    stats = {r.metric: r for r in fa.describe_runtimes().collect()}
    assert set(stats) == {f"{s}_runtime" for s in fa.steps} | {"flow_runtime"}
    assert stats["flow_runtime"].n == 1
    ov = fa.overhead().collect()[0]
    assert abs((ov.flow_runtime - ov.active_time) - ov.overhead) < 1e-9


def test_flow_analyzer_describe_usage(spark):
    runs = spark.createDataFrame(
        [("r1", "SUCCEEDED", 0.0, 100.0)],
        "run_id string, status string, start_time double, completion_time double")
    ev = spark.createDataFrame(
        [("r1", 0, "ActionStarted", "Transfer", 0.0),
         ("r1", 1, "ActionCompleted", "Transfer", 40.0),
         ("r1", 2, "ActionStarted", "Tool", 40.0),
         ("r1", 3, "ActionCompleted", "Tool", 90.0)],
        "run_id string, entry_index int, code string, state_name string, "
        "time double")
    tr = spark.createDataFrame(
        [("r1", 2 * 1024 ** 3)], "run_id string, bytes_transferred long")
    fa = FlowAnalyzer(runs, ev, transfers=tr, compute_steps=("Tool",))
    usage = fa.describe_usage().collect()[0]
    assert usage.total_gb == 2.0
    assert usage.total_compute_sec == 50.0
    recent = fa.most_recent_tasks(limit=5).collect()
    assert [r.run_id for r in recent] == ["r1"]


def test_sqlite_transitions_and_j2_regexp_join(spark, tmp_path):
    """S8 + J2: transitions log from SQLite joined to runs via
    regexp_replace(action_id, '^tg_', '') (performance.ipynb cell 8)."""
    db = tmp_path / "tasks.db"
    con = sqlite3.connect(db)
    con.execute("""CREATE TABLE transitions(
        task_uuid TEXT, message TEXT, state_time INTEGER, user_id INTEGER,
        task_group_uuid TEXT, actor TEXT, endpoint_uuid TEXT,
        function_uuid TEXT, container_uuid TEXT, asctime TEXT,
        PRIMARY KEY (task_uuid, message))""")
    rows = [
        ("t1", "execution-start", 1_000_000_000_000, 1, "g1", "interchange",
         None, "f1", None, "2023-08-20 16:46:52,123"),
        ("t1", "execution-end", 4_500_000_000_000, 1, "g1", "interchange",
         None, "f1", None, "2023-08-20 16:46:55,623"),
    ]
    con.executemany("INSERT INTO transitions VALUES (?,?,?,?,?,?,?,?,?,?)",
                    rows)
    con.commit(); con.close()

    tr = read_sqlite(spark, str(db), "transitions", TRANSITIONS_SCHEMA)
    assert tr.count() == 2

    runs = spark.createDataFrame([("tg_g1", "run-1")],
                                 "action_id string, label string")
    joined = tr.join(
        runs, F.regexp_replace(runs.action_id, "^tg_", "") == tr.task_group_uuid)
    assert joined.count() == 2

    # F4: execution time from epoch-ns pivot (the notebook's pairwise delta)
    delta = (tr.groupBy("task_uuid")
               .agg(((F.max(F.when(F.col("message") == "execution-end",
                                   F.col("state_time")))
                      - F.max(F.when(F.col("message") == "execution-start",
                                     F.col("state_time")))) / 1e9)
                    .alias("exec_sec")).collect()[0])
    assert delta.exec_sec == 3500.0


def test_paginated_rest_scan_respects_limit_and_marker(spark):
    pages = {
        None: {"runs": [{"run_id": f"r{i}", "status": "SUCCEEDED"}
                        for i in range(3)],
               "has_next_page": True, "marker": "m1"},
        "m1": {"runs": [{"run_id": f"r{i}", "status": "FAILED"}
                        for i in range(3, 6)],
               "has_next_page": False, "marker": None},
    }
    calls = []

    def pager(marker):
        calls.append(marker)
        return pages[marker]

    df = paginated_rest_scan(spark, pager,
                             "run_id string, status string", limit=4)
    assert df.count() == 4                       # O2 head-N
    assert calls == [None, "m1"]
    assert df.filter(F.col("status") == "SUCCEEDED").count() == 3


def test_read_pickled_runs(spark, tmp_path):
    p = tmp_path / "performance_x.pkl"
    payload = [{"run_id": "a", "status": "SUCCEEDED"},
               {"run_id": "b", "status": "FAILED"}]
    p.write_bytes(pickle.dumps(payload))
    df = read_pickled_runs(
        spark, str(p), "run_id string, status string",
        extract=lambda obj: ((r["run_id"], r["status"]) for r in obj))
    assert sorted(r.run_id for r in df.collect()) == ["a", "b"]


def test_curation_flow_end_to_end(spark):
    """The composed curation funnel: each stage drops exactly the
    planted offender — junk (quality), spam (repetition), exact
    dups (keep-min-id), a near dup (keep-min-id over the closure),
    a benchmark copy (decontam) — funnel counts are monotone and
    the kept set is exactly the clean docs."""
    from picoprobedataflow_spark.flows.curation import \
        curate_documents

    # generated prose: unique content words + each stopword exactly
    # twice, so quality passes (stopword mass, length) while every
    # repetition metric stays under its threshold (top word 2/28,
    # no repeated bigram/trigram)
    sw = ("the", "a", "of", "and", "to", "is", "in")
    good = [" ".join(f"{s} item{i}x{j}"
                     for j, s in enumerate(sw * 2))
            for i in range(4)]
    rows = [(i, t) for i, t in enumerate(good)]
    rows += [(4, "zz"),                       # quality drop
             (5, "spam " * 60),               # repetition drop
             (6, good[0]), (7, good[0]),      # exact dups of 0
             (8, good[1] + " indeed")]        # near dup of 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, good[3])],
                                  "doc_id long, text string")
    res = curate_documents(docs, min_quality=0.2, bench_docs=bench,
                           contamination_threshold=0.2)
    kept = sorted(r.doc_id for r in res.kept.collect())
    assert kept == [0, 1, 2]
    stages = [s for s, _ in res.funnel]
    assert stages == ["input", "quality", "repetition", "exact",
                      "near", "decontam"]
    counts = [n for _, n in res.funnel]
    assert counts == [9, 8, 7, 5, 4, 3]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    # determinism: a second run returns the identical kept set
    res2 = curate_documents(docs, min_quality=0.2, bench_docs=bench,
                            contamination_threshold=0.2)
    assert sorted(r.doc_id for r in res2.kept.collect()) == kept
    # threshold 0.0 with a bench corpus is rejected (would empty
    # the corpus), not silently applied
    import pytest as _pytest
    with _pytest.raises(ValueError):
        curate_documents(docs, bench_docs=bench,
                         contamination_threshold=0.0)


def test_curation_flow_quota_and_budget_stages(spark):
    """The optional tail stages in isolation: the per-domain cap
    keeps at most `quota` docs per registrable domain, and the token
    budget keeps the greedy best-quality-first prefix."""
    from picoprobedataflow_spark.flows.curation import \
        curate_documents

    long_t = ("the long and winding report described every one of "
              "the many results in careful detail with the full "
              "context that the reviewers had requested before")
    short_t = "the short note said little and the matter rested"
    rows = [(0, long_t, "https://a.com/x"),
            (1, long_t + " again", "https://a.com/y"),
            (2, long_t + " more", "https://a.com/z"),
            (3, short_t, "https://b.org/only")]
    docs = spark.createDataFrame(rows,
                                 "doc_id long, text string, url string")
    res = curate_documents(docs, min_quality=None,
                           repetition_filter=False,
                           exact_dedup=False, near_dedup=False,
                           url_col="url", domain_quota=2)
    kept = {r.doc_id for r in res.kept.collect()}
    assert len(kept & {0, 1, 2}) == 2   # a.com capped at 2
    assert 3 in kept                     # b.org under quota
    assert dict(res.funnel)["quota"] == 3

    n_long = len(long_t.split())
    res2 = curate_documents(docs, min_quality=None,
                            repetition_filter=False,
                            exact_dedup=False, near_dedup=False,
                            token_budget=n_long)
    kept2 = [r for r in res2.kept.collect()]
    # greedy prefix: only docs STARTING before the budget survive;
    # the highest-quality doc starts at 0, the next at >= n_long
    assert len(kept2) == 1
    assert dict(res2.funnel)["budget"] == 1


def test_curation_flow_total_on_empty_corpus(spark):
    """The full funnel with every stage enabled is total on the
    EMPTY corpus: no stage crashes, every funnel count is 0, and the
    kept frame is empty with the input schema."""
    from picoprobedataflow_spark.flows.curation import \
        curate_documents

    empty = spark.createDataFrame(
        [], "doc_id long, text string, url string")
    bench = spark.createDataFrame([(0, "a benchmark of text")],
                                  "doc_id long, text string")
    res = curate_documents(empty, min_quality=0.2, bench_docs=bench,
                           contamination_threshold=0.2,
                           url_col="url", domain_quota=2,
                           token_budget=100)
    assert res.kept.collect() == []
    assert res.kept.columns == ["doc_id", "text", "url"]
    assert all(n == 0 for _, n in res.funnel)
    assert [s for s, _ in res.funnel] == [
        "input", "quality", "repetition", "exact", "near",
        "decontam", "quota", "budget"]


def test_curation_flow_rejects_non_integral_id_for_near_stage(spark):
    """A non-integral id fails FAST with a clear TypeError when
    near_dedup or token_budget is enabled (review find: the cast
    would otherwise crash deep in the near stage under ANSI, or
    silently empty the corpus without it), and works when those
    stages are off."""
    import pytest as _pytest

    from picoprobedataflow_spark.flows import curate_documents

    docs = spark.createDataFrame(
        [("a", "the text of a and the rest of it is fine here")],
        "doc_id string, text string")
    with _pytest.raises(TypeError):
        curate_documents(docs)
    with _pytest.raises(TypeError):
        curate_documents(docs, near_dedup=False, token_budget=10)
    res = curate_documents(docs, min_quality=None,
                           repetition_filter=False,
                           near_dedup=False)
    assert [r.doc_id for r in res.kept.collect()] == ["a"]


def test_crawl_frontier_prioritization(spark):
    """The acquisition-side composition: PageRank over the
    normalized link graph, robots-disallowed URLs dropped, each
    domain capped at quota by SCORE, global top-N by score — and
    case-variant URL spellings merge into one node."""
    from picoprobedataflow_spark.flows import prioritize_frontier
    from picoprobedataflow_spark.functions.web import \
        robots_rules_table

    edges = [
        ("https://a.com/", "https://a.com/1"),
        ("HTTPS://A.com/", "https://a.com/2"),   # case variant of hub
        ("https://a.com/", "https://a.com/3"),
        ("https://a.com/1", "https://b.org/x"),
        ("https://a.com/2", "https://b.org/x"),
        ("https://a.com/3", "https://b.org/x"),
        ("https://b.org/x", "https://a.com/private"),
    ]
    links = spark.createDataFrame(edges,
                                  "src_url string, dst_url string")
    rules = robots_rules_table(
        spark, [("a.com", "/private", False)])
    out = prioritize_frontier(links, rules, quota=2,
                              top_n=10).collect()
    urls = [r.url for r in out]
    # robots: the disallowed URL never reaches the frontier
    assert "https://a.com/private" not in urls
    # normalization: the case variant MERGED into one hub — no raw
    # spelling survives, and /1 /2 /3 share identical pr (an
    # unmerged hub would split its rank: /2 fed by one spelling,
    # /1 /3 by the other, unequal scores — review find: the old
    # count()<=1 assertion was vacuously true)
    assert "HTTPS://A.com/" not in urls
    prs = {r.url: r.pr for r in out}
    fed = [prs[u] for u in ("https://a.com/1", "https://a.com/2",
                            "https://a.com/3") if u in prs]
    assert len(set(fed)) == 1 and len(fed) >= 2
    # quota: a.com capped at 2, ranked 1..2 by score
    acom = [r for r in out if r.domain == "a.com"]
    assert len(acom) == 2
    assert sorted(r.allowed_rank for r in acom) == [1, 2]
    # score order: the heavily-linked b.org/x leads the list
    assert out[0].url == "https://b.org/x"
    assert all(out[i].pr >= out[i + 1].pr
               for i in range(len(out) - 1))
    # top_n truncates
    assert len(prioritize_frontier(links, rules, quota=2,
                                   top_n=2).collect()) == 2


def test_crawl_frontier_excludes_fetched(spark):
    """Already-fetched URLs leave the candidate set (even under a
    spelling variant) but keep donating rank to the graph; a
    multi-column fetched frame is rejected."""
    import pytest as _pytest

    from picoprobedataflow_spark.flows import prioritize_frontier
    from picoprobedataflow_spark.functions.web import \
        robots_rules_table

    links = spark.createDataFrame(
        [("https://a.com/", "https://b.org/x"),
         ("https://a.com/", "https://a.com/1"),
         ("https://b.org/x", "https://a.com/1")],
        "src_url string, dst_url string")
    rules = robots_rules_table(spark, [])
    base = prioritize_frontier(links, rules, top_n=10).collect()
    assert "https://b.org/x" in {r.url for r in base}
    fetched = spark.createDataFrame([("HTTPS://B.org/x#seen",)],
                                    "u string")
    out = prioritize_frontier(links, rules, top_n=10,
                              fetched=fetched).collect()
    urls = {r.url for r in out}
    assert "https://b.org/x" not in urls          # excluded
    assert "https://a.com/1" in urls              # still ranked by it
    pr_a1 = {r.url: r.pr for r in base}["https://a.com/1"]
    assert {r.url: r.pr for r in out}["https://a.com/1"] == pr_a1
    with _pytest.raises(ValueError):
        prioritize_frontier(links, rules,
                            fetched=links)  # 2 columns


def test_crawl_frontier_total_on_empty_graph(spark):
    """An empty link graph yields an empty frontier with the output
    schema — no stage crashes (pagerank's empty-graph totality,
    the robots gate and quota over zero candidates)."""
    from picoprobedataflow_spark.flows import prioritize_frontier
    from picoprobedataflow_spark.functions.web import \
        robots_rules_table

    links = spark.createDataFrame(
        [], "src_url string, dst_url string")
    rules = robots_rules_table(spark, [("a.com", "/x", False)])
    out = prioritize_frontier(links, rules)
    assert out.collect() == []
    assert out.columns == ["url", "domain", "pr", "allowed_rank"]


def test_wet_to_corpus_composition(spark, tmp_path):
    """Acquisition-to-corpus end-to-end (round 15): a WET member on
    disk flows through reconciliation (the truncated quoted-dump
    page quarantines), the documents-shaped projection, line-grain
    boilerplate removal (the nav bar stamped on every page keeps
    zero copies) and the curation funnel (the post-clean exact dup
    drops, everything honest survives) — every stage the real
    CommonCrawl recipe runs, composed over one fixture."""
    from picoprobedataflow_spark.flows.curation import \
        curate_documents
    from picoprobedataflow_spark.io.warc import (
        read_wet_reconciled, wet_documents)
    from picoprobedataflow_spark.operators.dedup import \
        remove_frequent_lines

    nav = "HOME | ABOUT | CONTACT"
    sw = ("the", "a", "of", "and", "to", "is", "in")
    prose = [" ".join(f"{s} page{i}tok{j}"
                      for j, s in enumerate(sw * 2))
             for i in range(4)]
    bodies = [f"{nav}\r\n{prose[0]}",
              f"{nav}\r\n{prose[1]}",
              f"{nav}\r\n{prose[2]}",
              f"{nav}\r\n{prose[0]}",        # dup of page 0's prose
              f"{nav}\r\nsee:\r\n\r\nWARC/1.0\r\nquoted dump"]

    def rec(i, body):
        return ("WARC/1.0\r\n"
                "WARC-Type: conversion\r\n"
                f"WARC-Target-URI: https://s{i}.example.com/p{i}\r\n"
                f"WARC-Date: 2024-07-01T00:0{i}:00Z\r\n"
                f"Content-Length: {len(body.encode())}\r\n"
                "\r\n" + body)

    member = "\r\n\r\n".join(
        rec(i, b) for i, b in enumerate(bodies)) + "\r\n\r\n"
    p = tmp_path / "crawl.wet"
    p.write_bytes(member.encode())

    clean, quar = read_wet_reconciled(spark, str(p))
    assert clean.count() == 4
    assert [r.target_uri for r in quar.collect()] \
        == ["https://s4.example.com/p4"]

    # drop the quarantined page the way a pipeline would: anti-join
    # the documents projection against the quarantine frame's ids
    # (wet_documents ids are xxhash64(uri, date) — recompute on quar)
    bad_ids = quar.select(
        F.xxhash64(F.col("target_uri"),
                   F.col("warc_date").cast("string"))
        .alias("doc_id"))
    docs = (wet_documents(spark, str(p))
            .join(bad_ids, "doc_id", "left_anti"))
    assert docs.count() == 4
    assert {r.source for r in docs.collect()} == {"example.com"}

    cleaned = remove_frequent_lines(docs, min_df=3)
    texts = {r.doc_id: r.cleaned for r in cleaned.collect()}
    assert all(nav not in t for t in texts.values())     # nav gone
    assert sorted(t for t in texts.values()) \
        == sorted([prose[0], prose[1], prose[2], prose[0]])

    res = curate_documents(
        cleaned.select("doc_id", F.col("cleaned").alias("text")),
        min_quality=0.2, near_dedup=False)
    kept_texts = sorted(r.text for r in res.kept.collect())
    assert kept_texts == sorted([prose[0], prose[1], prose[2]])
    counts = dict(res.funnel)
    assert counts["input"] == 4 and counts["exact"] == 3
