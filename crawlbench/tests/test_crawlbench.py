"""The benchmark's own tests: seeded generators, the event-log aggregator
on a small recorded log, and the metric names. No Spark session is
started.

    python -m pytest crawlbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from crawlbench import run, trace, workloads  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generators --------------------------------------------------------------

def test_corpus_is_deterministic_per_seed():
    shape = workloads.workload("crawl_polite", 3).corpus
    a = workloads.planted_corpus(shape, 3)
    b = workloads.planted_corpus(shape, 3)
    c = workloads.planted_corpus(shape, 4)
    assert a == b
    assert a.docs != c.docs


def test_corpus_ground_truth_is_planted():
    shape = workloads.CorpusShape(n_singletons=20, n_families=5,
                                  exact_copies=1, near_copies=2, decoys=1)
    corpus = workloads.planted_corpus(shape, 7)
    assert len(corpus.docs) == 20 + 5 * 5
    assert len({d for d, _ in corpus.docs}) == len(corpus.docs)
    # one exact copy per family collapses
    assert corpus.exact_kept == len(corpus.docs) - 5
    # each near copy pairs with its base (and with its sibling only when
    # both edited the same position)
    assert 5 * 2 <= len(corpus.near_pairs) <= 5 * 3
    texts = dict(corpus.docs)
    for a, b in corpus.near_pairs:
        assert a < b
        assert workloads.jaccard(texts[a], texts[b]) >= \
            workloads.JACCARD_THRESHOLD
    assert corpus.decoy_pairs > 0
    # a family of base + 2 near copies + decoy keeps base-cluster + decoy
    assert corpus.kept == 20 + 5 * 2


def test_crawl_inputs_are_deterministic_per_seed():
    for name in workloads.WORKLOADS:
        a = workloads.workload(name, 5)
        assert a == workloads.workload(name, 5)
        assert a.crawl.web.seed == 5
        assert workloads.seed_urls(a.crawl, 5) == \
            workloads.seed_urls(workloads.workload(name, 5).crawl, 5)
        assert workloads.seed_urls(a.crawl, 5) != \
            workloads.seed_urls(workloads.workload(name, 6).crawl, 6)
        urls = workloads.seed_urls(a.crawl, 5)
        assert len(urls) == len(set(urls))
        web = a.crawl.web
        per_host = {}
        for u in urls:
            host = u.split("/")[2]
            per_host[host] = per_host.get(host, 0) + 1
        assert len(per_host) == web.n_hosts
        assert max(per_host.values()) == min(a.crawl.seeds_per_host,
                                             web.pages_per_host
                                             + web.skew_pages
                                             // web.skew_hosts)


# -- event-log aggregation ---------------------------------------------------

def _recorded():
    """A Spark 4.1 event log of three jobs, trimmed to job and task
    events: job 0 ran in group ``s0``, job 1 (a shuffle) in ``s1`` and
    job 2 with no group inside span ``s1``'s interval."""
    events = trace.read_event_log(os.path.join(DATA, "eventlog_small.json"))
    with open(os.path.join(DATA, "eventlog_small.spans.json")) as f:
        spans = [trace.Span(**s) for s in json.load(f)]
    return events, spans


def test_event_log_jobs():
    events, _ = _recorded()
    jobs = trace.aggregate_jobs(events)
    assert sorted(jobs) == [0, 1, 2]
    assert jobs[0]["group"] == "s0" and jobs[2]["group"] is None
    assert jobs[0]["tasks"] == 2 and jobs[0]["shuffle_write_bytes"] == 0
    assert jobs[1]["shuffle_write_bytes"] > 0
    assert jobs[1]["shuffle_read_bytes"] > 0
    for j in jobs.values():
        assert j["task_s"] > 0
        assert j["gc_s"] >= 0 and j["spill_bytes"] >= 0


def test_event_log_attribution_by_group_and_interval():
    events, spans = _recorded()
    jobs = trace.aggregate_jobs(events)
    totals = trace.attribute(spans, jobs)
    # s0 owns job 0; s1 owns job 1 by group and job 2 by interval; the
    # root span r sums both children
    assert totals["s0"]["jobs"] == 1
    assert totals["s1"]["jobs"] == 2
    assert totals["r"]["jobs"] == 3
    assert totals["r"]["tasks"] == sum(j["tasks"] for j in jobs.values())
    assert totals["s1"]["shuffle_write_bytes"] == \
        jobs[1]["shuffle_write_bytes"] + jobs[2]["shuffle_write_bytes"]


def test_span_writer_round_trips(tmp_path):
    tr = trace.Tracer()
    with tr.span("round.run_round", "w/1/0"):
        with tr.span("seen.probe", "w/1/0", rows=3):
            pass
    path = tmp_path / "spans.json"
    trace.write_spans(str(path), {"nproc": 4}, tr.spans, {})
    doc = json.loads(path.read_text())
    assert doc["env"] == {"nproc": 4}
    outer, inner = doc["spans"]
    assert inner["parent"] == outer["span_id"] and outer["parent"] is None
    assert inner["attrs"] == {"rows": 3}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


# -- metric names ------------------------------------------------------------

def _fake_bench() -> SimpleNamespace:
    """Just enough of a finished traced run for ``run.per_layer``."""
    tr = trace.Tracer()
    names = ["round.bootstrap", "spans.extract_outlink_arrays",
             "round.run_round", "fused.fused_probe_admit", "seen.probe",
             "seen.update", "politeness.update_host_state",
             "urlkit.canonicalize_urls_df", "rulebook.rule_book_keep",
             "politeness.robots_gate", "round.compact_linkbase",
             "dedup.exact", "dedup.minhash", "dedup.resolve", "dedup.keep",
             "dedup.lsh_candidates"]
    for n in names:
        with tr.span(n, "w/1/0") as s:
            s.attrs.update(edges=10, candidates=4, verified=2)
    files = {"frontier": [{"bytes": 5}], "seen_state": [{"bytes": 7}]}
    lineage = [{"round": 0, "frontier": 10, "files": files},
               {"round": 1, "metrics": {"frontier_next": 8}, "files": files}]
    replay = [dict(frontier_rows=10, max_group_rows=4, fused_admitted=5,
                   probe_hits=1, state_bytes=64, max_shard_signs=8,
                   canon_rows=20, canon_fast=15, canon_out=20, rule_kept=18,
                   robots_kept=16, round=0)]
    return SimpleNamespace(
        tracer=tr, replay=replay,
        run=SimpleNamespace(lineage=lambda: lineage),
        results=[{"admitted": 5, "fetch_ok": 5}])


def test_metric_names_match_benchmark_json():
    bj = _benchmark_json()
    bench = _fake_bench()
    totals = {s.span_id: dict.fromkeys(trace.AGG_KEYS, 1)
              for s in bench.tracer.spans}
    layer = run.per_layer(bench, totals, 4, 1.0, 2.0)
    assert set(layer) == {m["name"] for m in bj["per_layer"]}
    units = {m["name"]: m["unit"] for m in bj["per_layer"]}
    assert all(v["unit"] == units[k] for k, v in layer.items())
    e2e = run.end_to_end([1.0, 2.0, 3.0], [4.0, 5.0], [1.0], [2.0],
                         [{"admitted": 10}, {"admitted": 20}], 100)
    assert set(e2e) == {m["name"] for m in bj["end_to_end"]}
    assert all(v["value"] > 0 for v in e2e.values())


def test_metric_and_workload_names_are_well_formed():
    bj = _benchmark_json()
    names = [m["name"] for m in bj["end_to_end"] + bj["per_layer"]]
    names += [w["name"] for w in bj["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.fullmatch(n) and len(n) <= 64, n
    assert [w["name"] for w in bj["workloads"]] == list(workloads.WORKLOADS)
