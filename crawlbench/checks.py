"""Untimed output checks: the crawl against the pure-Python simulator and
its invariants, the dedup flow against the planted ground truth.

Each check returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

import functools
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from spider_spark import rulebook, simulator, urlkit


def simulate_crawl(robots, seeds: list[str], shape,
                   adjacency: dict[str, list[str]]) -> dict:
    """Run ``simulator.simulate`` on the same web, seeds and spec, for one
    round more than the engine ran (that round's admissions check the
    engine's committed frontier). The simulator's two pure per-url
    functions are memoized for the call: links repeat across pages, and
    the result is unchanged."""
    rob = simulator.SimRobots({
        r["host"]: (r["has_robots"], r["allow_all"],
                    list(r["disallow_prefixes"] or []))
        for r in robots.collect()
    })
    rspec, pspec = shape.round_spec, shape.round_spec.politeness
    spec = simulator.SimSpec(
        default_budget=pspec.default_budget, max_depth=rspec.max_depth,
        max_rounds=shape.rounds + 1, policy_level=pspec.robots_policy_level,
        holdon_failures=pspec.holdon_failures,
        holdon_rounds=pspec.holdon_rounds,
        max_failed_times=pspec.max_failed_times,
        recrawl_ttl_rounds=rspec.recrawl_ttl_rounds,
        frontier_host_cap=rspec.frontier_host_cap,
        round_seconds=pspec.round_seconds,
        rule_book_strict=rspec.rule_book_strict,
    )
    canon, rules = simulator.canonicalize, rulebook.will_filter_py
    simulator.canonicalize = functools.lru_cache(maxsize=None)(canon)
    rulebook.will_filter_py = functools.lru_cache(maxsize=None)(rules)
    try:
        return simulator.simulate(seeds, adjacency, rob, spec)
    finally:
        simulator.canonicalize, rulebook.will_filter_py = canon, rules


def check_crawl(spark, run, shape, admitted: list[dict], results: list[dict],
                sim: dict, notes: dict) -> list[str]:
    """``admitted[r]``: round r's committed linkbase delta, read right
    after the round (before any compaction) as {url, host, success}
    lists; ``results[r]``: what ``run_round(r)`` returned. ``notes``
    records which conditional comparisons ran."""
    errors = []
    n = shape.rounds
    pspec = shape.round_spec.politeness
    ttl = shape.round_spec.recrawl_ttl_rounds
    sim_rounds = [sorted(r) for r in sim["rounds"]]
    sim_rounds += [[]] * (n + 1 - len(sim_rounds))
    for r, a in enumerate(admitted):
        got, want = sorted(a["url"]), sim_rounds[r]
        if got != want:
            errors.append(
                f"round {r}: admitted {len(got)} urls, simulator "
                f"{len(want)}; {len(set(got) ^ set(want))} differ")

    latest = {u: r for r, urls in enumerate(sim_rounds[:n]) for u in urls}
    if run.seen_urls() != sorted(latest):
        errors.append("crawled url set differs from the simulator's")
    # the seen shard committed by the last round already applies the
    # next round's TTL expiry: signs whose latest crawl is (n - ttl) left
    live_urls = [u for u, r in latest.items()
                 if ttl is None or r > n - ttl]
    live: set[int] = set()
    for row in run.state_asof(n, "seen_state").collect():
        if row["state"] is not None:
            live.update(np.frombuffer(bytes(row["state"]),
                                      dtype=np.uint64).tolist())
    want_signs: set[int] = set()
    if live_urls:
        signed = [r[0] for r in spark.createDataFrame(
            [(u,) for u in live_urls], "url string"
        ).select(urlkit.url_sign64(F.col("url"))).collect()]
        want_signs = set(np.array(signed, dtype=np.int64)
                         .view(np.uint64).tolist())
    if live != want_signs:
        errors.append(f"seen shard holds {len(live)} signs, simulator "
                      f"seen set {len(want_signs)}")

    # committed frontier: where no host holds more rows than its budget,
    # none is blocked and the TTL expires nothing, the next round admits
    # every unseen or VIP row of it — exactly the simulator's extra round
    frontier = run.state_asof(n, "frontier").select(
        "url", "host", "vip").collect()
    per_host = Counter(row["host"] for row in frontier)
    blocked = run.state_asof(n, "host_state").filter(
        F.col("dropped") | (F.col("holdon_until_round") >= n)).count()
    if (ttl is None and not blocked
            and max(per_host.values(), default=0) <= pspec.default_budget):
        nxt = sorted(row["url"] for row in frontier
                     if row["vip"] or row["url"] not in latest)
        if nxt != sim_rounds[n]:
            errors.append(
                f"committed frontier admits {len(nxt)} urls next round, "
                f"simulator {len(sim_rounds[n])}")
        notes["next_frontier"] = len(nxt)
    else:
        notes["next_frontier"] = "skipped: budget binds, hosts blocked or TTL"

    last_round: dict[str, int] = {}
    for r, a in enumerate(admitted):
        worst = max(Counter(a["host"]).values(), default=0)
        if worst > pspec.default_budget:
            errors.append(f"round {r}: a host admitted {worst} > budget "
                          f"{pspec.default_budget}")
        for url in a["url"]:
            prev = last_round.get(url)
            if prev is not None and (ttl is None or r - prev < ttl):
                errors.append(f"round {r}: {url} re-admitted "
                              f"{r - prev} rounds after round {prev}")
                break
            last_round[url] = r
        m = results[r]
        if (m["linkbase_delta_rows"] != len(a["url"])
                or m["admitted"] != len(a["url"])
                or m["fetch_ok"] != sum(a["success"])):
            errors.append(f"round {r}: manifest metrics {m['admitted']}/"
                          f"{m['fetch_ok']} != linkbase rows "
                          f"{len(a['url'])}/{sum(a['success'])}")
    return errors


def check_dedup(corpus, out: dict) -> list[str]:
    """``out``: exact_kept, pairs (set of (a, b)), kept from one pass."""
    errors = []
    if out["exact_kept"] != corpus.exact_kept:
        errors.append(f"exact pass kept {out['exact_kept']}, expected "
                      f"{corpus.exact_kept}")
    found, truth = out["pairs"], corpus.near_pairs
    hit = len(found & truth)
    precision = hit / len(found) if found else 1.0
    recall = hit / len(truth) if truth else 1.0
    if precision < 1.0 or recall < 1.0:
        errors.append(f"near pairs: precision {precision:.4f}, recall "
                      f"{recall:.4f} ({len(found)} found, {len(truth)} "
                      "planted)")
    if out["kept"] != corpus.kept:
        errors.append(f"kept {out['kept']} docs, expected {corpus.kept}")
    return errors
