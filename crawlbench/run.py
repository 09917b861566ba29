"""Crawl-engine benchmark: one workload, one seed, one JSON result line.

    python3 crawlbench/run.py --workload crawl_broad --seed 1 \
        --seconds 30 --trace 0

A run generates its inputs from the seed (while the JVM starts), then
measures, in order:

1. set-up, ``SETUPS`` times: ``CrawlRun(...)`` plus ``bootstrap`` (the
   packed-adjacency index build, seed canonicalization, state init);
2. the workload's crawl rounds on the last set-up (``run_round``, plus
   ``compact_linkbase`` where the spec compacts);
3. the corpus-dedup job flow (exact -> MinHash-LSH -> verify -> clusters
   -> kept corpus), repeated until the measured time reaches
   ``--seconds`` (at least once, at most ``MAX_DEDUP_PASSES`` times).

Then, untimed, it checks the outputs: the crawl against
``simulator.simulate`` and its invariants, the dedup against the planted
ground truth. A failed check prints the result with ``correct: false``
and exits 1.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, records a span around every layer call, replays each
round's layer calls on its committed inputs, and prints the per-layer
metrics; the spans go to ``.crawlbench_out/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 2
MAX_DEDUP_PASSES = 3
DEDUP_PHASES = ("dedup.load", "dedup.exact", "dedup.minhash",
                "dedup.resolve", "dedup.keep")

DOCUMENTS_DDL = ("doc_id string, spans array<struct<kind: string, "
                 "text: string, media_ref: string, offset: int>>")

END_TO_END = {"setup_s": "s", "crawl_s": "s", "urls_per_s": "1/s",
              "round_s_p50": "s", "dedup_s": "s", "docs_per_s": "1/s"}


def _delta_dir(run, r: int) -> str:
    """Round r's linkbase delta partition under the run's checkpoint."""
    return os.path.join(run.ckpt, "linkbase", f"round={r}")


def _cores() -> int:
    return min(len(os.sched_getaffinity(0)), 4)


def _env(spark_version: str) -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "cores_used": _cores(),
            "loadavg": list(os.getloadavg()), "spark": spark_version,
            "python": platform.python_version()}


class Bench:
    def __init__(self, args, work: str):
        from crawlbench import workloads

        self.args = args
        self.work = work
        self.wl = workloads.workload(args.workload, args.seed)
        self.tracer = None
        self.measured = 0.0   # seconds inside timed sections
        self.replay: list[dict] = []

    def start_spark(self) -> None:
        from pyspark.sql import functions as F

        from spider_spark.session import get_spark

        from crawlbench.trace import Tracer

        args, work, cores = self.args, self.work, _cores()
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData",
        }
        if args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            os.makedirs(conf["spark.eventLog.dir"])
        self.spark = get_spark(app=f"crawlbench-{args.workload}",
                               master=f"local[{cores}]",
                               shuffle_partitions=cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            self.tracer = Tracer(self.spark.sparkContext)
        self.F = F

    # -- helpers ------------------------------------------------------------

    def span(self, name: str, round_no: int | str = "-"):
        if self.tracer is None:
            return nullcontext()
        tid = f"{self.args.workload}/{self.args.seed}/{round_no}"
        return self.tracer.span(name, tid)

    def noop(self, df, *aggs):
        """Force ``df`` with a noop write; ``aggs`` ride it as an
        Observation and are returned as a dict."""
        from pyspark.sql import Observation

        obs = Observation()
        df.observe(obs, self.F.count(self.F.lit(1)).alias("rows"), *aggs) \
            .write.format("noop").mode("overwrite").save()
        return obs.get

    # -- phases -------------------------------------------------------------

    def write_inputs(self) -> None:
        """Generate the seeded inputs and write them as parquet; pure
        Python, so it runs while the JVM starts."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from crawlbench import workloads

        shape, seed = self.wl.crawl, self.args.seed
        self.web = workloads.web_documents(shape, seed)
        os.makedirs(os.path.join(self.work, "docs"))
        pq.write_table(self.web.table,
                       os.path.join(self.work, "docs", "part-0.parquet"))
        self.seeds = workloads.seed_urls(shape, seed)
        self.corpus = workloads.planted_corpus(self.wl.corpus, seed)
        ids, texts = zip(*self.corpus.docs)
        os.makedirs(os.path.join(self.work, "corpus"))
        pq.write_table(pa.table({"doc_id": ids, "text": texts}),
                       os.path.join(self.work, "corpus", "part-0.parquet"))

    def load_inputs(self) -> None:
        from spider_spark.politeness import synthetic_robots

        spark = self.spark
        self.docs = spark.read.schema(DOCUMENTS_DDL).parquet(
            os.path.join(self.work, "docs"))
        self.robots = synthetic_robots(spark,
                                       self.wl.crawl.web.n_hosts).cache()
        self.seeds_df = spark.createDataFrame(
            [(u,) for u in self.seeds], "url string")

    def setup(self) -> list[float]:
        from spider_spark.round import CrawlRun

        times = []
        for i in range(SETUPS):
            if i:
                self.run.adjacency.unpersist(blocking=True)
            ck = os.path.join(self.work, f"ck{i}")
            t0 = time.perf_counter()
            with self.span("round.bootstrap"):
                self.run = CrawlRun(self.spark, self.docs, self.robots, ck,
                                    self.wl.crawl.round_spec)
                self.run.bootstrap(self.seeds_df)
            times.append(time.perf_counter() - t0)
        self.measured += sum(times)
        return times

    def crawl(self) -> tuple[list[float], list[float]]:
        import pyarrow.parquet as pq

        shape = self.wl.crawl
        ce = shape.round_spec.compact_every
        round_s, compact_s = [], []
        self.results, self.admitted = [], []
        for r in range(shape.rounds):
            t0 = time.perf_counter()
            with self.span("round.run_round", r):
                res = self.run.run_round(r)
            round_s.append(time.perf_counter() - t0)
            self.results.append(res)
            t = pq.read_table(_delta_dir(self.run, r),
                              columns=["url", "host", "success"]).to_pydict()
            self.admitted.append(t)
            if self.tracer is not None:
                self.replay_round(r)
            if ce and (r + 1) % ce == 0:
                t0 = time.perf_counter()
                with self.span("round.compact_linkbase", r):
                    self.run.compact_linkbase()
                compact_s.append(time.perf_counter() - t0)
        self.measured += sum(round_s) + sum(compact_s)
        return round_s, compact_s

    def dedup_pass(self, i: int) -> dict:
        """The dedup job's default flow (jobs/dedup_job.py, --method
        minhash): exact pre-pass, MinHash-LSH pairs verified by exact
        n-gram Jaccard, connected-component clusters, kept corpus."""
        from spider_spark import dedup

        from crawlbench.workloads import JACCARD_THRESHOLD, SHINGLE

        spark = self.spark
        out = os.path.join(self.work, f"dedup{i}")
        with self.span("dedup.load", i):
            docs = spark.read.parquet(os.path.join(self.work, "corpus")) \
                .select("doc_id", "text")
            n_docs = docs.count()
        with self.span("dedup.exact", i):
            dedup.exact_duplicates(docs).write.parquet(out + "/exact_groups")
            survivors = dedup.dedup_exact(docs)
            exact_kept = survivors.count()
        with self.span("dedup.minhash", i):
            pairs = dedup.minhash_near_duplicates(
                survivors, bands=32, shingle=SHINGLE,
                threshold=JACCARD_THRESHOLD).persist()
            n_pairs = pairs.count()
        with self.span("dedup.resolve", i):
            clusters = dedup.resolve_pair_clusters(pairs).persist()
            clusters.count()
            clusters.write.parquet(out + "/near_clusters")
        with self.span("dedup.keep", i):
            dedup.dedup_keep_rows(survivors, clusters).write.parquet(
                out + "/kept")
            kept = spark.read.parquet(out + "/kept").count()
        return {"n_docs": n_docs, "exact_kept": exact_kept,
                "n_pairs": n_pairs, "kept": kept, "pairs_df": pairs,
                "clusters_df": clusters, "survivors": survivors}

    def dedup(self) -> tuple[list[float], dict]:
        passes, first = [], None
        while True:
            t0 = time.perf_counter()
            out = self.dedup_pass(len(passes))
            dt = time.perf_counter() - t0
            passes.append(dt)
            self.measured += dt
            if first is None:
                first = {k: out[k] for k in ("n_docs", "exact_kept",
                                             "n_pairs", "kept")}
                first["pairs"] = {(r["a"], r["b"]) for r in
                                  out["pairs_df"].select("a", "b").collect()}
                if self.tracer is not None:
                    self.replay_lsh(out["survivors"], out["n_pairs"])
            out["pairs_df"].unpersist()
            out["clusters_df"].unpersist()
            if (len(passes) >= MAX_DEDUP_PASSES
                    or self.measured >= self.args.seconds):
                return passes, first

    # -- traced replays -----------------------------------------------------

    def replay_setup(self) -> None:
        from spider_spark.spans import extract_outlink_arrays

        F = self.F
        with self.span("spans.extract_outlink_arrays") as s:
            got = self.noop(extract_outlink_arrays(self.docs),
                            F.sum(F.size("outlinks")).alias("edges"))
        s.attrs.update(edges=int(got["edges"] or 0))

    def replay_lsh(self, survivors, n_pairs: int) -> None:
        from spider_spark import dedup

        from crawlbench.workloads import SHINGLE

        with self.span("dedup.lsh_candidates") as s:
            got = self.noop(dedup.lsh_candidates(survivors, bands=32,
                                                 shingle=SHINGLE))
        s.attrs.update(candidates=int(got["rows"]), verified=n_pairs)

    def replay_round(self, r: int) -> None:
        """Re-run round r's layer calls on its committed inputs, each
        forced by a noop write inside its own span."""
        from spider_spark import fused, politeness, rulebook, urlkit
        from spider_spark.round import band_base, score_expr
        from spider_spark.seen import SignShards

        F, spark, run = self.F, self.spark, self.run
        rspec = self.wl.crawl.round_spec
        pspec = rspec.politeness
        frontier = run.state_asof(r, "frontier")
        seen_state = run.state_asof(r, "seen_state")
        host_state = run.state_asof(r, "host_state")
        delta = spark.read.parquet(_delta_dir(run, r))

        def keys(df):
            return df.withColumn("sign", urlkit.url_sign64(F.col("url"))) \
                .withColumn("bucket", urlkit.host_bucket(F.col("host"),
                                                         rspec.n_buckets))

        score = score_expr(F.col("depth"))
        keyed = keys(frontier).withColumn("score", score) \
            .withColumn("priority", band_base(F.col("score"))).persist()
        rec = {"round": r}
        got = self.noop(keyed)
        rec["frontier_rows"] = int(got["rows"])
        rec["max_group_rows"] = int(
            keyed.groupBy("bucket").count().agg(F.max("count")).first()[0]
            or 0)

        with self.span("fused.fused_probe_admit", r):
            got = self.noop(
                fused.fused_probe_admit(keyed, seen_state, host_state, None,
                                        pspec.default_budget, r),
                F.sum(F.col("admitted").cast("int")).alias("admitted"))
        rec["fused_admitted"] = int(got["admitted"] or 0)

        shards = SignShards()
        with self.span("seen.probe", r):
            got = self.noop(shards.probe(keyed, seen_state),
                            F.sum(F.col("maybe_seen").cast("int"))
                            .alias("hits"))
        rec["probe_hits"] = int(got["hits"] or 0)

        deletes = self._expired_keys(r, keys)
        with self.span("seen.update", r):
            self.noop(shards.update(keys(delta).select("bucket", "sign"),
                                    seen_state, deletes=deletes))
        st = run.state_asof(r + 1, "seen_state").agg(
            F.sum(F.length("state")), F.max(F.length("state"))).first()
        rec["state_bytes"] = int(st[0] or 0)
        rec["max_shard_signs"] = int(st[1] or 0) // 8

        with self.span("politeness.update_host_state", r):
            self.noop(politeness.update_host_state(
                host_state, delta.select("host", "success"), pspec, r))

        # the candidate pipeline over this round's raw outlinks
        new_raw = (
            delta.filter(F.col("success"))
            .select(F.col("url").alias("referer_url"),
                    F.col("depth").alias("pdepth"))
            .join(run.adjacency, F.col("referer_url") == F.col("doc_id"))
            .select(F.explode("outlinks").alias("url"),
                    (F.col("pdepth") + 1).alias("depth"),
                    F.col("referer_url").alias("referer"))
            .groupBy("url").agg(F.min("depth").alias("depth"),
                                F.min("referer").alias("referer"))
            .persist())
        got = self.noop(new_raw, F.sum(urlkit.is_canonical(F.col("url"))
                                       .cast("int")).alias("fast"))
        rec["canon_rows"], rec["canon_fast"] = int(got["rows"]), int(
            got["fast"] or 0)
        with self.span("urlkit.canonicalize_urls_df", r):
            canon = urlkit.canonicalize_urls_df(new_raw, "url") \
                .filter(F.col("url").isNotNull()).withColumns({
                    "host": urlkit.url_host(F.col("url")),
                    "path": urlkit.url_path(F.col("url")),
                    "query": urlkit.url_query(F.col("url"))}).persist()
            got = self.noop(canon)
        rec["canon_out"] = int(got["rows"])
        with self.span("rulebook.rule_book_keep", r):
            kept = canon.filter(rulebook.rule_book_keep(
                F.col("url"), F.col("host"), F.col("path"), F.col("query"),
                strict=rspec.rule_book_strict)).persist()
            got = self.noop(kept)
        rec["rule_kept"] = int(got["rows"])
        with self.span("politeness.robots_gate", r):
            got = self.noop(politeness.robots_gate(
                politeness.robots_level(kept, self.robots),
                pspec.robots_policy_level))
        rec["robots_kept"] = int(got["rows"])
        for df in (keyed, new_raw, canon, kept):
            df.unpersist()
        self.replay.append(rec)

    def _expired_keys(self, r: int, keys):
        """The recrawl-TTL deletes round r applied: urls whose latest
        fetch is round r + 1 - ttl (from the per-round deltas read
        before any compaction)."""
        ttl = self.wl.crawl.round_spec.recrawl_ttl_rounds
        if ttl is None or r + 1 - ttl < 0:
            return None
        exp = r + 1 - ttl
        later = {u for a in self.admitted[exp + 1:r + 1] for u in a["url"]}
        rows = [(u, h) for u, h in zip(self.admitted[exp]["url"],
                                       self.admitted[exp]["host"])
                if u not in later]
        df = self.spark.createDataFrame(rows, "url string, host string")
        return keys(df).select("bucket", "sign")


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def end_to_end(setup_s, round_s, compact_s, dedup_s, results, n_docs) -> dict:
    crawl_s = sum(round_s) + sum(compact_s)
    admitted = sum(r["admitted"] for r in results)
    d = statistics.median(dedup_s)
    vals = {"setup_s": statistics.median(setup_s), "crawl_s": crawl_s,
            "urls_per_s": admitted / crawl_s,
            "round_s_p50": statistics.median(round_s),
            "dedup_s": d, "docs_per_s": n_docs / d}
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(bench: Bench, totals: dict, cores: int,
              overhead_s: float, crawl_s: float) -> dict:
    """Per-layer metrics from the spans, their attributed Spark work and
    the replay counters. A layer's ``*_s``, ``*.task_s`` and
    ``*.shuffle_bytes`` are medians over its spans in the run (one per
    round, set-up or dedup pass); ``shuffle_bytes`` is shuffle bytes
    written."""
    tr = bench.tracer
    med = statistics.median
    out: dict[str, tuple[float, str]] = {}

    def timed(metric: str, span_name: str) -> list:
        spans = tr.named(span_name)
        agg = [totals[s.span_id] for s in spans]
        out[metric + "_s"] = (med([s.seconds for s in spans])
                              if spans else 0.0, "s")
        out[metric + ".task_s"] = (med([a["task_s"] for a in agg])
                                   if agg else 0.0, "s")
        out[metric + ".shuffle_bytes"] = (
            med([a["shuffle_write_bytes"] for a in agg]) if agg else 0.0, "B")
        return list(zip(spans, agg))

    rounds = timed("round.run_round", "round.run_round")
    aggs = [a for _, a in rounds]
    out["round.jobs"] = (med([a["jobs"] for a in aggs]), "count")
    out["round.tasks"] = (med([a["tasks"] for a in aggs]), "count")
    out["round.busy_ratio"] = (med([
        _ratio(a["task_s"], s.seconds * cores) for s, a in rounds]), "ratio")
    out["round.shuffle_write_bytes"] = (
        med([a["shuffle_write_bytes"] for a in aggs]), "B")
    out["round.spill_bytes"] = (med([a["spill_bytes"] for a in aggs]), "B")
    out["round.gc_s"] = (med([a["gc_s"] for a in aggs]), "s")
    lineage = {m["round"]: m for m in bench.run.lineage()}
    ckpt = [sum(f["bytes"] for files in lineage[r + 1]["files"].values()
                for f in files) for r in range(len(bench.results))]
    out["round.ckpt_bytes"] = (med(ckpt), "B")
    frontier_in = [lineage[0]["frontier"]] + [
        lineage[r]["metrics"]["frontier_next"]
        for r in range(1, len(bench.results))]
    admitted = sum(r["admitted"] for r in bench.results)
    out["round.admit_ratio"] = (_ratio(admitted, sum(frontier_in)), "ratio")
    out["round.fetch_ok_ratio"] = (_ratio(
        sum(r["fetch_ok"] for r in bench.results), admitted), "ratio")
    timed("round.bootstrap", "round.bootstrap")
    timed("round.compact", "round.compact_linkbase")

    ext = timed("spans.extract", "spans.extract_outlink_arrays")
    out["spans.edges"] = (ext[0][0].attrs["edges"] if ext else 0, "count")

    rp = bench.replay
    tot = {k: sum(x[k] for x in rp) for k in rp[0]} if rp else {}
    g = tot.get
    timed("politeness.host_update", "politeness.update_host_state")
    timed("urlkit.canon", "urlkit.canonicalize_urls_df")
    out["urlkit.canon_rows"] = (med([x["canon_rows"] for x in rp]), "count")
    out["urlkit.fast_ratio"] = (_ratio(g("canon_fast", 0),
                                       g("canon_rows", 0)), "ratio")
    timed("rulebook.keep", "rulebook.rule_book_keep")
    out["rulebook.keep_ratio"] = (_ratio(g("rule_kept", 0),
                                         g("canon_out", 0)), "ratio")
    timed("politeness.robots", "politeness.robots_gate")
    out["politeness.robots_keep_ratio"] = (_ratio(g("robots_kept", 0),
                                                  g("rule_kept", 0)), "ratio")
    timed("seen.probe", "seen.probe")
    timed("seen.update", "seen.update")
    out["seen.hit_ratio"] = (_ratio(g("probe_hits", 0),
                                    g("frontier_rows", 0)), "ratio")
    out["seen.state_bytes"] = (rp[-1]["state_bytes"] if rp else 0, "B")
    out["seen.max_shard_signs"] = (rp[-1]["max_shard_signs"] if rp else 0,
                                   "count")
    timed("fused.probe_admit", "fused.fused_probe_admit")
    out["fused.max_group_rows"] = (max((x["max_group_rows"] for x in rp),
                                       default=0), "count")
    out["fused.admit_ratio"] = (_ratio(g("fused_admitted", 0),
                                       g("frontier_rows", 0)), "ratio")

    for phase in ("exact", "minhash", "resolve", "keep"):
        timed(f"dedup.{phase}", f"dedup.{phase}")
    lsh = timed("dedup.lsh", "dedup.lsh_candidates")
    cand = lsh[0][0].attrs["candidates"] if lsh else 0
    out["dedup.lsh_pairs"] = (cand, "count")
    out["dedup.verify_ratio"] = (
        _ratio(lsh[0][0].attrs["verified"], cand) if lsh else 0.0, "ratio")
    out["trace.overhead_s"] = (overhead_s, "s")
    out["trace.crawl_s"] = (crawl_s, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def _attribute_event_log(bench: Bench, work: str, env: dict) -> dict:
    """Parse the stopped session's event log, attribute its jobs to the
    spans and write the span file; returns the per-span Spark totals."""
    from crawlbench.trace import (aggregate_jobs, attribute, read_event_log,
                                  write_spans)

    logdir = os.path.join(work, "eventlog")
    events = []
    for fn in sorted(os.listdir(logdir)):
        events += read_event_log(os.path.join(logdir, fn))
    totals = attribute(bench.tracer.spans, aggregate_jobs(events))
    outdir = os.path.join(ROOT, ".crawlbench_out")
    os.makedirs(outdir, exist_ok=True)
    path = os.path.join(outdir, f"spans-{bench.args.workload}-"
                                f"seed{bench.args.seed}.json")
    write_spans(path, env, bench.tracer.spans, totals)
    print(f"crawlbench spans: {path}", file=sys.stderr)
    return totals


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import spider_spark  # noqa: F401  the engine under test
    except ImportError as e:
        print(f"crawlbench: engine not found next to {HERE}: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".crawlbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # temp files of this process, Spark and its Python workers stay in
    # the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None

    from crawlbench import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    bench = None
    attempted, errors, metrics = 0, [], {}
    try:
        t_start = time.perf_counter()
        bench = Bench(args, work)
        with ThreadPoolExecutor(max_workers=1) as pool:
            inputs = pool.submit(bench.write_inputs)
            try:
                bench.start_spark()
            finally:
                inputs.result()
        env = _env(bench.spark.version)
        print("crawlbench env " + json.dumps(env), file=sys.stderr)
        t_gen = time.perf_counter()
        bench.load_inputs()
        wall0 = time.perf_counter()
        setup_s = bench.setup()
        if bench.tracer is not None:
            bench.replay_setup()
        round_s, compact_s = bench.crawl()
        attempted += len(round_s)
        dedup_s, dd = bench.dedup()
        attempted += len(dedup_s) * len(DEDUP_PHASES)
        overhead_s = time.perf_counter() - wall0 - bench.measured
        t_check = time.perf_counter()

        from crawlbench import checks
        sim = checks.simulate_crawl(bench.robots, bench.seeds,
                                    bench.wl.crawl, bench.web.adjacency)
        notes: dict = {}
        errors += checks.check_crawl(bench.spark, bench.run, bench.wl.crawl,
                                     bench.admitted, bench.results, sim,
                                     notes)
        errors += checks.check_dedup(bench.corpus, dd)
        print("crawlbench timings " + json.dumps({
            "start_s": t_gen - t_start, "generate_s": wall0 - t_gen,
            "setup_s": setup_s, "round_s": round_s, "compact_s": compact_s,
            "dedup_s": dedup_s, "check_s": time.perf_counter() - t_check,
            "admitted": [r["admitted"] for r in bench.results],
            "checks": notes,
            "dedup": {k: v for k, v in dd.items() if k != "pairs"}}),
            file=sys.stderr)
        if not args.trace:
            metrics = end_to_end(setup_s, round_s, compact_s, dedup_s,
                                 bench.results, dd["n_docs"])
    except Exception as e:  # report the run as failed, then exit non-zero
        import traceback

        traceback.print_exc()
        errors.append(f"{type(e).__name__}: {e}")
    finally:
        if bench is not None and hasattr(bench, "spark"):
            t_stop = time.perf_counter()
            _stop(bench.spark)
            print(f"crawlbench stop_s {time.perf_counter() - t_stop:.2f}",
                  file=sys.stderr)

    if args.trace and not errors:
        totals = _attribute_event_log(bench, work, env)
        metrics = per_layer(bench, totals, _cores(), overhead_s,
                            sum(round_s) + sum(compact_s))
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run's work dir is still there
        pass

    for msg in errors:
        print(f"crawlbench CHECK FAILED: {msg}", file=sys.stderr)
    attempted = max(attempted, 1)
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": attempted if errors else 0,
                      "metrics": metrics}))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
