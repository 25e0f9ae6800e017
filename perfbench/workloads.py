"""The benchmark's workloads, driven through the public functions of
``bq_nvd_spark`` from one process, as a closed loop with one client.

Every workload run has the same shape:

1. inputs are made from the seed (feeds for ``nvd_mirror``, the query
   order for ``curation_pass``);
2. set-up: ``SETUPS`` times ``get_spark``, then one warm-up pass of the
   workload, which absorbs the Python workers' start, JIT and codegen
   (``setup_s`` is the median ``get_spark`` plus that pass);
3. the measured loop, for ``seconds`` seconds and at least ``MIN_PASSES``
   registry passes or ``MIN_ROUNDS`` mirror rounds; every result is
   consumed before the next call;
4. correctness checks against DuckDB, outside every timed region.

With tracing on, spans wrap the calls into each layer of one traced pass
or round, between untraced ones, and engine counters are read at each
span's end; the untraced passes or rounds give the tracing overhead. The
mirror is traced through ``pipeline``'s own code: the names it calls are
routed through spans for the traced calls.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from bq_nvd_spark.nvd import pipeline
from bq_nvd_spark.nvd.download import download_feed
from bq_nvd_spark.nvd.etl import NvdStore
from bq_nvd_spark.operators.checkpoint import release_shared_stages, shared_stage_count
from bq_nvd_spark.plans import ORACLES, QUERIES
from bq_nvd_spark.session import default_parallelism, get_spark
from perfbench import feedgen, oracles
from perfbench.spark_counters import SparkCounters
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")

SETUPS = 3
# A warm pass costs about 4 s on 4 cores and a mirror round about 6 s, so
# with ``seconds`` at 5 the minimums below set how many samples a run
# takes, and every run takes the same number.
MIN_PASSES = 4
MIN_ROUNDS = 4  # traced runs: untraced, traced, untraced, untraced

# Layer C, as chains whose first query builds the chain's shared stage
# and whose second consumes it: the MinHash chain (band signatures, an
# Arrow pandas UDF, then LSH buckets and candidate pairs) and the
# repetition gate's ingest-time streaming twin, drained with
# Trigger.AvailableNow (state store and commit log). The seed orders the
# chains, not the queries within one: a consumer run first would build
# the chain itself.
CURATION = [
    ["minhash_lsh_buckets", "minhash_candidate_pairs"],
    ["streaming_repetition_gate"],
]


@dataclass
class Outcome:
    """What one workload run reports."""

    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    record: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"# CHECK FAILED: {what}", file=sys.stderr)

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(what)
        traceback.print_exc(file=sys.stderr)


class Bench:
    """One workload run: the session, the tracer and the outcome."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.tracer_on = trace
        self.tracer = Tracer(False)  # switched on around the traced passes
        self.work = work
        self.out = Outcome()
        self.spark = None
        self.counters: SparkCounters | None = None

    # -- session -------------------------------------------------------
    def setup(self, warm_up_pass) -> None:
        """``SETUPS`` times: stop the previous session and ``get_spark``;
        then ``warm_up_pass`` once."""
        totals = []
        for _ in range(SETUPS):
            self.stop_session()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench")
            totals.append(time.perf_counter() - t0)
        if self.tracer_on:
            self.counters = SparkCounters(self.spark)
            self.tracer.attach(self.counters)
        t0 = time.perf_counter()
        warm_up_pass()
        first = time.perf_counter() - t0
        self.out.e2e["setup_s"] = (statistics.median(totals) + first, "s")
        self.out.layers["session.start_s"] = (statistics.median(totals), "s")
        self.out.record.update(setup_samples_s=totals, warm_up_pass_s=first)

    def stop_session(self) -> None:
        if self.counters is not None:
            self.counters.close()
            self.counters = None
            self.tracer.attach(None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def trace_overhead(samples: list[tuple[float, bool]]) -> float:
    """Median traced sample minus median untraced one."""
    traced = [s for s, t in samples if t]
    plain = [s for s, t in samples if not t]
    return statistics.median(traced) - statistics.median(plain)


# ---------------------------------------------------------------------------
# Registry passes
# ---------------------------------------------------------------------------

def registry_pass(bench: Bench, chains: list[list[str]]) -> None:
    """Session passes over the queries of ``chains``, in a seed-shuffled
    chain order. The set-up's warm-up pass is the session's first; the
    measured passes are warm. The traced run makes three measured passes,
    untraced, traced and untraced, and records the spans of the second."""
    out = bench.out
    chains = list(chains)
    random.Random(bench.seed).shuffle(chains)
    order = [name for chain in chains for name in chain]
    expected = oracles.registry_signatures(SF_DIR, ORACLES, order)
    ops: dict[str, list[float]] = {}

    def one_pass(label: str) -> float:
        tr, spent = bench.tracer, 0.0
        with tr.span(label, "bench"):
            t0 = time.perf_counter()
            with tr.span("release_shared_stages", "operators.checkpoint"):
                release_shared_stages(bench.spark)
            spent += time.perf_counter() - t0
            for name in order:
                memo = shared_stage_count(bench.spark)
                try:
                    layer = "streaming" if name.startswith("streaming_") else "plans"
                    with tr.span(name, layer) as sp:
                        t1 = time.perf_counter()
                        with tr.span("build", layer):
                            df = QUERIES[name](bench.spark, SF_DIR)
                        with tr.span("consume", layer):
                            rows = df.collect()
                        t2 = time.perf_counter()
                        if sp is not None:
                            sp.attrs["memo_builds"] = shared_stage_count(bench.spark) - memo
                except Exception:  # noqa: BLE001 - a failed query is counted, the pass goes on
                    out.error(f"{name}: raised ({label})")
                    continue
                spent += t2 - t1
                ops.setdefault(name, []).append(t2 - t1)
                ok = oracles.spark_signature(df, rows) == expected[name]
                out.check(ok, f"{name}: result differs from the DuckDB oracle ({label})")
        return spent

    bench.setup(lambda: one_pass("warm-up"))
    passes: list[tuple[float, bool]] = []
    if bench.tracer_on:
        for traced in (False, True, False):
            bench.tracer.switch(traced)
            passes.append((one_pass(f"pass {len(passes)}"), traced))
        bench.tracer.switch(False)
        out.layers["trace.overhead_s"] = (trace_overhead(passes), "s")
        _checkpoint_layers(out, bench.tracer.spans)
    else:
        deadline = time.perf_counter() + bench.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            passes.append((one_pass(f"pass {len(passes)}"), False))
    times = [s for s, t in passes if not t]
    out.e2e["pass_s"] = (statistics.median(times), "s")
    out.e2e["throughput_per_s"] = (len(order) * len(times) / sum(times), "1/s")
    out.record.update(
        pass_samples_s=[s for s, _ in passes], order=order, op_samples_s=ops)


def _checkpoint_layers(out: Outcome, spans) -> None:
    """``operators.checkpoint`` figures of the traced pass."""
    queries = [sp for sp in spans if "memo_builds" in sp.attrs]
    build_s = {sp.parent: sp.duration for sp in spans if sp.name == "build"}
    out.layers.update({
        "checkpoint.release_s": (
            sum(sp.duration for sp in spans if sp.name == "release_shared_stages"), "s"),
        "checkpoint.memo_builds": (sum(sp.attrs["memo_builds"] for sp in queries), "count"),
        "checkpoint.memo_build_s": (
            sum(build_s[sp.id] for sp in queries if sp.attrs["memo_builds"]), "s"),
        "checkpoint.pinned_mb": (statistics.mean(sp.pinned_mb for sp in queries), "MB"),
    })


def curation_pass(bench: Bench) -> None:
    registry_pass(bench, CURATION)


# ---------------------------------------------------------------------------
# NVD mirror
# ---------------------------------------------------------------------------

# The reference's queries over the store: the A1 nested COUNT
# (bq.py:125-127), the ID projection (bq.py:156-158) and the README's
# flagship EXISTS/LIKE query, here with Spark's higher-order EXISTS.
A1_COUNT = "SELECT COUNT(cve.CVE_data_meta.ID) AS Count FROM nvd"
ID_PROJECTION = "SELECT cve.CVE_data_meta.ID FROM nvd"
FLAGSHIP = """
SELECT cve.CVE_data_meta.ID AS ID FROM nvd
WHERE exists(configurations.nodes,
             n -> exists(n.cpe_match, m -> m.cpe23Uri LIKE '%linux%')
               OR exists(n.children, c -> exists(c.cpe_match, m -> m.cpe23Uri LIKE '%linux%')))
"""


def _files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


ETL_STEPS = ("read_feed", "cve_items", "dedup_within", "deltas_only")
STORE_CALLS = ("ensure", "append")


@contextmanager
def forced_boundaries(tr: Tracer, store: NvdStore):
    """Route the calls ``pipeline`` makes through spans while the block
    runs: ``ingest_feed``, the ETL functions it imports from ``nvd.etl``
    and ``store``'s methods. Each ETL result is counted inside its span,
    forcing the boundary (``read_feed`` is lazy; ``cve_items`` forces it)."""

    def spanned(name, layer, fn, force=False):
        def call(*args, **kwargs):
            with tr.span(name, layer):
                result = fn(*args, **kwargs)
                if force:
                    result.count()
            return result
        return call

    saved = {name: getattr(pipeline, name) for name in ("ingest_feed",) + ETL_STEPS}
    pipeline.ingest_feed = spanned("ingest_feed", "nvd.pipeline", saved["ingest_feed"])
    for name in ETL_STEPS:
        setattr(pipeline, name, spanned(name, "nvd.etl", saved[name], force=name != "read_feed"))
    for name in STORE_CALLS:
        setattr(store, name, spanned(name, "nvd.etl.NvdStore", getattr(store, name)))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(pipeline, name, fn)
        for name in STORE_CALLS:
            delattr(store, name)


class Mirror:
    """The NVD mirror of one run: landing dir, stores and the calls into
    ``download``, ``pipeline`` and the store."""

    def __init__(self, bench: Bench, feeds: feedgen.FeedSet):
        self.bench = bench
        self.landing = os.path.join(bench.work, "landing")
        shutil.rmtree(self.landing, ignore_errors=True)
        self.url_base = "file://" + feeds.directory + "/"
        self.store_path = ""
        self.download_s = 0.0  # by the traced downloads
        self.download_bytes = 0
        self.files_written = 0  # by the traced ingests

    def fresh_store(self, name: str) -> NvdStore:
        """A new, empty store; the previous one is removed."""
        if self.store_path:
            shutil.rmtree(self.store_path, ignore_errors=True)
        self.store_path = os.path.join(self.bench.work, name)
        shutil.rmtree(self.store_path, ignore_errors=True)
        return NvdStore(self.bench.spark, self.store_path)

    def download(self, name: str) -> str:
        tr = self.bench.tracer
        t0 = time.perf_counter()
        with tr.span(f"download_feed {name}", "nvd.download"):
            path = download_feed(name, self.landing, self.url_base)
        if tr.enabled:
            self.download_s += time.perf_counter() - t0
            self.download_bytes += os.path.getsize(path)
        return path

    def ingest(self, store: NvdStore, path: str) -> pipeline.IngestResult:
        """``pipeline.ingest_feed``; in a traced round every ETL boundary is
        forced."""
        tr = self.bench.tracer
        if not tr.enabled:
            return pipeline.ingest_feed(self.bench.spark, store, path)
        before = _files(self.store_path)[0]
        with forced_boundaries(tr, store):
            result = pipeline.ingest_feed(self.bench.spark, store, path)
        self.files_written += _files(self.store_path)[0] - before
        return result

    def queries(self, store: NvdStore) -> dict:
        tr, spark = self.bench.tracer, self.bench.spark
        with tr.span("reference queries", "nvd.etl.NvdStore"):
            store.read().createOrReplaceTempView("nvd")
            with tr.span("A1 count", "nvd.etl.NvdStore"):
                count = spark.sql(A1_COUNT).collect()[0][0]
            with tr.span("ID projection", "nvd.etl.NvdStore"):
                ids = len(spark.sql(ID_PROJECTION).collect())
            with tr.span("flagship", "nvd.etl.NvdStore"):
                linux = {r[0] for r in spark.sql(FLAGSHIP).collect()}
            with tr.span("flagship LIMIT 1", "nvd.etl.NvdStore"):
                first = [r[0] for r in spark.sql(FLAGSHIP + " LIMIT 1").collect()]
        return {"count": count, "ids": ids, "linux": linux, "first": first}


def nvd_mirror(bench: Bench) -> None:
    """Rounds over a fresh store: ``pipeline.run`` bootstraps it from the
    year feeds, then each recent feed makes one refresh cycle: its
    incremental ingest, the exact re-run (empty delta) and the reference
    queries. Every round does the same work; the set-up's warm-up pass is
    the first. In the traced run the second measured round is traced."""
    out, tr = bench.out, bench.tracer
    t_gen = time.perf_counter()
    feeds = feedgen.cached(bench.seed, os.path.join(bench.work, "feeds"))
    out.record["feeds"] = {
        "cves": feeds.cves, "feeds": feeds.feeds, "gz_bytes": feeds.gz_bytes,
        "raw_bytes": feeds.raw_bytes, "seconds": time.perf_counter() - t_gen,
    }
    mirror = Mirror(bench, feeds)
    rounds: list[tuple[int, float, bool]] = []  # CVEs bootstrapped, seconds, traced
    cycles: list[tuple[float, bool]] = []
    refresh, noop, query, skips = [], [], [], []
    # correctness against DuckDB over the gz bytes the rounds download:
    # every round ingests the same feeds in the same order
    expect = oracles.mirror_expectations([feeds.path(n) for n in feeds.year_names + feeds.recent_names])
    out.check(expect["revised_kept"] == 0, "generator: a revised copy would win first-write-wins")

    def one_round(label: str, traced: bool, store: NvdStore) -> dict:
        """One round on ``store``, checked; its samples are kept unless it
        is the warm-up. Returns the last reference query results."""
        measured = label != "warm-up"
        # traced or not, the bootstrap is pipeline.run as is: no boundary forced
        with tr.span(label, "bench"):
            year_paths = [mirror.download(n) for n in feeds.year_names]
            t0 = time.perf_counter()
            with tr.span("run", "nvd.pipeline"):
                results = pipeline.run(bench.spark, store, year_paths)
            boot_s = time.perf_counter() - t0
            loaded = sum(x.loaded for x in results)
            for i, name in enumerate(feeds.recent_names):
                with tr.span("cycle", "bench", index=i):
                    path = mirror.download(name)
                    t1 = time.perf_counter()
                    with tr.span("refresh", "nvd.pipeline"):
                        fresh = mirror.ingest(store, path)
                    t2 = time.perf_counter()
                    with tr.span("noop refresh", "nvd.pipeline"):
                        again = mirror.ingest(store, path)
                    t3 = time.perf_counter()
                    q = mirror.queries(store)
                    t4 = time.perf_counter()
                if measured:
                    cycles.append((t4 - t1, traced))
                    skips.extend([fresh.skipped, again.skipped])
                    if not traced:
                        refresh.append(t2 - t1)
                        noop.append(t3 - t2)
                        query.append(t4 - t3)
                stored = feeds.cves + feedgen.RECENT_NEW * (i + 1)
                out.check(fresh.loaded == feedgen.RECENT_NEW and not fresh.skipped,
                          f"{label} {name}: refresh loaded {fresh.loaded}, expected {feedgen.RECENT_NEW}")
                out.check(again.loaded == 0 and again.skipped,
                          f"{label} {name}: re-run loaded {again.loaded} rows")
                out.check(q["count"] == stored and q["ids"] == stored,
                          f"{label} {name}: store holds {q['count']} CVEs ({q['ids']} IDs), expected {stored}")
                out.check(len(q["first"]) == 1 and q["first"][0] in q["linux"],
                          f"{label} {name}: LIMIT 1 flagship row")
        out.check(loaded == feeds.cves, f"{label}: bootstrap loaded {loaded} CVEs, generated {feeds.cves}")
        out.check(q["count"] == expect["count"], f"{label}: COUNT {q['count']} != DuckDB {expect['count']}")
        out.check(q["linux"] == expect["linux_ids"], f"{label}: flagship IDs differ from DuckDB")
        if measured:
            rounds.append((loaded, boot_s, traced))
            skips.extend(x.skipped for x in results)
        return q

    bench.setup(lambda: one_round("warm-up", False, mirror.fresh_store("warm-store")))
    tracing = bench.tracer_on
    start = time.perf_counter()
    while len(rounds) < MIN_ROUNDS or (not tracing and time.perf_counter() - start < bench.seconds):
        traced = tracing and len(rounds) == 1
        store = mirror.fresh_store(f"store-{len(rounds)}")
        tr.switch(traced)
        q = one_round(f"round {len(rounds)}", traced, store)
        tr.switch(False)

    plain = [x for x, t in cycles if not t]
    loaded, boot_s = (sum(r[k] for r in rounds if not r[2]) for k in (0, 1))
    out.e2e["throughput_per_s"] = (loaded / boot_s, "1/s")
    out.e2e["pass_s"] = (statistics.median(plain), "s")
    out.record.update(
        bootstrap_cves_per_s_samples=[n / s for n, s, _ in rounds], cycle_samples_s=[x for x, _ in cycles],
        refresh_samples_s=refresh, noop_refresh_samples_s=noop, mirror_query_samples_s=query,
    )
    out.layers["mirror.refresh_s"] = (statistics.median(refresh), "s")
    out.layers["mirror.noop_refresh_s"] = (statistics.median(noop), "s")
    out.layers["mirror.query_s"] = (statistics.median(query), "s")

    revised = store.read().filter(
        F.col("cve.description.description_data")[0]["value"].contains(feedgen.REVISED)).count()
    out.check(revised == 0, f"{revised} stored rows carry a later overlap version")
    files, size = _files(mirror.store_path)
    out.layers["nvd.store.files"] = (files, "count")
    out.layers["nvd.store.bytes_per_cve"] = (size / q["count"], "B")
    out.layers["nvd.pipeline.skipped_ratio"] = (sum(skips) / len(skips), "ratio")
    # the mirror bypasses the pandas/Arrow kernels and the shared_stage memo
    out.check(shared_stage_count(bench.spark) == 0, "the mirror built shared stages")
    if tracing:
        python = [n for sp in tr.spans for n in sp.python.nodes]
        out.check(not python, f"the mirror ran Python eval nodes: {sorted(set(python))}")
        out.layers["trace.overhead_s"] = (trace_overhead(cycles), "s")
        out.layers["nvd.download.s"] = (mirror.download_s, "s")
        out.layers["nvd.download.bytes"] = (mirror.download_bytes, "B")
        _mirror_layers(bench, mirror, len(feeds.year_names))


def _mirror_layers(bench: Bench, mirror: Mirror, n_feeds: int) -> None:
    """Per-layer figures: ``nvd.pipeline`` from the bootstrap, ``nvd.etl``
    from the forced ingests of the traced cycles (a refresh and its
    empty-delta re-run each)."""
    out, tr = bench.out, bench.tracer
    run = next(sp for sp in tr.spans if sp.name == "run")

    def named(name):
        return [sp for sp in tr.spans if sp.name == name]

    parses = named("read_feed") + named("cve_items")
    reads, dedups, anti, appends = (
        named("cve_items"), named("dedup_within"), named("deltas_only"), named("append"))
    out.layers.update({
        "nvd.etl.parse_s": (sum(sp.duration for sp in parses), "s"),
        "nvd.etl.parse_tasks": (sum(sp.stages.tasks for sp in parses) / len(reads), "count"),
        "nvd.etl.dedup_within_s": (sum(sp.duration for sp in dedups), "s"),
        "nvd.etl.dedup_shuffle_bytes": (sum(sp.stages.shuffle_write_bytes for sp in dedups), "B"),
        "nvd.etl.anti_join_s": (sum(sp.duration for sp in anti), "s"),
        # deltas_only re-reads its feed, then scans the store's ID column
        "nvd.etl.store_scan_bytes": (
            sum(a.stages.input_bytes - r.stages.input_bytes for a, r in zip(anti, reads)), "B"),
        "nvd.etl.append_s": (sum(sp.duration for sp in appends), "s"),
        "nvd.etl.files_written": (mirror.files_written, "count"),
        "nvd.etl.bytes_written": (sum(sp.stages.output_bytes for sp in appends), "B"),
        "nvd.etl.count_s": (sum(sp.duration for sp in named("A1 count")), "s"),
        "nvd.pipeline.ingest_s": (run.duration, "s"),
        "nvd.pipeline.jobs_per_feed": (run.stages.jobs / n_feeds, "count"),
        "nvd.pipeline.core_util": (
            run.stages.executor_run_s / (run.duration * default_parallelism()), "ratio"),
    })


WORKLOADS = {
    "nvd_mirror": nvd_mirror,
    "curation_pass": curation_pass,
}
