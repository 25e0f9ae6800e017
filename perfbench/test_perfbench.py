"""Tests of the benchmark itself. From the root of a checkout:

    python -m pytest perfbench -q

The tests marked ``slow`` start the benchmark as a subprocess, several
times per workload, and take several minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import feedgen  # noqa: E402
from perfbench.spark_counters import parse_metric  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYERS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

# Counts the engine must repeat exactly for one seed.
REPEATABLE = (
    "nvd.pipeline.jobs_per_feed", "nvd.etl.parse_tasks",
    "spark.jobs", "spark.stages", "spark.tasks",
    "plans.jobs", "plans.stages", "plans.tasks",
)


def _digests(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_feeds_are_byte_deterministic_per_seed_and_differ_across_seeds(tmp_path):
    a = feedgen.generate(11, str(tmp_path / "a"))
    b = feedgen.generate(11, str(tmp_path / "b"))
    c = feedgen.generate(12, str(tmp_path / "c"))
    da, db, dc = _digests(a.directory), _digests(b.directory), _digests(c.directory)
    assert da == db
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da)
    assert a.feeds == len(da) == feedgen.YEAR_FEEDS + feedgen.RECENT_FEEDS
    assert a.cves == feedgen.YEAR_FEEDS * feedgen.ITEMS_PER_YEAR
    assert a.gz_bytes == sum(os.path.getsize(os.path.join(a.directory, n)) for n in da)


def test_feeds_plant_duplicates_overlap_and_null_configurations(tmp_path):
    import gzip

    fs = feedgen.generate(3, str(tmp_path / "f"))
    with gzip.open(fs.path(fs.year_names[0])) as fh:
        year = json.load(fh)
    ids = [it["cve"]["CVE_data_meta"]["ID"] for it in year["CVE_Items"]]
    assert len(ids) - len(set(ids)) == feedgen.WITHIN_FEED_DUPS
    assert any(it.get("configurations", 0) is None for it in year["CVE_Items"])
    assert any("configurations" not in it for it in year["CVE_Items"])
    with gzip.open(fs.path(fs.recent_names[0])) as fh:
        recent = json.load(fh)
    revised = [it for it in recent["CVE_Items"]
               if feedgen.REVISED in it["cve"]["description"]["description_data"][0]["value"]]
    assert len(revised) == feedgen.RECENT_OVERLAP
    assert len(recent["CVE_Items"]) == feedgen.RECENT_OVERLAP + feedgen.RECENT_NEW


def test_parse_metric_reads_sql_metric_totals():
    assert parse_metric("total (min, med, max (stageId: taskId))\n11.0 s (2.6 s, 2.8 s, 2.9 s (stage 2.0: task 5))") == 11.0
    assert parse_metric("782.9 KiB") == pytest.approx(782.9 * 1024)
    assert parse_metric("14 ms") == pytest.approx(0.014)
    assert parse_metric("100,000") == 100000


def test_self_times_are_non_negative_and_sum_to_each_root():
    tr = Tracer(True)
    for _ in range(2):
        with tr.span("root", "bench"):
            time.sleep(0.01)
            with tr.span("a", "plans"):
                time.sleep(0.01)
                with tr.span("a1", "plans"):
                    time.sleep(0.01)
            with tr.span("b", "nvd.etl"):
                time.sleep(0.01)
    _assert_self_times(tr.spans, tr.self_times())
    by_layer = tr.self_time_by_layer()
    roots = sum(sp.duration for sp in tr.spans if sp.parent is None)
    assert sum(by_layer.values()) == pytest.approx(roots)


def _assert_self_times(spans, self_times) -> None:
    parent = {sp.id: sp.parent for sp in spans}

    def root_of(span_id):
        while parent[span_id] is not None:
            span_id = parent[span_id]
        return span_id

    per_root: dict[str, float] = {}
    for sp in spans:
        assert self_times[sp.id] >= -1e-9, sp.name
        r = root_of(sp.id)
        per_root[r] = per_root.get(r, 0.0) + self_times[sp.id]
    durations = {sp.id: sp.duration for sp in spans}
    for r, total in per_root.items():
        assert total == pytest.approx(durations[r], abs=1e-6)


def test_a_traced_pass_starts_with_counters_of_its_own(tmp_path):
    """Work done while recording is off (a pandas UDF, a drained stream)
    must not land in the first span once recording is switched on."""
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    from perfbench.spark_counters import SparkCounters

    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false").getOrCreate())

    @pandas_udf("long")
    def same(s):
        return s

    counters = SparkCounters(spark)
    try:
        tr = Tracer(False)
        tr.attach(counters)
        spark.range(100).select(same("id")).collect()
        source = tmp_path / "source"
        spark.range(20).write.parquet(str(source))
        query = (spark.readStream.schema("id long").parquet(str(source))
                 .groupBy("id").count().writeStream.outputMode("complete")
                 .format("memory").queryName("perfbench_test")
                 .option("checkpointLocation", str(tmp_path / "checkpoint"))
                 .trigger(availableNow=True).start())
        query.awaitTermination()

        tr.switch(True)
        with tr.span("first", "bench"):
            pass
        first = tr.spans[-1]
        assert first.python.exec_s == 0 and first.python.nodes == []
        assert first.stream.batches == 0 and first.stream.run_ids == []
        assert first.stages.jobs == 0

        with tr.span("udf", "plans"):
            spark.range(100).select(same("id")).collect()
        assert tr.spans[-1].python.nodes
        assert tr.spans[-1].stages.jobs >= 1
    finally:
        counters.close()
        spark.stop()


def test_wait_for_ends_every_process_it_is_given():
    from perfbench.run import _descendants, _wait_for

    child = subprocess.Popen(["sleep", "60"])
    assert child.pid in _descendants()
    t0 = time.monotonic()
    _wait_for([child.pid], timeout=0.5)
    assert time.monotonic() - t0 < 10
    assert child.pid not in _descendants()
    assert not os.path.exists(f"/proc/{child.pid}")


def _spark_processes() -> list[str]:
    """Command lines of running JVMs and pyspark workers, other than this
    test process's own."""
    from perfbench.run import _descendants

    own = {str(pid) for pid in _descendants()}
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit() and entry not in own:
            try:
                with open(f"/proc/{entry}/cmdline", "rb") as fh:
                    cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
            except OSError:
                continue
            if "org.apache.spark" in cmd or "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                out.append(cmd)
    return out


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    return proc.returncode, proc.stdout


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_benchmark_fails_without_the_program(tmp_path):
    bare = tmp_path / "bare"
    shutil.copytree(os.path.join(ROOT, "perfbench"), bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare / "BENCHMARK.json")
    code, stdout = _run(WORKLOADS[0], 1, 0, cwd=str(bare))
    assert code != 0
    assert '"metrics"' not in stdout


@pytest.mark.slow
@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_reports_every_end_to_end_metric(workload):
    code, stdout = _run(workload, 21, 0)
    assert code == 0
    assert _spark_processes() == []  # the run waited for everything it started
    res = _result(stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == E2E
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.slow
@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_runs_repeat_their_counts_and_explain_themselves(workload):
    results = []
    for _ in range(2):
        code, stdout = _run(workload, 22, 1)
        assert code == 0
        res = _result(stdout)
        assert res["correct"] is True
        assert {k: v["unit"] for k, v in res["metrics"].items()} == LAYERS
        results.append({k: v["value"] for k, v in res["metrics"].items()})
    first, second = results
    for name in REPEATABLE:
        assert first[name] == second[name], name
    assert first["spark.jobs"] > 0
    if workload == "nvd_mirror":
        # the bypass workload: no pandas/Arrow kernel, no shared_stage memo
        assert first["python.exec_s"] == 0 and first["checkpoint.memo_builds"] == 0
    with open(os.path.join(ROOT, ".perfbench_work", "runs",
                           f"{workload}-seed22-trace1.spans.json")) as fh:
        record = json.load(fh)
    from perfbench.trace import Span

    spans = [Span(**{k: v for k, v in s.items()
                     if k in ("id", "name", "layer", "parent", "start", "end")})
             for s in record["spans"]]
    _assert_self_times(spans, {s["id"]: s["self_s"] for s in record["spans"]})
