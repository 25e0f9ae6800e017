"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the ``end_to_end`` ones of BENCHMARK.json,
with ``--trace 1`` the ``per_layer`` ones. Everything the run writes
(feeds, stores, Spark scratch, spans) stays under ``.perfbench_work/`` in
the checkout. The exit code is 0 only when every correctness check held.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
LAYERS = (
    "bench", "nvd.download", "nvd.etl", "nvd.etl.NvdStore", "nvd.pipeline",
    "plans", "operators.checkpoint", "streaming",
)


def _environment(cpus: int) -> None:
    """Keep every file the run (and the JVM it starts) writes inside WORK.
    Must run before pyspark starts its gateway."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # The status stores must keep every job, stage and SQL execution of a
    # run, or counters read at a span's end could miss evicted entries.
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"
    sys.path.insert(0, ROOT)


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def per_layer(bench) -> dict[str, tuple[float, str]]:
    """Layer figures common to every workload, from the traced spans."""
    from bq_nvd_spark.session import default_parallelism

    tr, out = bench.tracer, bench.out
    spans = tr.spans
    layers = dict(out.layers)

    def s(attr: str, sub: str, select=lambda sp: True) -> float:
        return sum(getattr(getattr(sp, attr), sub) for sp in spans if select(sp))

    in_plans = lambda sp: sp.layer in ("plans", "streaming")  # noqa: E731
    layers.update({
        "plans.build_s": (sum(sp.duration for sp in spans if sp.name == "build"), "s"),
        "plans.consume_s": (sum(sp.duration for sp in spans if sp.name == "consume"), "s"),
        "plans.jobs": (s("stages", "jobs", in_plans), "count"),
        "plans.stages": (s("stages", "stages", in_plans), "count"),
        "plans.tasks": (s("stages", "tasks", in_plans), "count"),
        "python.exec_s": (s("python", "exec_s"), "s"),
        "python.bytes_to_worker": (s("python", "bytes_to_worker"), "B"),
        "python.bytes_from_worker": (s("python", "bytes_from_worker"), "B"),
        "streaming.batches": (s("stream", "batches"), "count"),
        "streaming.add_batch_s": (s("stream", "add_batch_s"), "s"),
        "streaming.commit_s": (s("stream", "commit_s"), "s"),
        "streaming.state_rows": (s("stream", "state_rows"), "count"),
        "streaming.state_commit_s": (s("stream", "state_commit_s"), "s"),
        "peak_pinned_mb": (max((sp.pinned_mb for sp in spans), default=0.0), "MB"),
        "failed_ops_ratio": (out.failed / max(out.attempted, 1), "ratio"),
        "trace.read_s": (tr.read_s, "s"),
    })
    for f in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        unit = "count" if f in ("jobs", "stages", "tasks") else ("B" if f.endswith("bytes") else "s")
        layers[f"spark.{f}"] = (s("stages", f), unit)
    wall = sum(sp.duration for sp in spans if sp.parent is None)
    layers["spark.core_util"] = (
        layers["spark.executor_run_s"][0] / (wall * default_parallelism()) if wall else 0.0, "ratio")
    by_layer = tr.self_time_by_layer()
    for layer in LAYERS:
        layers[f"self_s.{layer}"] = (by_layer.get(layer, 0.0), "s")
    return layers


def _stop_gateway() -> None:
    """Stop the JVM pyspark launched and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _descendants() -> list[int]:
    """Ids of every process below this one (the JVM, the Python workers
    it forks, ...), read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def _running(pid: int) -> bool:
    """False once ``pid`` has exited (a zombie child of this process is
    reaped here; one of another parent counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state not in ("Z", "X"):
        return True
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return False


def _wait_for(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what is still
    running after ``timeout`` seconds and wait for that too."""
    deadline = time.monotonic() + timeout
    while True:
        pids = [p for p in pids if _running(p)]
        if not pids:
            return
        if time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def _shutdown(bench) -> None:
    """Stop the session and the JVM, then wait for every process the run
    started: the JVM's Python workers outlive it by a moment."""
    started = _descendants()
    try:
        try:
            bench.stop_session()
        finally:
            _stop_gateway()
    finally:
        _wait_for(started + _descendants())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    declared = _declared()
    if args.workload not in declared["workloads"]:
        ap.error(f"unknown workload {args.workload!r}; declared: {declared['workloads']}")
    cpus = len(os.sched_getaffinity(0))
    _environment(cpus)

    from perfbench.workloads import WORKLOADS, Bench

    bench = Bench(args.seed, args.seconds, bool(args.trace), WORK)
    # a SIGTERM unwinds through _shutdown like an error does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    t0 = time.perf_counter()
    try:
        WORKLOADS[args.workload](bench)
    finally:
        _shutdown(bench)
    out = bench.out
    wanted = declared["per_layer"] if args.trace else declared["end_to_end"]
    got = per_layer(bench) if args.trace else out.e2e
    metrics = {}
    for name, unit in wanted.items():
        value, got_unit = got.get(name, (0.0, unit))
        if got_unit != unit:
            raise RuntimeError(f"{name}: unit {got_unit}, BENCHMARK.json says {unit}")
        metrics[name] = {"value": value, "unit": unit}
    undeclared = sorted(set(got) - set(wanted))
    if undeclared:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {undeclared}")

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "wall_s": time.perf_counter() - t0,
        "failures": out.failures, **out.record, "metrics": metrics,
    }
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(runs, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        bench.tracer.write(os.path.join(runs, stem + ".spans.json"),
                           workload=args.workload, seed=args.seed)
    print(json.dumps({k: v for k, v in record.items() if k != "metrics"}), file=sys.stderr)
    correct = out.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": out.attempted, "failed": out.failed, "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
