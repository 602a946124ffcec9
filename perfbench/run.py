#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload ycsb-a --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The workload runs on local[nproc] in this
fresh process: session start, then the YCSB mix on the local runtime, the
superstep runtime and the continuous engine. Every reply and the final
state of each runtime is checked against ``perfbench/oracle.py``.

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics, records spans and a Spark event log, and writes them to
``.perfbench/trace-<workload>-<seed>.json``. Every run also appends its
stamp (nproc, load average, counts, every metric) to ``.perfbench/runs.jsonl``.
All scratch files live in a fresh directory under ``.perfbench/`` that is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tracing, workloads  # noqa: E402  (imports the program)

WORKLOADS = {"ycsb-a": "a", "ycsb-t": "t"}
DRIVER_MEM = "2g"


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric units, as BENCHMARK.json names them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _scratch_env(work: str) -> dict[str, str]:
    """Point every scratch location of this process, the JVM and the Python
    workers into the run's own directory."""
    dirs = {name: os.path.join(work, name) for name in ("tmp", "jtmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        {
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    tempfile.tempdir = dirs["tmp"]
    return dirs


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(start: list[int], end: list[int]) -> float:
    """Share of the machine's CPU time stolen by its host during the run."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta))


def run(workload: str, seed: int, seconds: float, traced: bool, out_dir: str) -> dict:
    mix = WORKLOADS[workload]
    stamp = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(traced),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg()[0],
    }
    cpu_start = _cpu_jiffies()
    work = tempfile.mkdtemp(prefix="work-", dir=out_dir)
    try:
        dirs = _scratch_env(work)
        tr = tracing.Tracer(traced)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": dirs["warehouse"],
            # a heap fixed at its maximum from the start keeps peak RSS from
            # depending on when the collector chose to grow it
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={dirs['jtmp']}",
        }
        if traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + dirs["eventlog"],
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        from stateflow_spark.session import get_spark

        # local slices before, between and after the Spark phases
        local = workloads.LocalPhase(mix, seed, tr)
        local_slice_s = workloads.LOCAL_SHARE * seconds / workloads.LOCAL_SLICES

        def local_slice():
            local.measure(local_slice_s)

        local_slice()
        with tr.span("session.start"):
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
            spark.range(1).count()
            session_s = time.perf_counter() - t0
        try:
            local_slice()
            phases = [local, workloads.superstep_phase(spark, mix, seed, tr, traced, local_slice)]
            phases.append(workloads.stream_phase(spark, mix, seed, seconds, tr, work))
            local_slice()
            local.finish()
            from pyspark import SparkContext

            rss_parts = [tracing.peak_rss_mb(pid) for pid in (os.getpid(), SparkContext._gateway.proc.pid)]
        finally:
            _stop_spark(spark)

        attempted = failed = 0
        for ph in phases:
            a, f = ph.checks
            attempted += a
            failed += f
            stamp[f"{ph.name}_checks"] = [a, f]
        metrics = {"setup_s": session_s + sum(ph.setup_s for ph in phases), "peak_rss_mb": sum(rss_parts)}
        for ph in phases:
            metrics.update(ph.metrics)
        layers = {"session.start_s": session_s}
        for ph in phases:
            layers.update(ph.layer)
        if traced:
            layers.update(workloads.entity_serde_layers(mix, seed))
            _event_log_layers(layers, dirs["eventlog"], phases)
            for layer, s in tr.self_time_by_layer().items():
                layers[f"{layer}.self_s"] = s
        stamp.update(
            {
                "loadavg_end": os.getloadavg()[0],
                "steal_share": _steal_share(cpu_start, _cpu_jiffies()),
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
                "layers": layers,
                "superstep_walls": phases[1].extra["walls"],
                "superstep_cpus": phases[1].extra["cpus"],
                "local_slices": local.slices,
                "stream_triggers": [b["durationMs"]["triggerExecution"] / 1e3 for b in phases[2].extra["progress"]],
                "rss_mb_python_jvm": rss_parts,
            }
        )
        if traced:
            tr.dump(
                os.path.join(out_dir, f"trace-{workload}-{seed}.json"),
                {"stamp": stamp, "phases": {ph.name: ph.extra for ph in phases}},
            )
        with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
            f.write(json.dumps(stamp) + "\n")
        print(json.dumps(stamp), file=sys.stderr)
        e2e_units, layer_units = _metric_units()
        figures, units = (layers, layer_units) if traced else (metrics, e2e_units)
        shown = {k: {"value": figures[k], "unit": u} for k, u in units.items()}
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": shown}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _event_log_layers(layers: dict, log_dir: str, phases: list) -> None:
    """Per-op executor CPU, GC, shuffle and Python-worker bytes of the
    measured superstep bursts and micro-batches, from the event log."""
    by_name = {ph.name: ph.extra for ph in phases}
    first, last = by_name["stream"]["first_batch"], by_name["stream"]["last_batch"]

    def classify(props):
        if props.get("spark.jobGroup.id") == "pb-superstep-burst":
            return "superstep"
        batch = props.get("streaming.sql.batchId")
        if batch is not None and first <= int(batch) <= last:
            return "stateful"
        return None

    totals = tracing.event_log_totals(log_dir, classify)
    per_op = (("cpu_s", "cpu_us_per_op", 1e6), ("gc_s", "gc_us_per_op", 1e6),
              ("shuffle_bytes", "shuffle_bytes_per_op", 1), ("python_bytes", "python_bytes_per_op", 1))
    for layer, phase in (("superstep", "superstep"), ("stateful", "stream")):
        t, ops = totals.get(layer, {}), by_name[phase]["ops"]
        for key, name, scale in per_op:
            layers[f"{layer}.{name}"] = t.get(key, 0.0) / ops * scale


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), out_dir)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
