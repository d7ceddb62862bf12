"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_search --seed 1 --seconds 14 --trace 0

Run from the repository root. Generates the workload's inputs from the seed,
times the workload for about ``--seconds`` seconds, checks every output, and
prints one JSON object as the last line of stdout: end-to-end metrics with
``--trace 0``, per-layer metrics from a traced run with ``--trace 1``.
Scratch files live under ``.perfbench_work/`` in the current directory.
See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402

# metric names and units come from the benchmark's definition file
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

DEADLINE_S = 170  # every run must end within 180 s


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def generate(args) -> dict:
    """Write the inputs and expected answers in a child process, so that none
    of the memory this takes counts in the run's peak; return the versions."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--generate"]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"input generation exited with {proc.returncode}: {proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def generate_here(args, work: Path) -> dict:
    """The child side of :func:`generate`."""
    env = harness.machine(work)
    import workloads

    workloads.WORKLOADS[args.workload](work, args.seed, env["cpus"], None).generate()
    return harness.versions()


def run(args, work: Path) -> dict:
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = harness.machine(work)

    # the engine is the program under test: without it there is nothing to run
    from open_molecule_data_pipeline_spark.session import get_spark

    import workloads

    trace = bool(args.trace)
    tracer = harness.Tracer(f"{args.workload}-{args.seed}")
    wl = workloads.WORKLOADS[args.workload](work, args.seed, env["cpus"], tracer)
    confs = harness.session_confs(env, work, trace)

    phases = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    env.update(generate(args))
    wl.load_plan()
    phase("generate")
    with harness.RssSampler() as rss:
        # set-up is cold: this launches the JVM, and the workload's set-up
        # makes the engine's first imports and first jobs
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            driver_memory=f"{env['driver_memory_mb']}m",
            extra_confs=confs,
        )
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        wl.setup_info = wl.setup(spark)
        setup_s = time.perf_counter() - t0
        phase("setup")
        wl.warm(spark)
        phase("warm")
        if trace:  # spans and job groups cover the timed loop and the layer calls
            tracer.start(spark.sparkContext)
        wl.timed(spark, args.seconds)
        phase("timed")
        if trace:
            wl.attempt("layer calls", wl.layers, spark)
            phase("layers")
        spark.stop()
        harness.stop_jvm()
        phase("stop")
    for pid in harness.descendants():  # Python workers that outlived their JVM
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    wl.load_expected()
    wl.verify()
    phase("verify")
    lat = harness.latency_stats(wl.latencies) if wl.latencies else None
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_kb / 1024,
        "ops_per_s": len(wl.latencies) / wl.loop_wall if wl.loop_wall else float("nan"),
        "latency_p50_s": lat["p50_s"] if lat else float("nan"),
        "latency_tail_s": lat["tail_s"] if lat else float("nan"),
        **wl.metrics(),
    }
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": trace,
        "env": env, "peak_processes": rss.peak_processes, "get_spark_s": get_spark_s, "setup": wl.setup_info, "latency": lat, "clients": wl.clients,
        "errors": wl.errors, "e2e": e2e, "phases_s": phases, **wl.info,
    }
    if trace:
        groups = harness.read_event_logs(work / "eventlog")
        layers = {name: 0.0 for name in PER_LAYER}
        layers["session.get_spark_s"] = get_spark_s
        layers["session.failed_tasks"] = groups["*"]["failed_tasks"]
        layers["session.gc_s"] = groups["*"]["gc_s"]
        try:
            layers.update(wl.layer_metrics(groups))
        except Exception as exc:  # a failed layer call leaves its metrics unmeasured
            wl.fail("layer metrics", exc)
            layers.update({k: float("nan") for k in layers if not k.startswith("session.")})
        tracer.dump(work.parent / f"{args.workload}-spans.json")
        untraced = work.parent / f"{args.workload}-e2e.json"
        if untraced.exists():
            before = json.loads(untraced.read_text())
            details["tracing_overhead"] = {k: e2e[k] - before[k] for k in e2e if k in before}
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        (work.parent / f"{args.workload}-e2e.json").write_text(json.dumps(e2e))
        metrics = {k: {"value": float(e2e[k]), "unit": unit} for k, unit in E2E.items()}
    print(json.dumps(details, default=str), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": wl.failed == 0,
        "attempted": max(wl.attempted, wl.failed, 1),
        "failed": wl.failed,
        "metrics": metrics,
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    parser.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--generate", action="store_true", help=argparse.SUPPRESS)
    args = parser.parse_args()
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    # the engine package sits beside this directory, at the repository root
    sys.path.insert(0, str(HERE.parent))
    work = Path.cwd() / ".perfbench_work" / args.workload
    try:
        result = generate_here(args, work) if args.generate else run(args, work)
    finally:
        if "pyspark" in sys.modules:  # also on error: leave no JVM behind
            harness.stop_jvm()
    signal.alarm(0)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
