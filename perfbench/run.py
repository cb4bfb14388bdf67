"""Benchmark entry point: one workload in one fresh Spark process.

    python3 perfbench/run.py --workload pipeline_csv --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run generates its inputs from
the seed, starts a local Spark session on every core (``local[nproc]``),
computes the expected output (DuckDB oracle or invariants, cached per
input bytes in ``.perfbench_cache``), runs one cold job, warms up (see
``Runner.warm_up``), then runs timed jobs for ``--seconds`` (at least
``MIN_TIMED`` of them) in a closed loop with one client. Every job's
output is checked.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run interleaves traced and untraced warm jobs and
reports per-layer metrics (see spans.py). The line before it is a detail
record (inputs, every sample, ``error_rate``). ``--all`` runs every
workload, each in its own process, and prints one summary line each.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_TIMED = 3
MIN_WARMUP = 2
#: A warm-up job that is within this share of the best earlier warm-up
#: time means times have stopped falling.
WARM_TOL = 0.05
SETUP_REPEATS = 3


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def load_manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Runner:
    """Runs one workload's jobs, checking each and keeping its wall time."""

    def __init__(self, spark, workload, expected):
        self.spark = spark
        self.wl = workload
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.got = None

    def run(self, i: int, wrap=None) -> float | None:
        """One job; returns its wall time, or None when it failed."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            if wrap is None:
                handle = self.wl.job(self.spark, i)
            else:
                with wrap:
                    handle = self.wl.job(self.spark, i)
            elapsed = time.perf_counter() - t0
            got = self.wl.collect(self.spark, handle)
            problems = self.wl.check(got, self.expected)
        except Exception:  # a failing job is counted, not fatal
            self.failed += 1
            self.problems.append(f"job {i} raised:\n{traceback.format_exc()}")
            return None
        if problems:
            self.failed += 1
            self.problems.extend(f"job {i}: {p}" for p in problems)
            return None
        self.got = got
        return elapsed

    def warm_up(self, seconds: float, start: int) -> tuple[list[float], int]:
        """Warm-up jobs for at least ``seconds`` and MIN_WARMUP jobs, then
        on until times stop falling (a job within WARM_TOL of the best
        before it), for at most twice ``seconds``. Single job times are
        noisy, so the floor keeps one early lucky job from ending it."""
        times: list[float] = []
        i = start
        t0 = time.perf_counter()
        while True:
            t = self.run(i)
            i += 1
            if t is None:
                break
            falling = bool(times) and t < (1 - WARM_TOL) * min(times)
            times.append(t)
            spent = time.perf_counter() - t0
            if len(times) >= MIN_WARMUP and spent >= seconds and not falling:
                break
            if spent >= 2 * seconds and len(times) >= MIN_WARMUP:
                break
        return times, i


def measure(args) -> dict:
    """Set up, run and check one workload; returns the result record."""
    import session
    import workloads

    wl_cls = workloads.WORKLOADS[args.workload]
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cache_dir = os.path.join(ROOT, ".perfbench_cache")
    event_dir = os.path.join(work_dir, "eventlog") if args.trace else None
    live = []

    def stop() -> None:
        while live:
            session.stop(live.pop())

    try:
        spark = session.start(work_dir, f"perfbench-{args.workload}", event_dir)
        live.append(spark)
        session_ready = process_age_s()
        wl = wl_cls(work_dir, args.seed, scale=args.scale)
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.make_inputs()
            gen_s.append(time.perf_counter() - t0)
        setup_s = session_ready + statistics.median(gen_s)
        expected = wl.expected(cache_dir, session.cpu_count())

        runner = Runner(spark, wl, expected)
        cold = runner.run(0)
        warm, i = runner.warm_up(args.seconds, 1)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": session.cpu_count(),
            "inputs": wl.describe(),
            "session_start_s": session_ready,
            "input_gen_s": gen_s,
            "cold_job_s": cold,
            "warmup_s": warm,
        }
        if args.trace:
            result = _measure_traced(args, spark, runner, i, event_dir, detail, stop)
        else:
            timed: list[float] = []
            t_end = time.perf_counter() + args.seconds
            while len(timed) < MIN_TIMED or time.perf_counter() < t_end:
                t = runner.run(i)
                i += 1
                if t is not None:
                    timed.append(t)
                elif runner.failed > runner.attempted // 2:
                    break
            detail["timed_s"] = timed
            metrics = {"setup_s": (setup_s, "s")}
            if cold is not None:
                metrics["cold_job_s"] = (cold, "s")
            if timed:
                metrics["warm_job_s"] = (statistics.median(timed), "s")
            result = {"metrics": metrics}
        detail["attempted"] = runner.attempted
        detail["failed"] = runner.failed
        detail["error_rate"] = runner.failed / max(1, runner.attempted)
        detail["problems"] = runner.problems[:5]
        result.update(detail=detail, attempted=runner.attempted, failed=runner.failed)
        return result
    finally:
        stop()
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work_dir))


def _measure_traced(args, spark, runner, i, event_dir, detail, stop) -> dict:
    """Alternate traced and untraced warm jobs, then fold the event log."""
    import spans

    tracer = spans.Tracer(spark)
    tracer.install()
    traced: list[float] = []
    untraced: list[float] = []
    facts: list[dict[str, float]] = []
    t_end = time.perf_counter() + args.seconds
    k = 0
    try:
        while len(traced) < MIN_TIMED or time.perf_counter() < t_end:
            # Alternate which of the pair runs first, so a trend in job
            # times (late JIT, machine load) does not bias the overhead.
            for traced_turn in ((True, False) if k % 2 == 0 else (False, True)):
                if traced_turn:
                    t = runner.run(i, tracer.traced_iteration(k))
                    if t is not None:
                        traced.append(t)
                        facts.append(runner.wl.layer_facts(runner.got))
                else:
                    t = runner.run(i)
                    if t is not None:
                        untraced.append(t)
                i += 1
            k += 1
            if runner.failed > runner.attempted // 2:
                break
    finally:
        tracer.uninstall()
    # The event log is complete only once the session has stopped.
    stop()
    counters = spans.fold_event_log(event_dir)
    layers, varying = spans.layer_metrics(tracer, counters)
    # Counts read off the outputs; the sweep's own level stats win.
    for name in {k for f in facts for k in f}:
        layers.setdefault(name, statistics.median(f.get(name, 0) for f in facts))
    job_s = statistics.median(traced) if traced else 0.0
    untraced_s = statistics.median(untraced) if untraced else 0.0
    layers["session.start_s"] = detail["session_start_s"]
    layers["trace.job_s"] = job_s
    layers["trace.untraced_job_s"] = untraced_s
    layers["trace.overhead_s"] = job_s - untraced_s
    layers["trace.unattributed_s"] = layers.get("job.self_s", 0.0)
    evaluated = layers.get("operators.sweep.sets_evaluated", 0)
    layers["operators.sweep.survived_ratio"] = (
        layers.get("operators.sweep.sets_survived", 0) / evaluated if evaluated else 0.0
    )
    detail["traced_s"] = traced
    detail["untraced_s"] = untraced
    detail["counts_varying"] = varying
    detail["span_layers"] = {k: v for k, v in sorted(layers.items())}
    manifest = {m["name"]: m["unit"] for m in load_manifest()["per_layer"]}
    metrics = {name: (layers.get(name, 0), unit) for name, unit in manifest.items()}
    return {"metrics": metrics}


def emit(result: dict) -> None:
    print(json.dumps({"detail": result["detail"]}))
    metrics = {
        name: {"value": value, "unit": unit} for name, (value, unit) in result["metrics"].items()
    }
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0 and result["attempted"] > 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )


def run_all(args) -> int:
    """Every workload for one seed, each in its own fresh process."""
    import workloads

    status = 0
    for name in workloads.WORKLOADS:
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--scale", str(args.scale),
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(json.dumps({"workload": name, "exit": proc.returncode, "stderr": proc.stderr[-2000:]}))
            status = 1
            continue
        detail = json.loads(lines[-2])["detail"]
        last = json.loads(lines[-1])
        summary = {
            "workload": name,
            "error_rate": detail["error_rate"],
            **{k: v["value"] for k, v in last["metrics"].items()},
        }
        print(json.dumps(summary))
        status |= 0 if last["correct"] else 1
    return status


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--all", action="store_true", help="run every workload, one process each")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke runs)")
    args = p.parse_args(argv)

    # Let a terminated run unwind, so its session and scratch files go too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    # Without the package source next to the benchmark there is nothing to
    # measure: fail before printing any result.
    try:
        import app_insights_generator_spark as pkg
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the package was imported from {pkg.__file__}, not this checkout", file=sys.stderr)
        return 2
    import workloads

    if args.all:
        return run_all(args)
    if args.workload not in workloads.WORKLOADS:
        p.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    emit(measure(args))
    # A wrong output is reported in the result line ("correct": false).
    return 0


if __name__ == "__main__":
    sys.exit(main())
