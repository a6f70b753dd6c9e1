"""sopspark benchmark: one workload per invocation, in its own driver process
and JVM.

    python3 perfbench/run.py --workload kg_delta --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 1

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a separate,
traced invocation that reports per-layer metrics from Spark's event log.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
(prefixed ``perfbench-detail``) carries the input regime, host facts and the
output checks.  ``--workload all`` runs every workload in a child process of
its own, one after another; with ``--trace 1`` it runs each workload
untraced and then traced, and reports the tracing overhead (traced
``run_s`` minus untraced ``run_s``).

The benchmark drives the library only through its public functions with
their default knobs and generates every input from ``--seed``.
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
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import emit, median  # noqa: E402

WORKLOADS = ("kg_delta", "sop_chain")


def workload_class(name: str):
    if name == "kg_delta":
        from wl_kg import KgDelta

        return KgDelta
    from wl_rdf import SopChain

    return SopChain


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use a tiny one)")
    return ap.parse_args(argv)


def child(args, name: str, trace: int) -> dict | None:
    """One workload in a child process and JVM of its own; its lines are
    passed through and its result returned (``None`` if it failed)."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace), "--scale", str(args.scale),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line, flush=True)
    if proc.returncode != 0 or not lines:
        print(f"perfbench: workload {name} exited with {proc.returncode}", file=sys.stderr)
        return None
    print(f"perfbench-result {name} trace={trace} {lines[-1]}", flush=True)
    return json.loads(lines[-1])


def run_all(args) -> int:
    """Every workload, untraced (and then traced, with ``--trace 1``)."""
    results = {}
    for name in WORKLOADS:
        for trace in range(args.trace + 1):
            res = child(args, name, trace)
            if res is None:
                return 1
            results[(name, trace)] = res
        if args.trace:
            plain = results[(name, 0)]["metrics"]["run_s"]["value"]
            traced = results[(name, 1)]["metrics"]["traced.run_s"]["value"]
            results[(name, "overhead")] = {
                "correct": True, "attempted": 0, "failed": 0,
                "metrics": {"tracing_overhead_s": {"value": traced - plain, "unit": "s"}},
            }
    emit(
        {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {
                f"{w}.{m}": v for (w, _t), r in results.items() for m, v in r["metrics"].items()
            },
        }
    )
    return 0


def attempt(wl, tracer) -> list:
    """One run; an exception counts as one failed operation."""
    t = time.perf_counter()
    try:
        return wl.run(tracer)
    except Exception:
        traceback.print_exc()
        return [harness.Sample(time.perf_counter() - t, 0, ok=False)]


def end_to_end(samples, rows_name: str, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    walls = [s.wall_s for s in samples]
    rates = [s.rows / s.wall_s for s in samples if s.wall_s > 0]
    metrics = {
        "run_s": {"value": median(walls), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "rows_per_s": {"value": median(rates), "unit": "1/s"},
        "py_peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }
    extra = {
        "run_walls_s": walls,
        f"{rows_name}_per_s": median(rates),
        "run_s_tail": harness.tail_percentile(walls),
        "samples": len(samples),
    }
    return metrics, extra


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        sys.path.insert(0, ROOT)
        import pyspark  # noqa: F401
        import sopspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library under test: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    cores = harness.cores_available()
    work = os.path.join(harness.WORK, f"{args.workload}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.prepare_env(work, cores)
    load_before = harness.load1()

    from spans import Tracer

    # every way out of here, SIGTERM included, stops the JVM and waits for
    # each process started under this one
    harness.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(work, trace=bool(args.trace))
        jvm_s = time.perf_counter() - t0
        ctx = harness.Ctx(seed=args.seed, scale=args.scale, work=work, spark=spark)
        wl = workload_class(args.workload)(ctx)

        # set-up: input generation is repeated and its median taken; the JVM
        # start and the references happen once
        gens = []
        for _ in range(wl.gen_repeats):
            t = time.perf_counter()
            wl.generate()
            gens.append(time.perf_counter() - t)
        t = time.perf_counter()
        regime = wl.prepare()
        ref_s = time.perf_counter() - t
        setup_s = jvm_s + median(gens) + ref_s

        samples = []
        tracer = Tracer(spark, enabled=bool(args.trace))
        cpu_before = harness.cpu_times()
        with harness.RssSampler(tracer) as rss:
            t_win = time.perf_counter()
            runs = 0
            while True:
                samples.extend(attempt(wl, tracer))
                runs += 1
                now = time.perf_counter()
                if now - t_win >= args.seconds or now - T_PROCESS >= harness.HARD_STOP_S:
                    break
        window_s = time.perf_counter() - t_win
        cpu = harness.cpu_shares(cpu_before, harness.cpu_times())

        facts = harness.host_facts(spark, cores)
    finally:
        harness.stop_spark(spark)
    load_after = harness.load1()

    attempted = len(samples)
    failed = sum(not s.ok for s in samples)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "regime": regime,
        "host": {**facts, "load1_before": load_before, "load1_after": load_after, "window_cpu": cpu},
        "setup": {"jvm_s": jvm_s, "generate_s": gens, "reference_s": ref_s},
        "window_s": window_s,
        "runs": runs,
        "checks": ctx.notes,
        "error_rate": failed / attempted,
    }

    if args.trace:
        from layers import layer_table, per_layer_metrics

        table = layer_table(tracer, work, cores)
        metrics = per_layer_metrics(table, samples)
        detail["totals"] = table["totals"]
        tracer.dump(os.path.join(work, "spans.json"))
    else:
        metrics, extra = end_to_end(samples, wl.rows_name, setup_s, rss.peak)
        detail.update(extra)

    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1, default=str)
    emit(detail, prefix="perfbench-detail")
    emit({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics})
    return 0


if __name__ == "__main__":
    sys.exit(main())
