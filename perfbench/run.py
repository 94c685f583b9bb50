#!/usr/bin/env python3
"""Product-path benchmark of scheduler_spark.

    python3 perfbench/run.py --workload kg_cold --seed 1 --seconds 5 --trace 0

Run from the repository root.  Builds one local Spark session with one
thread per core, generates the workload's inputs from the seed, warms
every op kind up at full size, then runs timed iterations until
``--seconds`` of measuring have passed (at least one iteration).  The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics of a traced run with ``--trace 1``.  A readable
summary goes to stderr.  Scratch data lives in ``.perfbench_work`` (removed
at exit); a traced run's spans are kept in ``.perfbench_out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def contain_scratch() -> None:
    """Keep Spark's and Python's scratch files inside the work dir."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # the JVM ignored its closed stdin
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[1], q[2]


def end_to_end(w, setup_s: float) -> dict[str, dict]:
    s = w.samples
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_s": {"value": statistics.median(s["op"]), "unit": "s"},
        "rows_per_s": {"value": w.rows_per_op * len(s["op"]) / sum(s["op"]), "unit": "1/s"},
        "noop_s": {"value": statistics.median(s["noop"]), "unit": "s"},
        "ok_frac": {"value": (w.attempted - w.failed) / w.attempted, "unit": "frac"},
    }


def summarize(w, metrics: dict, trace: bool) -> None:
    err = sys.stderr
    print(f"\n== {w.name} seed={w.seed} trace={int(trace)}", file=err)
    for kind, xs in w.samples.items():
        if not xs:
            continue
        q1, med, q3 = quartiles(xs)
        line = f"  {kind:6s} n={len(xs):3d} median={med:.4f}s q1={q1:.4f} q3={q3:.4f}"
        if len(xs) >= 2:
            h = len(xs) // 2
            line += (
                f"  drift: first-half median={statistics.median(xs[:h]):.4f}"
                f" second-half median={statistics.median(xs[h:]):.4f}"
            )
        print(line, file=err)
    for name, m in metrics.items():
        print(f"  {name:48s} {m['value']:14.4f} {m['unit']}", file=err)
    frac = w.failed / w.attempted if w.attempted else 0.0
    print(f"  attempted={w.attempted} failed={w.failed} fail_frac={frac:g} "
          f"verdict={'correct' if w.failed == 0 else 'WRONG'}", file=err)
    for f in w.failures:
        print(f"  FAILED {f}", file=err)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import scheduler_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    contain_scratch()
    from scheduler_spark.session import get_spark

    cores = os.cpu_count() or 1
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", parallelism=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    session_s = time.perf_counter() - t0
    try:
        w = WORKLOADS[args.workload](spark, WORK, args.seed)
        t0 = time.perf_counter()
        w.setup()
        input_gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        w.warm_up()
        warm_up_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START
        print(f"perfbench: set-up {setup_s:.2f}s = session {session_s:.2f}s + inputs "
              f"{input_gen_s:.2f}s + warm-up {warm_up_s:.2f}s + imports", file=sys.stderr)

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark, cores)
            w.install_tracing(tracer)
        t_loop = time.perf_counter()
        i = 0
        try:
            while i == 0 or time.perf_counter() - t_loop < args.seconds:
                w.iteration(i)
                i += 1
        finally:
            if tracer is not None:
                tracer.restore()

        if tracer is None:
            metrics = end_to_end(w, setup_s)
        else:
            from layers import per_layer

            metrics = per_layer(w, tracer, i, session_s, input_gen_s, jvm_peak_rss_mb())
            os.makedirs(OUT, exist_ok=True)
            out = os.path.join(OUT, f"spans-{w.name}-seed{args.seed}.jsonl")
            with open(out, "w") as f:
                for rec in tracer.records():
                    f.write(json.dumps(rec) + "\n")
        summarize(w, metrics, tracer is not None)
    finally:
        stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    print(json.dumps({
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
