"""sparklink benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload dedupe_full --seed 1 --seconds 5 --trace 0

Run from the root of a sparklink checkout. The last line of standard
output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it, and ``perfbench/.results/``, hold
the details: host pinning, samples, per-operation figures, and spans.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from host import (
    CALIBRATION_REF_S,
    RESULTS_DIR,
    ROOT,
    WORK_DIR,
    Calibrator,
    ProcessTree,
    RssSampler,
    host_steal_s,
    pin_environment,
    since_process_start,
)

# calibration readings taken right before and right after each operation
CALIBRATIONS_PER_SIDE = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds", type=float, required=True, help="measure operations for this long (at least the workload's min_ops)"
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny fixtures (self-test)")
    ap.add_argument("--entities", type=int, default=None, help="override the corpus size (entities)")
    return ap.parse_args(argv)


def start_spark(master: str):
    from sparklink.session import get_spark

    return get_spark(
        app_name="sparklink-perfbench",
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited; its
    Python daemon and workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sparklink")):
        print(f"no sparklink package under {ROOT}: run from a sparklink checkout", file=sys.stderr)
        return 2
    host = pin_environment()
    calibrator = Calibrator()
    try:
        return measure(args, host, calibrator)
    finally:
        calibrator.close()


def measure(args, host: dict, calibrator: Calibrator) -> int:
    sys.path.insert(0, ROOT)
    import pyspark

    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload](args.seed, args.tiny, args.entities)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}{'-tiny' if args.tiny else ''}"

    t0 = time.perf_counter()
    wl.fixture()
    fixture_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_spark(host["master"])
    session_build_s = time.perf_counter() - t0
    from pyspark import SparkContext

    tree = ProcessTree(SparkContext._gateway.proc.pid)
    from spans import Tracer

    tracer = Tracer(spark, tree, enabled=bool(args.trace), run_id=run_id)
    ops: list[dict] = []
    failures: list[str] = []
    count = {"attempted": 0, "failed": 0}

    def fail(what: str, e: Exception) -> None:
        traceback.print_exc()
        failures.append(f"{what}: {type(e).__name__}: {e}")
        count["attempted"] += 1
        count["failed"] += 1

    calibrations: list[float] = []

    def calibrate() -> None:
        calibrations.extend(calibrator.reading_s() for _ in range(CALIBRATIONS_PER_SIDE))

    def run_op(i: int, traced: bool) -> dict:
        """One operation; ``traced`` turns job groups and counters on.
        Calibration readings bracket it, outside its figures."""
        calibrate()
        cpu0, steal0 = tree.cpu(), host_steal_s()
        try:
            if traced:
                r = wl.op(i, tracer)
            else:
                with tracer.off():
                    r = wl.op(i, tracer)
        except Exception as e:
            fail(f"op {i}", e)
            raise OpFailed from e
        cpu1 = tree.cpu()
        jit_cpu_s = cpu1["jit"] - cpu0["jit"]
        r.update(
            # the program's CPU: JIT compilation is reported beside it
            cpu_s=cpu1["jvm"] + cpu1["python"] - cpu0["jvm"] - cpu0["python"] - jit_cpu_s,
            jit_cpu_s=jit_cpu_s,
            wall_s=r["span"].wall_s,
            host_steal_s=host_steal_s() - steal0,
        )
        r["traced"] = traced
        count["attempted"] += r.get("attempted", 1)
        count["failed"] += len(r.get("failed_queries", ()))
        ops.append(r)
        calibrate()
        return r

    layers: dict = {}
    prep: dict = {}
    warmup_s = loop_s = None
    try:
        wl.open(spark)
        setup_s = since_process_start() - fixture_s
        with RssSampler(tree) as rss:
            if hasattr(wl, "prepare"):
                t0 = time.perf_counter()
                prep = wl.prepare(tracer)
                prep["prepare_s"] = time.perf_counter() - t0
            if args.trace:
                # the staged per-layer pass is one more checked operation
                try:
                    layers = wl.traced(tracer, lambda i: run_op(i, False), lambda i: run_op(i, True))
                    count["attempted"] += 1
                except OpFailed:
                    pass
                except Exception as e:
                    fail("traced", e)
            else:
                # untimed warm-up; it is checked like an operation
                t0 = time.perf_counter()
                try:
                    wl.warmup(tracer)
                    count["attempted"] += 1
                except Exception as e:
                    fail("warm-up", e)
                warmup_s = time.perf_counter() - t0
                t_loop = time.perf_counter()
                i = 0
                while i < wl.min_ops or time.perf_counter() - t_loop < args.seconds:
                    try:
                        run_op(i, False)
                    except OpFailed:
                        pass
                    i += 1
                loop_s = time.perf_counter() - t_loop
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t0

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "tiny": args.tiny,
        "host": {**host, "pyspark": pyspark.__version__, "python": sys.version.split()[0]},
        "fixture_s": fixture_s,
        "session.build_s": session_build_s,
        "setup_s": setup_s,
        "prepare": prep,
        "warmup_s": warmup_s,
        "loop_s": loop_s,
        "stop_s": stop_s,
        "calibration_s": calibrations,
        "calibration_ref_s": CALIBRATION_REF_S,
        "peak_rss_mb": rss.peak_mb,
        "peak_rss_jvm_mb": rss.peak_jvm_mb,
        "peak_rss_python_mb": rss.peak_python_mb,
        "failures": failures,
        "ops": [{**o, "span": dict(o["span"])} for o in ops],
    }
    for key in ("wall_s", "cpu_s", "jit_cpu_s", "quality"):
        details[key] = W.summarize([o[key] for o in ops]) if ops else None
    if args.trace:
        units = W.PER_LAYER_UNITS
        values = dict.fromkeys(units, 0.0)
        values["session.build_s"] = session_build_s
        values["host.calibration_s"] = statistics.median(calibrations) if calibrations else 0.0
        values["process.peak_rss_mb"] = rss.peak_mb
        values["process.peak_rss_jvm_mb"] = rss.peak_jvm_mb
        values["process.peak_rss_python_mb"] = rss.peak_python_mb
        values.update(layers)
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
        tracer.dump(os.path.join(RESULTS_DIR, f"trace-{run_id}.json"))
    else:
        def median(key: str) -> float:
            return details[key]["median"] if ops else 0.0

        # both timings read as on the reference host (see README.md); the
        # details keep the raw ones
        host_speed = CALIBRATION_REF_S / statistics.median(calibrations) if calibrations else 1.0
        metrics = {
            "setup_s": {"value": setup_s * host_speed, "unit": "s"},
            "op_ref_cpu_s": {"value": median("cpu_s") * host_speed, "unit": "CPU-s"},
            "quality": {"value": median("quality"), "unit": "ratio"},
        }
    details["metrics"] = metrics
    with open(os.path.join(RESULTS_DIR, f"result-{run_id}.json"), "w") as f:
        json.dump(details, f, indent=1, default=str)
    attempted = max(count["attempted"], 1)
    result = {
        "correct": count["failed"] == 0 and bool(ops),
        "attempted": attempted,
        "failed": count["failed"],
        "metrics": metrics,
    }
    details["run_s"] = since_process_start()
    print(json.dumps(details, default=str))
    print(json.dumps(result), flush=True)
    return 0


class OpFailed(Exception):
    """An operation raised or failed its output check (already counted)."""


if __name__ == "__main__":
    sys.exit(main())
