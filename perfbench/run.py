"""oarphpy_spark benchmark: one closed-loop client per workload.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 10 --trace 0

A run generates (or reuses) the workload's inputs for ``--seed``,
starts the library's own ``SessionFactory`` session with its defaults
(only the master, ``local[<nproc>]``, and JVM logging are changed),
loads the query registry and runs one warm pass. That is set-up. It
then runs timed passes until ``--seconds`` have elapsed and at least
``MIN_PASSES`` have run, releasing every engine-held cache before each
pass, and checks the outputs.

``--trace 0`` reports the end-to-end metrics: ``wall_s`` and ``cpu_s``
sum each operation's fastest timed pass. ``--trace 1`` alternates untraced and traced passes and
reports the per-layer metrics: self times from spans recorded around
each call into the engine, and Spark's counters per query phase. Spans
are written to ``.perfbench_runs/`` at exit.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Host context (nproc, CPU calibration, load, steal) is printed on the
line before it, not as metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(ROOT, "BENCHMARK.json")

#: Timed passes an untraced run makes at least, whatever ``--seconds``
#: says. The JVM is still compiling hot code after the warm pass, and
#: on a shared host other tenants steal CPU in bursts; both only add
#: time, so each operation's fastest pass is its cost.
MIN_PASSES = 6


def _metric_units() -> tuple[dict, dict]:
    with open(SPEC) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _session(nproc: int, scratch: str):
    from oarphpy_spark.session import SessionFactory

    class BenchSession(SessionFactory):
        MASTER = f"local[{nproc}]"
        # The JVM's unified logging writes to stdout, which must end
        # with the result line; log4j already goes to stderr. Its
        # temporary files (native libraries) go to the run's scratch.
        CONF_KV = dict(SessionFactory.CONF_KV, **{
            "spark.driver.extraJavaOptions": f"-Xlog:disable -Djava.io.tmpdir={scratch}"})

    return BenchSession.getOrCreate()


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process the
    run started (JVM, Python workers) has exited."""
    from perfbench.measure import process_tree
    from pyspark import SparkContext

    started = [p for p in process_tree() if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- a JVM that will not stop is killed
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _op_minima(passes: list[list[tuple]], field: int) -> float:
    """Sum over a pass's operations of each one's minimum across passes:
    one pass's cost, without the stalls and compile bursts that only
    ever add to an operation's time."""
    by_op: dict[str, list[float]] = {}
    for ops in passes:
        for op in ops:
            by_op.setdefault(op[0], []).append(op[field])
    return sum(min(v) for v in by_op.values())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "oarphpy_spark")):
        print(f"perfbench: no oarphpy_spark package next to {ROOT}/perfbench; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the engine (and this package) by path too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    from perfbench import measure, workloads
    from perfbench.config import WORKLOADS, build_workload
    from perfbench.trace import SparkCounters, Tracer, attribution_selftest

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    e2e_units, layer_units = _metric_units()
    nproc = len(os.sched_getaffinity(0))
    context = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
               "load_avg_before": os.getloadavg()[0]}
    steal0 = measure.steal_jiffies()

    fails = workloads.Failures()
    wl, inputs_build_s = build_workload(args.workload, ROOT, args.seed)
    context["inputs_build_s"] = round(inputs_build_s, 3)

    # Spark's shuffle and spill files and every temporary file stay in
    # the checkout, in a directory removed at exit.
    scratch = os.path.join(ROOT, ".perfbench_runs", f"tmp-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch

    tracer = Tracer()
    with tracer.span("session.start"):
        spark = _session(nproc, scratch)
    try:
        with tracer.span("registry.load"):
            from oarphpy_spark import registry

            registry.queries()
            registry.oracle_sql()
        wl.bind(spark, fails)
        with tracer.span("warm"):
            wl.warm()
        setup_s = time.perf_counter() - T_START - inputs_build_s

        counters = SparkCounters(spark) if args.trace else None
        passes, rss, traced = [], [], []
        deadline = time.perf_counter() + args.seconds
        with measure.RssSampler() as sampler:
            while True:
                n = len(passes) + len(traced)
                sampler.reset()
                t0 = time.perf_counter()
                if args.trace and n % 2 == 1:
                    rec = wl.run_traced_pass(tracer, counters, f"p{n}")
                    traced.append((time.perf_counter() - t0, rec))
                else:
                    passes.append(wl.run_pass())
                    rss.append(sampler.peak_mb())
                # A traced run brackets its traced pass with untraced ones, so
                # the overhead estimate does not mistake JIT warm-up for cost.
                enough = (len(passes) >= 2 and traced) if args.trace else len(passes) >= MIN_PASSES
                if enough and time.perf_counter() >= deadline:
                    break
        if args.trace:
            tables = wl.trace_tables(tracer, counters)
            attribution_selftest(spark, counters, tracer, fails)
        steal1 = measure.steal_jiffies()
        context["cpu_steal_pct"] = round(
            100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 3)
        context["cpu_calib_sec"] = measure.cpu_calibration()
        context["timed_passes"] = len(passes)
        context["peak_rss_mb"] = round(_median(rss), 1)
        wl.check()
    finally:
        close = getattr(wl, "close", None)
        if close:
            close()
        _stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    if args.trace:
        from perfbench.layers import layer_metrics

        values = layer_metrics(tracer, traced, [sum(op[1] for op in p) for p in passes],
                               tables, nproc)
        values["process.peak_rss_mb"] = _median(rss)
        tracer.dump(os.path.join(ROOT, ".perfbench_runs",
                                 f"trace_{args.workload}_s{args.seed}.json"))
        units = layer_units
    else:
        values = {"setup_s": setup_s, "wall_s": _op_minima(passes, 1),
                  "cpu_s": _op_minima(passes, 2)}
        units = e2e_units
    if set(values) != set(units):
        raise RuntimeError(f"metrics produced {sorted(set(values) ^ set(units))} "
                           "differ from BENCHMARK.json")
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    for k, m in metrics.items():
        print(f"{args.workload} {k} {m['value']:.6g} {m['unit']}")
    print("# context " + json.dumps(context))
    print(json.dumps({"correct": fails.failed == 0, "attempted": fails.attempted,
                      "failed": fails.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
