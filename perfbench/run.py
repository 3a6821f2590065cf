"""Benchmark of the ETL and analytics engine, driven from outside
through the package's public functions.

    python3 perfbench/run.py --workload reports_curation --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. One process, one Spark session on
``local[<cpus>]``. A run:

1. sets up once: ``session.get_spark`` + ``configure`` (which launches
   the JVM) + one small job, then the workload's warm-up on other
   inputs;
2. measures whole passes of the workload, tracing off: about
   ``--seconds`` of them at the workload's nominal pass time (at least
   one), a fixed count, so every run does the same work whatever the
   host's speed;
3. with ``--trace 1``, measures one more pass with spans around the
   package's public functions and reports per-layer figures; the
   tracing overhead is the traced pass time over the untraced one;
4. checks every output of every pass against the expected output.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Every file the
run writes lives under ``.bench_work/`` in the checkout; ``--out FILE``
also appends the result, tagged with workload, seed and trace, for
``perfbench/compare.py``. The metrics reported, with their units, are
the ones ``BENCHMARK.json`` names.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from tracing import JvmCounters, Tracer, stream_listener_class  # noqa: E402

DRIVER_MEMORY = "2g"
# C1 only. A run's JVM lives about a minute, never long enough for C2 to
# finish: with tiered compilation the compiler threads spent 12-19 CPU-s
# in a 9 s query pass on 4 vCPU, against 1-2 CPU-s with C1 only, so pass
# times measured how far the compile queue had got.
JIT = "-XX:TieredStopAtLevel=1"
# stop starting passes once a run has lasted this long, so that it ends
# well inside the three minutes a run may take
RUN_BUDGET_S = 120.0
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as ``BENCHMARK.json``
    declares them."""
    with open(SPEC) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the tagged result to this JSON-lines file")
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def _import_package():
    """The package under test must come from this checkout."""
    sys.path.insert(0, ROOT)
    try:
        import python_lambda_ecs_container_data_etl_aws_spark as pkg
    except ImportError as exc:
        raise SystemExit(f"perfbench: the package is not in {ROOT}: {exc}") from None
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: imported the package from {pkg.__file__}, not {ROOT}")


def _session(cpus: int):
    from python_lambda_ecs_container_data_etl_aws_spark.session import configure, get_spark

    spark = configure(get_spark("perfbench", cpus=cpus))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _setup(wl, cpus: int, work: str):
    """The run's one set-up: launch the JVM with ``get_spark`` +
    ``configure``, run one small job, then the workload's warm-up.
    Returns the session, setup_s (all of it) and the ``get_spark`` +
    ``configure`` part."""
    t0 = time.perf_counter()
    spark = _session(cpus)
    get_spark_s = time.perf_counter() - t0
    try:
        spark.range(1000).selectExpr("sum(id)").collect()
        session_s = time.perf_counter() - t0
        wl.warm(spark, work)
    except BaseException:
        _stop(spark)
        raise
    setup_s = time.perf_counter() - t0
    print(f"[perfbench] set-up {setup_s:.3f} s: session {session_s:.3f} s "
          f"(get_spark {get_spark_s:.3f} s), warm-up {setup_s - session_s:.3f} s", file=sys.stderr)
    return spark, setup_s, get_spark_s


def pass_count(seconds: float, pass_s: float) -> int:
    """The whole number of passes nearest to ``seconds`` at ``pass_s``
    each, at least one."""
    return max(1, round(seconds / pass_s))


def _passes(wl, spark, jvm, tracer, n: int, work: str, first_no: int, started: float):
    """``n`` whole passes, fewer only if the run outlasts its budget or a
    pass fails every operation."""
    done = []
    while len(done) < n:
        cpu0, jit0, gc0 = jvm.cpu_s(), jvm.jit_s(), jvm.gc_s()
        res = wl.run_pass(spark, tracer, work, first_no + len(done))
        res.jvm_cpu_s = jvm.cpu_s() - cpu0
        print(f"[perfbench] pass {first_no + len(done)}: wall {res.wall_s:.3f} s, "
              f"JVM CPU {res.jvm_cpu_s:.3f} s, JIT {jvm.jit_s() - jit0:.3f} s, "
              f"GC {jvm.gc_s() - gc0:.3f} s", file=sys.stderr)
        wl.check(spark, res)
        done.append(res)
        if (
            time.perf_counter() - started > RUN_BUDGET_S
            or res.failed == res.attempted  # nothing works: more passes measure nothing
        ):
            break
    return done


def _pass_s(passes) -> float:
    return stats.median_pass_s([dict(zip(r.op_labels, r.op_s)) for r in passes])


def _end_to_end(passes, setup_s: float) -> dict[str, float]:
    wall = _pass_s(passes)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": stats.median([r.rows for r in passes]) / wall,
    }


def _per_layer(names, tracer, traced, untraced, listener, get_spark_s, jvm, gc_s,
               heap_mib) -> dict[str, float]:
    n = len(traced)
    totals = tracer.layer_totals()
    out = {name: 0.0 for name in names}
    for name in names:
        if name in totals:
            out[name] = totals[name] / n
    for r in traced:
        for k, v in r.layer.items():
            if k in out:
                out[k] += v / n
    stored = sum(r.stored_bytes for r in traced)
    given = sum(r.input_bytes for r in traced)
    out["sources.stored_bytes_per_input_byte"] = stored / given if given else 0.0
    if listener.batches:
        # durations per micro-batch; input rows per pass
        for k, v in listener.totals.items():
            out[k] = v / (n if k == "streaming.input_rows" else listener.batches)
        out["streaming.jobs_per_batch"] = totals.get("streaming.report_stream.jobs", 0) / listener.batches
    out["session.get_spark_s"] = get_spark_s
    out["jvm.gc_s"] = gc_s / n
    out["jvm.cpu_s"] = sum(r.jvm_cpu_s for r in traced) / n
    out["jvm.heap_used_peak_mib"] = heap_mib
    out["jvm.peak_rss_mib"] = jvm.rss_hwm_mib()
    out["trace.overhead_ratio"] = _pass_s(traced) / _pass_s(untraced)
    return out


def _trace_phase(wl, spark, jvm, args, names, work: str, first_no: int, started: float, untraced,
                 get_spark_s):
    """One traced pass after the untraced ones. Writes the spans and
    returns (traced passes, per-layer metrics). The JIT is still warming
    across passes, so the traced pass runs a little warmer than the
    untraced ones and ``trace.overhead_ratio`` errs low."""
    tracer = Tracer(spark)
    listener = stream_listener_class()()
    spark.streams.addListener(listener)
    tracer.wrap_package()
    jvm.reset_peaks()
    gc0 = jvm.gc_s()
    try:
        traced = _passes(wl, spark, jvm, tracer, 1, work, first_no, started)
    finally:
        tracer.unwrap()
    tracer.drain()
    gc_s, heap_mib = jvm.gc_s() - gc0, jvm.heap_peak_mib()
    spark.streams.removeListener(listener)
    metrics = _per_layer(names, tracer, traced, untraced, listener, get_spark_s, jvm, gc_s, heap_mib)
    traces = os.path.join(ROOT, ".bench_work", "traces")
    os.makedirs(traces, exist_ok=True)
    path = os.path.join(traces, f"{args.workload}-s{args.seed}.json")
    err = tracer.self_sum_error()
    tracer.dump(path, {"workload": args.workload, "seed": args.seed, "inputs": wl.inputs,
                       "self_sum_error_s": err, "metrics": metrics})
    print(f"[perfbench] spans -> {path}; max |sum(self) - op span| = {err:.2e} s", file=sys.stderr)
    return traced, metrics


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    started = time.perf_counter()
    end_to_end, per_layer = metric_units()
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    try:
        _import_package()
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                             f"one of {sorted(workloads.WORKLOADS)}")
        wl = workloads.WORKLOADS[args.workload](args.seed)
        cpus = len(os.sched_getaffinity(0))
        print(f"[perfbench] imported in {time.perf_counter() - started:.2f} s", file=sys.stderr)
        spark, setup_s, get_spark_s = _setup(wl, cpus, work)
        try:
            jvm = JvmCounters(spark)
            print(f"[perfbench] settled in {jvm.settle():.2f} s", file=sys.stderr)
            untraced = _passes(wl, spark, jvm, None, pass_count(args.seconds, wl.PASS_S), work, 0,
                               started)
            passes = list(untraced)
            if args.trace:
                traced, metrics = _trace_phase(wl, spark, jvm, args, per_layer, work, len(passes),
                                               started, untraced, get_spark_s)
                passes += traced
                units = per_layer
            else:
                metrics = _end_to_end(untraced, setup_s)
                units = end_to_end
        finally:
            t_stop = time.perf_counter()
            _stop(spark)
            print(f"[perfbench] stopped in {time.perf_counter() - t_stop:.2f} s; "
                  f"run {time.perf_counter() - started:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r.attempted for r in passes)
    failed = min(sum(r.failed for r in passes), attempted)
    problems = [p for r in passes for p in r.problems]
    for p in problems[:20]:
        print(f"[perfbench] FAIL {p}", file=sys.stderr)
    ops = sum(len(r.op_s) for r in untraced)
    print(f"# {args.workload} seed={args.seed} passes={len(untraced)} ops={ops} "
          f"fail_ratio={stats.fail_ratio(attempted, failed):.4f}")
    for name, unit in units.items():
        print(f"{name} = {metrics[name]:.6g} {unit}")
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    if args.out:
        tagged = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            **result,
            "inputs": wl.inputs,
            "pass_wall_s": [r.wall_s for r in passes],
            "ops": [[lab, s] for r in passes for lab, s in zip(r.op_labels, r.op_s)],
        }
        with open(args.out, "a") as fh:
            fh.write(json.dumps(tagged) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
