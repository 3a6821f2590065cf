"""Tracing for the per-layer run: spans around the package's public
functions, job and stage counts at the same boundaries, SQL metrics of
the executed plan, streaming progress and JVM counters.

Nothing here edits the package. Public functions are wrapped from
outside by rebinding the name in every module that holds it (``plans/*``
import ``load_table`` by name, ``sources.pipeline`` imports
``read_csv_canonical`` by name), and ``Tracer.unwrap`` restores them.
Spans stay in memory until ``Tracer.dump`` writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import operator
import os
import sys
import time

from stats import self_times

PACKAGE = "python_lambda_ecs_container_data_etl_aws_spark"
# the operator modules the query mix calls; no query of the mix calls
# multimodal, curate or graph, so their counters would read 0 forever
OPERATOR_MODULES = ("dedup", "similarity", "text")

# SQL metric name -> execute.* metric, summed over every operator of the
# final adaptive plan (the broadcast build time is reported in ms)
PLAN_METRICS = {
    "shuffleBytesWritten": "execute.shuffle_write_bytes",
    "spillSize": "execute.spill_bytes",
    "peakMemory": "execute.peak_memory_bytes",
    "numTasksFallBacked": "execute.sort_fallback_tasks",
    "buildTime": "execute.broadcast_build_s",
}


class Traced:
    """A public function wrapped in a span. A call made while a span of
    the same name is innermost (the layer calling itself) passes
    straight through, so ``calls`` counts entries into the layer."""

    def __init__(self, tracer: "Tracer", name: str, fn):
        self.tracer, self.name, self.fn = tracer, name, fn
        functools.update_wrapper(self, fn)

    def __call__(self, *args, **kwargs):
        t = self.tracer
        if t.stack and t.spans[t.stack[-1]]["name"] == self.name:
            return self.fn(*args, **kwargs)
        with t.span(self.name):
            return self.fn(*args, **kwargs)

    def __reduce__(self):
        # a closure shipped to an executor pickles the plain function
        return operator.itemgetter(0), ((self.fn,),)


class Tracer:
    """Spans of one traced phase. A span records name, start, end, parent,
    operation id and the Spark jobs and stages created inside it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self.rebound: list[tuple[object, str, object]] = []

    # -- counters ------------------------------------------------------
    def _dag(self):
        return self.sc._jsc.sc().dagScheduler()

    @staticmethod
    def _read(counter) -> int:
        # the scheduler's counters reach Python as an int or an AtomicInteger
        return int(counter if isinstance(counter, int) else counter.get())

    def job_counter(self) -> int:
        """Jobs submitted so far in this SparkContext: job ids are dense,
        so jobs inside a span are the ids between its two readings."""
        return self._read(self._dag().nextJobId())

    def stage_counter(self) -> int:
        return self._read(self._dag().nextStageId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status tracker and listeners have seen the jobs just run."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "op": self.op,
            "parent": self.stack[-1] if self.stack else None,
            "job0": self.job_counter(),
            "stage0": self.stage_counter(),
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self.stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            rec["job1"] = self.job_counter()
            rec["stage1"] = self.stage_counter()
            rec["jobs"] = rec["job1"] - rec["job0"]
            rec["stages"] = rec["stage1"] - rec["stage0"]

    @contextlib.contextmanager
    def operation(self, op_id: str, description: str):
        """Root span of one operation; its jobs run under job group
        ``op_id`` so the status tracker can list them."""
        self.op = op_id
        self.sc.setJobGroup(op_id, description)
        try:
            with self.span("op") as rec:
                yield rec
        finally:
            self.sc.setJobGroup("", "")
            self.op = None

    def task_counts(self, rec: dict) -> tuple[int, int]:
        """(tasks completed, tasks failed) of the op group's jobs that
        ran inside span ``rec``, from the status tracker."""
        self.drain()
        st = self.sc.statusTracker()
        ids = [j for j in st.getJobIdsForGroup(rec["op"]) if rec["job0"] <= j < rec["job1"]]
        done = failed = 0
        seen = set()
        for j in ids:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                si = st.getStageInfo(sid)
                if si is not None:
                    done += si.numCompletedTasks
                    failed += si.numFailedTasks
        return done, failed

    # -- wrapping ------------------------------------------------------
    def wrap(self, fn, name: str) -> None:
        """Rebind every module-level name that holds ``fn`` to a span."""
        wrapper = Traced(self, name, fn)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)
                    self.rebound.append((mod, attr, fn))

    def wrap_package(self) -> None:
        """Wrap the layer boundaries the benchmark does not call itself."""

        def mod(name):
            return importlib.import_module(f"{PACKAGE}.{name}")

        # import every module that binds a wrapped name before rebinding
        for name in ("plans", "sources.pipeline", "streaming.runner", "export"):
            mod(name)
        self.wrap(mod("catalog").load_table, "catalog.load_table")
        for short in OPERATOR_MODULES:
            mod_ = mod(f"operators.{short}")
            for attr, val in list(vars(mod_).items()):
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(val)
                    and val.__module__ == mod_.__name__
                ):
                    self.wrap(val, f"operators.{short}")
        self.wrap(mod("sources.loader").read_csv_canonical, "sources.read_csv_canonical")
        self.wrap(mod("sources.report").refresh_report, "sources.report.refresh_report")
        self.wrap(mod("sources.audit").log_ingest, "sources.audit.log_ingest")
        self.wrap(mod("sources.archive").archive_file, "sources.archive.archive_file")

    def unwrap(self) -> None:
        for mod, attr, fn in reversed(self.rebound):
            setattr(mod, attr, fn)
        self.rebound.clear()

    # -- plan metrics --------------------------------------------------
    def plan_metrics(self, df) -> dict[str, float]:
        """Sum the SQL metrics of the final adaptive plan of ``df`` after
        its action: every operator, query stage and subquery."""
        out = {name: 0.0 for name in PLAN_METRICS.values()}
        out["execute.join_output_rows"] = 0.0
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue  # its metrics belong to the exchange it reuses
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                key, val = kv._1(), kv._2().value()
                if key in PLAN_METRICS:
                    out[PLAN_METRICS[key]] += val
                elif key == "numOutputRows" and "Join" in cls:
                    out["execute.join_output_rows"] += val
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
            subs = node.subqueries()
            stack.extend(subs.apply(i) for i in range(subs.size()))
        out["execute.broadcast_build_s"] /= 1000.0
        return out

    # -- output --------------------------------------------------------
    def _under(self, rec: dict, name: str) -> bool:
        """Whether a span named ``name`` encloses ``rec``."""
        while rec["parent"] is not None:
            rec = self.spans[rec["parent"]]
            if rec["name"] == name:
                return True
        return False

    def layer_name(self, rec: dict) -> str:
        """The layer a span is reported under. ``refresh_report`` serves
        both write paths (``streaming.runner`` imports it at call time,
        so the rebinding reaches the stream's report fold too): a call
        under ``streaming.report_stream`` counts as
        ``streaming.refresh_report``, not as per-file ingest work."""
        if rec["name"] == "sources.report.refresh_report" and self._under(rec, "streaming.report_stream"):
            return "streaming.refresh_report"
        return rec["name"]

    def layer_totals(self) -> dict[str, float]:
        """calls, s, jobs and self_s summed per layer."""
        selfs = self_times(self.spans)
        out: dict[str, float] = {}
        for rec, self_s in zip(self.spans, selfs):
            n = self.layer_name(rec)
            out[f"{n}.calls"] = out.get(f"{n}.calls", 0) + 1
            out[f"{n}.s"] = out.get(f"{n}.s", 0.0) + rec["end"] - rec["start"]
            out[f"{n}.jobs"] = out.get(f"{n}.jobs", 0) + rec["jobs"]
            out[f"{n}.stages"] = out.get(f"{n}.stages", 0) + rec["stages"]
            out[f"{n}.self_s"] = out.get(f"{n}.self_s", 0.0) + self_s
        return out

    def self_sum_error(self) -> float:
        """Largest gap, over operations, between the sum of self times of
        the operation's spans and the operation's own span. Spans nest
        inside their parents, so this is 0 up to clock rounding."""
        selfs = self_times(self.spans)
        worst = 0.0
        for rec in self.spans:
            if rec["name"] != "op":
                continue
            total = sum(s for r, s in zip(self.spans, selfs) if r["op"] == rec["op"])
            worst = max(worst, abs(total - (rec["end"] - rec["start"])))
        return worst

    def dump(self, path: str, extra: dict) -> None:
        selfs = self_times(self.spans)
        rows = [
            {
                "name": self.layer_name(r),
                "op": r["op"],
                "parent": r["parent"],
                "start": r["start"],
                "end": r["end"],
                "self_s": s,
                "jobs": r["jobs"],
                "stages": r["stages"],
            }
            for r, s in zip(self.spans, selfs)
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, **extra}, fh)


class JvmCounters:
    """GC time, heap peak and JIT activity through the JVM's management
    beans."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        mf = self.jvm.java.lang.management.ManagementFactory
        self.compiler = mf.getCompilationMXBean()
        self.gcs = list(mf.getGarbageCollectorMXBeans())
        self.heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType().name()) == "HEAP"
        ]
        self.pid = int(self.jvm.ProcessHandle.current().pid())

    def settle(self, quiet_ms: int = 20, step_s: float = 0.5, cap_s: float = 8.0) -> float:
        """Collect garbage, then wait until the JIT compiler is idle (less
        than ``quiet_ms`` of compilation in ``step_s``), at most ``cap_s``,
        so compilation queued by the warm-up does not land in the timed
        pass. Returns the seconds waited."""
        t0 = time.perf_counter()
        self.jvm.java.lang.System.gc()
        last = self.compiler.getTotalCompilationTime()
        while time.perf_counter() - t0 < cap_s:
            time.sleep(step_s)
            now = self.compiler.getTotalCompilationTime()
            if now - last < quiet_ms:
                break
            last = now
        return time.perf_counter() - t0

    def cpu_s(self) -> float:
        """CPU time the JVM process has used, all threads (/proc stat)."""
        with open(f"/proc/{self.pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def jit_s(self) -> float:
        """Time the JIT compiler threads have spent compiling."""
        return self.compiler.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self.gcs) / 1000.0

    def reset_peaks(self) -> None:
        for p in self.heap_pools:
            p.resetPeakUsage()

    def heap_peak_mib(self) -> float:
        """Sum of the heap pools' peak use since ``reset_peaks``."""
        return sum(p.getPeakUsage().getUsed() for p in self.heap_pools) / 2**20

    def rss_hwm_mib(self) -> float:
        """VmHWM (peak resident set) of the JVM process."""
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


def stream_listener_class():
    """A StreamingQueryListener that counts micro-batches and sums their
    progress durations and input rows."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.batches = 0
            self.totals = {
                "streaming.trigger_ms": 0.0,
                "streaming.add_batch_ms": 0.0,
                "streaming.query_planning_ms": 0.0,
                "streaming.wal_commit_ms": 0.0,
                "streaming.input_rows": 0.0,
            }

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            self.batches += 1
            self.totals["streaming.trigger_ms"] += d.get("triggerExecution", 0)
            self.totals["streaming.add_batch_ms"] += d.get("addBatch", 0)
            self.totals["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            self.totals["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            self.totals["streaming.input_rows"] += p.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener
