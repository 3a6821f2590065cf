"""The benchmark's workloads. Each is closed loop with one client: the
next operation starts when the previous one has returned.

A workload runs in whole passes over a fixed list of operations, so
every run measures the same work whatever its seed: the seed orders
the queries, or generates the PriceIndex traffic. A pass returns its
per-operation latencies and what it produced; ``check`` compares that
output with the expected output after the pass, outside the timing.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import csv
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from decimal import Decimal

import traffic

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
PINS = os.path.join(HERE, "pins.json")

# One query mix over both catalog halves, at sf0.01:
# - the warehouse report surface (the reference's stored-procedure
#   reports plus warehouse joins): table resolution and plan building
#   weigh most, no operator runs;
# - the LLM-data-pipeline path (near-dup generate -> prune -> verify,
#   ANN, curation): one table load per query, operators dominate. One
#   query for each of dedup (q47, MinHash clusters), similarity (q27)
#   and text (q55).
# Every run starts a fresh JVM, where each query shape costs 2-6 s of
# warm-up per round; that cost, paid in every run, keeps the mix small.
QUERY_MIX = ("q05", "q173", "q27", "q47", "q55")
# no SQL oracle: checked by row count and recall@3 against brute force,
# at the floor of the suite's LSH recall gate
RECALL_GATES = {"q27_ann_lsh_topk": 0.9}


@dataclass
class PassResult:
    wall_s: float
    op_s: list[float] = field(default_factory=list)
    op_labels: list[str] = field(default_factory=list)
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    stored_bytes: int = 0
    input_bytes: int = 0
    jvm_cpu_s: float = 0.0


def dir_bytes(*paths: str) -> int:
    total = 0
    for root in paths:
        for d, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def resolve(prefixes, queries) -> list[str]:
    """Full catalog names of the queries numbered ``prefixes`` (q05, ...)."""
    by_prefix = {n.split("_", 1)[0]: n for n in queries}
    return [by_prefix[p] for p in prefixes]


def load_pins() -> dict:
    with open(PINS) as fh:
        return json.load(fh)


def recall_at_k(got_rows, exact: dict[str, list[int]]) -> float:
    """Mean over query ids of |ANN top-k ∩ exact top-k| / |exact top-k|."""
    ann: dict[str, set[int]] = {}
    for r in got_rows:
        ann.setdefault(str(int(r["query_id"])), set()).add(int(r["cand_id"]))
    vals = [len(ann.get(q, set()) & set(c)) / len(c) for q, c in exact.items() if c]
    return sum(vals) / len(vals)


def concurrently(fn, items, workers: int) -> None:
    """``fn`` over ``items`` on a thread pool; re-raises the first error."""
    with concurrent.futures.ThreadPoolExecutor(max_workers=workers) as pool:
        for fut in [pool.submit(fn, x) for x in items]:
            fut.result()


def span(tracer, name: str):
    """A span of ``tracer``, or nothing when tracing is off."""
    return contextlib.nullcontext() if tracer is None else tracer.span(name)


def timed_op(res: PassResult, tracer, op_id: str, label: str, fn):
    """Run one operation and record its latency in ``res``. An exception
    is a failed operation: counted, reported, and no latency sample."""
    res.attempted += 1
    t0 = time.perf_counter()
    try:
        if tracer is None:
            out = fn()
        else:
            with tracer.operation(op_id, label):
                out = fn()
    except Exception as exc:  # a failing operation must not end the run
        res.failed += 1
        res.problems.append(f"{label}: {type(exc).__name__}: {exc}")
        return None
    res.op_s.append(time.perf_counter() - t0)
    res.op_labels.append(label)
    return out


class QueryWorkload:
    """Catalog queries at sf0.01. One operation builds a query's
    DataFrame and collects it."""

    # nominal seconds a pass takes on 4 vCPU; sizes the pass count only
    PASS_S = 10.0

    def __init__(self, prefixes, seed: int):
        from python_lambda_ecs_container_data_etl_aws_spark.plans import QUERIES

        self.queries = QUERIES
        self.names = resolve(prefixes, QUERIES)
        random.Random(seed).shuffle(self.names)
        self.inputs = {"query_order": self.names}
        self.sf_dir = os.path.join(DATA, "sf0.01")
        self.warm_dir = os.path.join(DATA, "sf0.001")
        self.pins = load_pins()["queries"]
        missing = [n for n in self.names if n not in self.pins]
        if missing:
            raise SystemExit(f"no pinned expected output for {missing}; run perfbench/pin.py")

    def warm(self, spark, work: str) -> None:
        """Run every query shape once on sf0.001, all side by side, so
        class loading, whole-stage code generation and C1 compilation are
        done and the measured data is still cold. With the C1-only JIT the
        passes after one round ran as fast as after two, 9-10 s on 4
        vCPU. Jobs on data this small leave the cores mostly idle, so one
        thread per shape takes about as long as the slowest shape alone.
        The cache is cleared once at the end, because operators persist
        intermediate results that another shape may still be reading."""
        concurrently(lambda name: self.queries[name](spark, self.warm_dir).collect(),
                     sorted(self.names), len(self.names))
        spark.catalog.clearCache()

    def run_pass(self, spark, tracer, work: str, pass_no: int) -> PassResult:
        res = PassResult(wall_s=0.0)
        self._outputs = []
        t_pass = time.perf_counter()
        for i, name in enumerate(self.names):

            def query(name=name):
                # an operation runs from building the DataFrame to collect() returning
                with span(tracer, "plans.build"):
                    df = self.queries[name](spark, self.sf_dir)
                if tracer is not None:
                    with tracer.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                with span(tracer, "execute") as ex:
                    rows = df.collect()
                return df, rows, ex

            out = timed_op(res, tracer, f"p{pass_no}-{i}-{name}", name, query)
            if out is not None:
                df, rows, ex = out
                self._outputs.append((name, rows, list(df.columns)))
                res.rows += len(rows)
                if tracer is not None:
                    self._plan_layer(tracer, df, ex, res.layer)
            spark.catalog.clearCache()
        res.wall_s = time.perf_counter() - t_pass
        if tracer is not None:
            res.layer["collect.rows"] = res.rows
        return res

    @staticmethod
    def _plan_layer(tracer, df, execute_span, add: dict) -> None:
        for k, v in tracer.plan_metrics(df).items():
            add[k] = add.get(k, 0.0) + v
        done, failed = tracer.task_counts(execute_span)
        add["execute.tasks"] = add.get("execute.tasks", 0) + done
        add["execute.failed_tasks"] = add.get("execute.failed_tasks", 0) + failed

    def check(self, spark, res: PassResult) -> None:
        from python_lambda_ecs_container_data_etl_aws_spark.verify import result_hash

        for name, rows, cols in self._outputs:
            pin = self.pins[name]
            if len(rows) != pin["rows"]:
                bad = f"{len(rows)} rows, pinned {pin['rows']}"
            elif name in RECALL_GATES:
                rec = recall_at_k(rows, pin["exact_top3"])
                bad = "" if rec >= RECALL_GATES[name] else f"recall@3 {rec:.3f} < {RECALL_GATES[name]}"
            else:
                bad = "" if result_hash(rows, cols) == pin["hash"] else "hash differs from the oracle pin"
            if bad:
                res.failed += 1
                res.problems.append(f"{name}: {bad}")
        self._outputs = []


class IngestWorkload:
    """The PriceIndex traffic through both write paths, in one pass:

    1. every delivery into a fresh warehouse through
       ``sources.pipeline.ingest_file`` (route, validate, bucket-scoped
       upsert, report refresh, archive, audit), then
       ``export.export_report_csv``;
    2. the streaming twin: the clean full extracts landed one at a time
       by tmp+rename, each followed by one availableNow
       ``streaming.runner.report_stream`` drain (append plus report
       fold, no merge). The file source has no router and no maxerrors
       gate, so only files it can take whole are landed.
    """

    N_BUCKETS = 64
    # the first round creates the table and the stream sink, the second
    # merges and folds into them
    WARM_ROUNDS = 2
    # nominal seconds a pass takes on 4 vCPU; sizes the pass count only
    PASS_S = 22.0
    STREAM_KINDS = ("base", "redelivery")

    def __init__(self, seed: int):
        from pyspark.sql.types import StringType, StructField, StructType

        from python_lambda_ecs_container_data_etl_aws_spark.sources.report import ReportSpec

        self.deliveries = traffic.generate(seed)
        self.drops = [d for d in self.deliveries if d.kind in self.STREAM_KINDS]
        self.spec = ReportSpec(group_keys=traffic.GROUP_KEYS, sums=(("sum_value", traffic.SUM_EXPR),))
        self.schema = StructType([StructField(c, StringType()) for c in traffic.COLUMNS])
        self.inputs = {"traffic": traffic.mix(self.deliveries)}

    @staticmethod
    def pass_dirs(work: str, tag: str) -> dict[str, str]:
        root = os.path.join(work, tag)
        shutil.rmtree(root, ignore_errors=True)
        names = ("landing", "warehouse", "backup", "log", "quarantine", "report", "export",
                 "stream_landing", "facts", "checkpoint", "stream_report")
        dirs = {n: os.path.join(root, n) for n in names}
        os.makedirs(dirs["landing"])
        os.makedirs(dirs["stream_landing"])
        dirs["root"] = root
        return dirs

    def _ingest(self, spark, path: str, dirs: dict[str, str]):
        from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import ingest_file

        return ingest_file(
            spark,
            path,
            dirs["warehouse"],
            backup_dir=dirs["backup"],
            keys=list(traffic.KEYS),
            maxerrors=traffic.MAXERRORS,
            n_buckets=self.N_BUCKETS,
            log_dir=dirs["log"],
            quarantine_dir=dirs["quarantine"],
            report_spec=self.spec,
            report_dir=dirs["report"],
        )

    def _export(self, spark, dirs):
        from python_lambda_ecs_container_data_etl_aws_spark.export import export_report_csv
        from python_lambda_ecs_container_data_etl_aws_spark.sources.report import read_report

        return export_report_csv(read_report(spark, dirs["report"]), dirs["export"])

    def _drain(self, spark, dirs):
        from python_lambda_ecs_container_data_etl_aws_spark.streaming.runner import report_stream

        report_stream(
            spark,
            dirs["stream_landing"],
            self.schema,
            dirs["facts"],
            dirs["checkpoint"],
            self.spec,
            dirs["stream_report"],
            fmt="csv",
        )

    def warm(self, spark, work: str) -> None:
        """Small files into throwaway directories, ``WARM_ROUNDS`` times
        over: a correction and an export per round (the first round
        creates the table, later ones merge into it), and one streamed
        drop per round. The batch and the stream path share no
        directory, so they warm side by side."""
        dirs = self.pass_dirs(work, "warm")
        fix = next(d for d in self.deliveries if d.kind == "bad_within")

        def batch_path():
            for _ in range(self.WARM_ROUNDS):
                self._ingest(spark, traffic.land(fix, dirs["landing"]), dirs)
                self._export(spark, dirs)

        def stream_path():
            for i in range(self.WARM_ROUNDS):
                clean = traffic.Delivery(f"PriceIndex_warm{i}.csv", "redelivery",
                                         traffic.csv_bytes(fix.good_rows), fix.good_rows, 0, "ok")
                traffic.land(clean, dirs["stream_landing"])
                self._drain(spark, dirs)

        concurrently(lambda f: f(), [batch_path, stream_path], 2)
        shutil.rmtree(dirs["root"], ignore_errors=True)

    def run_pass(self, spark, tracer, work: str, pass_no: int) -> PassResult:
        dirs = self.pass_dirs(work, f"pass{pass_no}")
        res = PassResult(wall_s=0.0)
        mtimes: dict[str, int] = {}
        rewritten = buckets = loaded = 0
        t_pass = time.perf_counter()
        for i, d in enumerate(self.deliveries):

            def deliver(d=d):
                # an operation runs from the file landing to ingest_file returning
                path = traffic.land(d, dirs["landing"], mtimes.get(d.name))
                mtimes[d.name] = os.stat(path).st_mtime_ns
                with span(tracer, "sources.ingest_file"):
                    return self._ingest(spark, path, dirs)

            rep = timed_op(res, tracer, f"p{pass_no}-{i}-{d.kind}", f"{d.kind} {d.name}", deliver)
            if rep is None:
                continue
            want = (d.status, len(d.good_rows) if d.applies else 0, d.bad_lines)
            got = (rep.status, rep.loaded_rows, rep.bad_rows)
            if got != want:
                res.failed += 1
                res.problems.append(f"{d.name}: (status, loaded, bad) {got}, scripted {want}")
            if rep.status == "ok":
                loaded += rep.loaded_rows
                rewritten += rep.extras.get("persisted_rows", 0)
                buckets += rep.extras.get("buckets_touched", 0)

        def export():
            with span(tracer, "export.export_report_csv"):
                return self._export(spark, dirs)

        self._csv = timed_op(res, tracer, f"p{pass_no}-export", "export", export)
        self._landed = []
        for i, d in enumerate(self.drops):

            def drop(d=d):
                # an operation runs from the file landing to report_stream returning
                traffic.land(d, dirs["stream_landing"])
                with span(tracer, "streaming.report_stream"):
                    self._drain(spark, dirs)
                return d

            if timed_op(res, tracer, f"p{pass_no}-s{i}-{d.kind}", f"stream {d.name}", drop) is not None:
                self._landed.append(d)
        res.wall_s = time.perf_counter() - t_pass
        streamed = sum(len(d.good_rows) for d in self._landed)
        res.rows = loaded + streamed
        table = os.path.join(dirs["warehouse"], "priceindex")
        res.stored_bytes = dir_bytes(table, dirs["report"], dirs["log"], dirs["quarantine"],
                                     dirs["facts"], dirs["stream_report"])
        res.input_bytes = sum(len(d.payload) for d in self.deliveries + self.drops)
        res.layer = {
            "sources.buckets_touched": buckets,
            "sources.rows_rewritten_per_row_loaded": rewritten / max(loaded, 1),
            "sources.table_files": sum(f.endswith(".parquet") for _, _, fs in os.walk(table) for f in fs),
        }
        self._dirs = dirs
        return res

    @staticmethod
    def report_dict(rows) -> dict:
        """Report rows (Spark rows or CSV records) as the model's dict."""
        return {(r["GEO"], r["Products"]): (int(r["n_rows"]), Decimal(r["sum_value"])) for r in rows}

    def report_rows(self, spark, report_dir: str) -> dict:
        from python_lambda_ecs_container_data_etl_aws_spark.sources.report import read_report

        return self.report_dict(read_report(spark, report_dir).collect())

    def check(self, spark, res: PassResult) -> None:
        """Ingest: table = delta-wins upsert of the applied files, report =
        its aggregate, audit statuses and the exported CSV as scripted.
        Stream: report = aggregate of every landed row, each landed row
        once in the fact sink."""
        from python_lambda_ecs_container_data_etl_aws_spark.sources.audit import load_ingest_log
        from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import read_permanent
        from python_lambda_ecs_container_data_etl_aws_spark.sources.report import aggregate_state

        dirs, problems = self._dirs, []
        want_table = traffic.expected_table(self.deliveries)
        perm = read_permanent(spark, dirs["warehouse"], "priceindex")
        # the CSV reader loads an empty field as NULL
        rows = [tuple("" if r[c] is None else r[c] for c in traffic.COLUMNS) for r in perm.collect()]
        ki = [traffic.COLUMNS.index(k) for k in traffic.KEYS]
        got_table = {tuple(r[i] for i in ki): r for r in rows}
        if len(rows) != len(got_table) or got_table != want_table:
            problems.append(f"permanent table: {len(rows)} rows, expected {len(want_table)} upserted keys")
        want_report = traffic.expected_report(want_table.values())
        agg = self.report_dict(aggregate_state(perm, self.spec).collect())
        report = self.report_rows(spark, dirs["report"])
        if report != agg or report != want_report:
            problems.append("report differs from the aggregate of the table")
        log = load_ingest_log(spark, dirs["log"]).orderBy("ts_us").collect()
        statuses = [(r["file"], r["status"]) for r in log]
        if statuses != [(d.name, d.status) for d in self.deliveries]:
            problems.append(f"audit statuses {statuses}")
        if self._csv is None or self._read_csv(self._csv) != want_report:
            problems.append("exported CSV differs from the report")
        landed = [row for d in self._landed for row in d.good_rows]
        if self.report_rows(spark, dirs["stream_report"]) != traffic.expected_report(landed):
            problems.append("stream report differs from the aggregate of the landed rows")
        facts = spark.read.parquet(dirs["facts"]).count()
        if facts != len(landed):
            problems.append(f"stream fact sink holds {facts} rows, landed {len(landed)}")
        if problems:
            res.failed += 1  # the pass as a whole produced a wrong output
            res.problems.extend(problems)
        shutil.rmtree(dirs["root"], ignore_errors=True)

    def _read_csv(self, path: str) -> dict:
        with open(path, newline="") as fh:
            return self.report_dict(csv.DictReader(fh))


WORKLOADS = {
    "reports_curation": lambda seed: QueryWorkload(QUERY_MIX, seed),
    "priceindex_ingest": IngestWorkload,
}
