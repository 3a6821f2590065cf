"""Ingest bookkeeping stays on the JVM and counts ride on actions that
already run: the per-file audit row, the no-retract report fold and the
chunking offsets are JVM-side relations (no ``LogicalRDD``), the read's
two counts come from one aggregate, and the write gate's expected count
is observed on the staging write."""

from __future__ import annotations

import ast
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from python_lambda_ecs_container_data_etl_aws_spark.sources import (
    audit,
    chunking,
    loader,
    registry,
    report,
)
from python_lambda_ecs_container_data_etl_aws_spark.sources import pipeline as pl

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "python_lambda_ecs_container_data_etl_aws_spark",
)
HEADER = ",".join(registry.PRICEINDEX.canonical_columns)


def _row(dguid: str, value: str) -> str:
    return f"2023-01-01,Canada,{dguid},food,u,1,f,2,v,c,{value},ok,,n,1"


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.fixture
def written_plans(monkeypatch):
    """Analyzed plan of every DataFrame written as parquet while active."""
    plans: list[str] = []
    real = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append(_analyzed(self._df))
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return plans


def test_audit_row_is_a_jvm_relation(spark, tmp_path, written_plans):
    rep = pl.IngestReport(file="PriceIndex_a.csv", route="priceindex", loaded_rows=3)
    audit.log_ingest(spark, str(tmp_path / "log"), rep, now_us=1_700_000_000_000_000)
    assert len(written_plans) == 1
    assert "LogicalRDD" not in written_plans[0], written_plans[0]
    empty = audit.load_ingest_log(spark, str(tmp_path / "absent"))
    assert "LogicalRDD" not in _analyzed(empty)
    assert empty.count() == 0
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in empty.schema] == [
        (name, typ.lower(), True) for name, typ in _log_fields()
    ]


def _log_fields() -> list[tuple[str, str]]:
    return [tuple(f.split()) for f in audit.LOG_SCHEMA.split(", ")]


def test_no_retract_fold_is_a_jvm_relation(spark, tmp_path, written_plans):
    spec = report.ReportSpec(group_keys=("g",))
    rdir = str(tmp_path / "report")
    delta = spark.range(10).select((F.col("id") % 3).alias("g"))
    report.refresh_report(spark, rdir, spec, report.aggregate_state(delta, spec))
    report.refresh_report(spark, rdir, spec, report.aggregate_state(delta, spec))
    assert len(written_plans) == 2
    for plan in written_plans:
        assert "LogicalRDD" not in plan, plan
    got = {r["g"]: r["n_rows"] for r in report.read_report(spark, rdir).collect()}
    assert got == {0: 8, 1: 6, 2: 6}


@pytest.mark.parametrize("fn", ["add_autoid", "add_prefix_sum"])
def test_chunking_offsets_are_a_jvm_relation(spark, fn):
    df = spark.range(100).select(
        (F.col("id") * 7 % 100).alias("k"), F.lit(2).cast("bigint").alias("v")
    )
    if fn == "add_autoid":
        out, col, want = chunking.add_autoid(df, ["k"], partitions=4), "autoid", 1
    else:
        out, col, want = chunking.add_prefix_sum(df, ["k"], "v", partitions=4), "running_total", 2
    assert "LogicalRDD" not in _analyzed(out), _analyzed(out)
    got = [r[col] for r in out.orderBy("k").collect()]
    assert got == [want * (i + 1) for i in range(100)]


def test_audit_round_trip_is_exact(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    now_us = 1_700_000_000_123_456  # 2023-11-14T22:13:20Z
    rows = [
        pl.IngestReport(
            file='Price"Index, "é \'ü\'.csv',
            route="priceindex",
            loaded_rows=2**33 + 5,
            bad_rows=2**31,
            status="count_mismatch",
            detail="",
        ),
        pl.IngestReport(
            file="日本語_price.csv",
            route="quarantine",
            status="skipped",
            detail='a,b "c"\nd',
        ),
    ]
    for i, rep in enumerate(rows):
        audit.log_ingest(spark, log_dir, rep, now_us=now_us + i)
    log = audit.load_ingest_log(spark, log_dir)
    types = dict(log.dtypes)
    for name, typ in _log_fields():
        if name != "log_date":  # partition column: type comes from discovery
            assert types[name] == typ.lower(), (name, types[name])
    got = sorted(log.collect(), key=lambda r: r["ts_us"])
    assert [
        (r["file"], r["route"], r["loaded_rows"], r["bad_rows"], r["status"], r["detail"], r["ts_us"])
        for r in got
    ] == [
        (rep.file, rep.route, rep.loaded_rows, rep.bad_rows, rep.status, rep.detail, now_us + i)
        for i, rep in enumerate(rows)
    ]
    assert {str(r["log_date"]) for r in got} == {"2023-11-14"}
    assert [e for e in os.listdir(log_dir) if e.startswith("log_date=")] == [
        "log_date=2023-11-14"
    ]


def test_read_csv_counts_match_separate_counts(spark, tmp_path):
    """One aggregate gives the same src/bad rows as counting the raw
    scan and its corrupt rows apart."""
    lines = (
        [HEADER]
        + [_row(f"D{i}", f"{i}.5") for i in range(12)]
        + ["too,few,columns"] * 3
        + [_row("DX", "1.0") + ",extra,columns"] * 2
        + ['2023-01-01,"unterminated,D9,food']
    )
    path = tmp_path / "PriceIndex_mixed.csv"
    path.write_text("\n".join(lines) + "\n")
    res = loader.read_csv_canonical(spark, str(path), registry.PRICEINDEX, maxerrors=10)
    try:
        raw_rows = res.raw.count()
        corrupt = res.raw.filter(F.col(loader.CORRUPT_COL).isNotNull()).count()
        assert (res.src_rows, res.bad_rows) == (raw_rows, corrupt)
        assert res.good.count() == res.src_rows - res.bad_rows == 12
        assert res.quarantine.count() == res.bad_rows
        assert res.accepted
    finally:
        res.release()


@pytest.fixture(params=["true", "false"], ids=["aqe_on", "aqe_off"])
def aqe(spark, request):
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, before)


@pytest.fixture
def observed(monkeypatch):
    """(observed count, recount of the same plan) per gated write."""
    seen: list[tuple[int, int]] = []
    real = pl._observed_write

    def spy(df, write):
        n = real(df, write)
        seen.append((n, df.count()))
        return n

    monkeypatch.setattr(pl, "_observed_write", spy)
    return seen


def test_observed_expected_count_bucketed_merge(spark, tmp_path, aqe, observed):
    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    base = land / "PriceIndex_base.csv"
    base.write_text("\n".join([HEADER] + [_row(f"D{i}", "1.0") for i in range(60)]) + "\n")
    pl.ingest_file(spark, str(base), wh, keys=["DGUID"], n_buckets=8)
    # re-delivers 20 keys and adds 15 new ones; the merge's output is
    # every row of the buckets the delta touches
    upd = land / "PriceIndex_upd.csv"
    upd.write_text(
        "\n".join([HEADER] + [_row(f"D{i}", "2.0") for i in range(40, 75)]) + "\n"
    )
    rep = pl.ingest_file(spark, str(upd), wh, keys=["DGUID"], n_buckets=8)
    assert rep.status == "ok" and rep.loaded_rows == 35
    assert len(observed) == 2
    (fresh_n, fresh_recount), (merge_n, merge_recount) = observed
    assert fresh_n == fresh_recount == 60
    assert merge_n == merge_recount == rep.extras["persisted_rows"] > 35
    assert pl.read_permanent(spark, wh, "priceindex").count() == 75


def test_observed_expected_count_legacy_migration(spark, tmp_path, aqe, observed):
    wh = str(tmp_path / "wh")
    table_dir = os.path.join(wh, "priceindex")
    spark.createDataFrame(
        [tuple(_row(f"D{i}", f"{i}.0").split(",")) for i in range(20)],
        ", ".join(f"{c} string" for c in registry.PRICEINDEX.canonical_columns),
    ).write.parquet(table_dir)
    f = tmp_path / "price_up.csv"
    f.write_text("\n".join([HEADER, _row("D3", "333.3"), _row("D77", "77.0")]) + "\n")
    rep = pl.ingest_file(spark, str(f), wh, keys=["DGUID"], n_buckets=8)
    assert rep.status == "ok"
    assert observed == [(21, 21)]
    assert rep.extras["persisted_rows"] == 21


def test_observed_write_of_an_empty_shuffle_stage_is_zero(spark, tmp_path, aqe):
    """AQE can replace a shuffle stage that produced no rows with an
    empty relation, dropping its metric row; that reads as zero."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.jvm import _observed_write

    empty = spark.range(10).filter("id > 100").withColumn("b", F.lit(1))
    n = _observed_write(
        empty,
        lambda rows: rows.repartition(4, "b")
        .write.mode("overwrite")
        .partitionBy("b")
        .parquet(str(tmp_path / "out")),
    )
    assert n == 0


def test_local_rows_rejects_values_that_do_not_fit(spark):
    from python_lambda_ecs_container_data_etl_aws_spark.sources.jvm import _local_rows

    assert _local_rows(spark, [(1, 2**40)], "a INT, b BIGINT").collect() == [(1, 2**40)]
    with pytest.raises((PySparkException, Py4JJavaError)):
        _local_rows(spark, [("x", 1)], "a INT, b BIGINT").collect()
    with pytest.raises((PySparkException, Py4JJavaError)):
        _local_rows(spark, [(2**31, 1)], "a INT, b BIGINT").collect()


def _create_dataframe_calls(path: str) -> list[str]:
    """``<name>:<line>`` of every ``.createDataFrame(`` call in ``path``
    that is not inside the one JVM-rows helper."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    allowed: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "_local_rows":
            allowed |= {id(n) for n in ast.walk(node)}
    return [
        f"{os.path.relpath(path, PKG)}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and id(node) not in allowed
    ]


def test_ingest_paths_build_no_python_list_relations():
    """``sources/``, ``streaming/`` and ``export.py`` build small
    relations through ``sources.jvm._local_rows`` only: a Python-list
    ``createDataFrame`` starts Python-worker tasks on every action."""
    files = [os.path.join(PKG, "export.py")]
    for sub in ("sources", "streaming"):
        d = os.path.join(PKG, sub)
        files += [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".py")]
    offenders = [hit for f in files for hit in _create_dataframe_calls(f)]
    assert offenders == []
