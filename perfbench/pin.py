"""Write ``perfbench/pins.json``: the expected output of every query the
query workloads run, taken from the DuckDB oracle, never from Spark.

    python3 perfbench/pin.py

For each query with oracle SQL (``plans.ORACLE``) the pin is the
oracle's row count and ``verify.result_hash`` over ``data/sf0.01``.
q27 and q35 have no oracle SQL: their pin is the row count and the
exact top-3 neighbours of query vectors 0-9 from
``similarity.brute_force_topk``, the reference their recall@3 gate is
scored against. A query whose Spark result differs from its oracle is
not pinned; the script reports it and exits 1. ``run.py`` only reads
the pins, so a mismatch fails a run and never re-pins.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import workloads  # noqa: E402


def main() -> int:
    from pyspark.sql import functions as F

    from python_lambda_ecs_container_data_etl_aws_spark.catalog import load_table
    from python_lambda_ecs_container_data_etl_aws_spark.operators import similarity
    from python_lambda_ecs_container_data_etl_aws_spark.plans import ORACLE, QUERIES
    from python_lambda_ecs_container_data_etl_aws_spark.session import get_spark
    from python_lambda_ecs_container_data_etl_aws_spark.verify import duck_connect, result_hash

    sf_dir = os.path.join(workloads.DATA, "sf0.01")
    names = workloads.resolve(workloads.QUERY_MIX, QUERIES)
    spark = get_spark("perfbench-pin", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)
    pins, bad = {}, []
    for name in sorted(names):
        df = QUERIES[name](spark, sf_dir)
        rows, cols = df.collect(), list(df.columns)
        spark.catalog.clearCache()
        if name in workloads.RECALL_GATES:
            emb = load_table(spark, sf_dir, "embeddings")
            exact: dict[str, list[int]] = {}
            ref = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)
            for r in ref.collect():
                exact.setdefault(str(int(r["query_id"])), []).append(int(r["cand_id"]))
            recall = workloads.recall_at_k(rows, exact)
            if recall < workloads.RECALL_GATES[name]:
                bad.append(f"{name}: recall@3 {recall:.3f}")
                continue
            pins[name] = {"rows": len(rows), "exact_top3": {q: sorted(c) for q, c in exact.items()}}
            continue
        res = con.execute(ORACLE[name])
        o_cols = [d[0] for d in res.description]
        o_rows = res.fetchall()
        want = result_hash(o_rows, o_cols)
        if len(rows) != len(o_rows) or result_hash(rows, cols) != want:
            bad.append(f"{name}: Spark differs from the oracle")
            continue
        pins[name] = {"rows": len(o_rows), "hash": want}
        print(f"{name}: {len(o_rows)} rows", file=sys.stderr)
    spark.stop()
    if bad:
        print("not pinned:\n  " + "\n  ".join(bad), file=sys.stderr)
        return 1
    with open(workloads.PINS, "w") as fh:
        json.dump({"sf_dir": "data/sf0.01", "queries": pins}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
