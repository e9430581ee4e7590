"""Corpus-operator ledger: six registered queries over the sf0.01
``documents`` test table, each collected as ``bench.py`` does, with
``release_persisted()`` between them and a job group per query. One pass
on the fresh session, then a measured pass; every result is compared with
its DuckDB oracle outside the timed calls. The seed sets the query order
only.

``data/sf0.01/documents.parquet`` is a byte-for-byte copy of the
read-only sf0.01 test table (TESTDATA.md), kept in the benchmark's own
directory so that a run reads nothing outside its checkout."""

from __future__ import annotations

import os
import random
import time

from perfbench import common as C

QUERIES = (
    "q_hits",
    "q_dedup_pipeline",
    "q_quality_tree",
    "q_redirect_chains",
    "q_simhash_fast",
    "q_html_links",
)
TABLE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def same(got, exp) -> bool:
    """Exact equality of two frames in the oracle test's canonical form:
    same columns and rows, floats bitwise equal (NaN matches NaN)."""
    import numpy as np
    import pandas as pd

    if list(got.columns) != list(exp.columns) or len(got) != len(exp):
        return False
    for c in got.columns:
        g, e = got[c].values, exp[c].values
        if pd.api.types.is_float_dtype(got[c]):
            if not ((g == e) | (np.isnan(g) & np.isnan(e))).all():
                return False
        elif (g != e).any():
            return False
    return True


def corpus_layers(spark, seed: int) -> tuple[dict[str, float], int, int]:
    import duckdb

    import __spark_entry__ as entry
    from tests.test_queries_oracle import _canon as canon
    from deepseek_ocr_api_rs_spark.operators.dedup import release_persisted

    sf_dir = TABLE_DIR
    qs, oracles = entry.queries(), entry.oracle_sql()
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    sc = spark.sparkContext
    metrics: dict[str, float] = {}
    results: dict[str, list] = {}
    for pass_no in (1, 2):
        for name in order:
            group = f"{name}#{pass_no}"
            sc.setJobGroup(group, group)
            cpu0 = C.cpu_totals(spark)
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            rows = df.collect()
            dt = time.perf_counter() - t0
            release_persisted()
            jvm_cpu, py_cpu = C.cpu_delta(cpu0, C.cpu_totals(spark))
            sc.setJobGroup("", "")
            results.setdefault(name, []).append((rows, df.schema))
            if pass_no == 1:
                metrics[f"{name}.first_pass_s"] = dt
                continue
            st = C.group_stats(spark, group)
            metrics[f"{name}.wall_s"] = dt
            metrics[f"{name}.task_cpu_s"] = jvm_cpu
            metrics[f"{name}.py_cpu_s"] = py_cpu
            for k in ("jobs", "stages", "shuffle_mb", "spill_mb"):
                metrics[f"{name}.{k}"] = st[k]

    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{os.path.join(sf_dir, 'documents.parquet')}'")
    failed = 0
    for name in QUERIES:
        first, second = (
            canon(spark.createDataFrame(rows, schema).toPandas()) for rows, schema in results[name]
        )
        ok = same(second, canon(con.execute(oracles[name]).df()))
        failed += 0 if ok and same(first, second) else 1
    con.close()
    return metrics, len(QUERIES), failed
