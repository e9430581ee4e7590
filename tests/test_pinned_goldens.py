"""The pinned-golden VALUES oracles return exactly their stored rows at both
correctness scales.

``test_queries_oracle.py`` runs Spark against every oracle at sf0.001 only;
this DuckDB-only check also covers the sf0.01 branch of each scale-gated
oracle, so a discriminator that no longer matches its table, or rows that
lose bits on their way through the data file and the SQL literals, fail
here without a Spark session."""

from __future__ import annotations

import os

import duckdb
import pytest

from deepseek_ocr_api_rs_spark import conf
from deepseek_ocr_api_rs_spark.fixtures import oracle_goldens

SCALES = [os.path.join(os.path.dirname(conf.testdata_dir()), sf) for sf in ("sf0.001", "sf0.01")]
PINNED = sorted(oracle_goldens.load()["ROWS"])


@pytest.fixture(scope="module", params=SCALES, ids=lambda d: d.rsplit("/", 1)[-1])
def scale(request):
    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{request.param}/documents.parquet'")
    (disc,) = con.execute("select sum(length(text)) from documents").fetchone()
    yield con, str(disc)
    con.close()


@pytest.mark.parametrize("name", PINNED)
def test_values_oracle_returns_stored_rows(scale, name):
    con, disc = scale
    stored = [tuple(rec) for rec in oracle_goldens.load()["ROWS"][name][disc]]
    got = con.execute(oracle_goldens.values_oracle(name)).fetchall()
    assert got == stored
