"""Pinned golden outputs of the non-SQL-expressible queries as DuckDB oracles.

The rows live in ``oracle_goldens.json.gz`` next to this module, written by
``scripts/pin_oracle_goldens.py``: ``COLS`` (column name and DuckDB type per
query), ``ORDER`` (each query's ORDER BY) and ``ROWS`` (the captured rows at
the two correctness scales, sf0.001 / sf0.01, keyed by the scale
discriminator ``sum(length(text))`` over documents). ``values_oracle()``
turns them into the literal VALUES SQL the DuckDB oracle runs, so these
queries are checked hash-exact like the SQL oracles. Every pinned value is
deterministic: doc_id-seeded pixels, pinned hash families, RNG-free k-means.

Only the driver reads the goldens; ``conf.package_zip()`` ships ``.py``
files alone, so the data file never reaches executors.
"""

from __future__ import annotations

import functools
import gzip
import json
import os

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_goldens.json.gz")


@functools.cache
def load() -> dict:
    """``{"COLS", "ORDER", "ROWS"}``, read once per process and shared by
    every caller, so callers must not mutate it. JSON keeps ints, ``repr``
    floats and strings exact; the discriminator keys come back as strings,
    which format to the same SQL text."""
    with gzip.open(PATH, "rt", encoding="utf-8") as fh:
        return json.load(fh)


def save(cols: dict, order: dict, rows: dict) -> None:
    """Write the goldens reproducibly (no timestamp or name in the gzip
    header), so the same rows give the same bytes."""
    data = json.dumps({"COLS": cols, "ORDER": order, "ROWS": rows}, separators=(",", ":"))
    with open(PATH, "wb") as raw, gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0) as fh:
        fh.write(data.encode("utf-8"))


def _lit(v) -> str:
    """One SQL literal. Floats use repr() — the shortest round-trip form,
    so DuckDB's text->double parse reproduces the exact bits the Spark
    side computed (the driver hash has no tolerance)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def values_oracle(name: str) -> str:
    """Literal VALUES oracle for one pinned query, scale-gated on the
    documents content discriminator so the same SQL is exact at both
    correctness scales."""
    goldens = load()
    cols = goldens["COLS"][name]
    collist = ", ".join(c for c, _ in cols)
    sel = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in cols)
    branches = []
    for disc, recs in goldens["ROWS"][name].items():
        gate = f"(SELECT sum(length(text)) FROM documents) = {disc}"
        if not recs:
            null_sel = ", ".join(
                f"CAST(NULL AS {t}) AS {c}" for c, t in cols
            )
            branches.append(f"SELECT {null_sel} WHERE FALSE AND {gate}")
            continue
        vals = ",\n".join(
            "(" + ", ".join(_lit(v) for v in rec) + ")" for rec in recs
        )
        branches.append(
            f"SELECT {sel} FROM (VALUES\n{vals}\n) AS g({collist})\n"
            f"WHERE {gate}"
        )
    return "\nUNION ALL\n".join(branches) + f"\nORDER BY {goldens['ORDER'][name]}"
