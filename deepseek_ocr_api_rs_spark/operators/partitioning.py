"""Explicit url-hash partitioning with hot-host salting (north_rule).

The skew problem at 10^12 documents: a few mega-hosts hold a large share of
all pages. A plain ``repartition(hash(host))`` puts each host in one task —
the straggler kills scaling efficiency. Remedy mirrors the reference's
"bound the unit of work" tiling idea (dynamic_preprocess caps tile count,
crates/infer-deepseek/src/vision/preprocess.rs:13-76): salt the hot keys so
one host spreads over ``salt_buckets`` tasks.

All hashing is JVM-side ``xxhash64`` — no Python in the partitioning path.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Derive the host from the url (pure built-ins)."""
    return df.withColumn(
        "host", F.parse_url(F.col(url_col), F.lit("HOST"))
    )


def salted_key(url_col: str = "url", salt_buckets: int = DEFAULT_SALT_BUCKETS):
    """Partition key expression: host salted by a per-url hash bucket.

    host ⊕ pmod(xxhash64(url), salt_buckets) — same host fans out over
    `salt_buckets` partitions; distinct urls of a host are still evenly
    spread (xxhash64 of the full url, not the host).
    """
    return F.concat_ws(
        "#",
        F.parse_url(F.col(url_col), F.lit("HOST")),
        F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets)).cast("string"),
    )


def repartition_by_url(
    df: DataFrame,
    n_partitions: int,
    url_col: str = "url",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> DataFrame:
    """The explicit pre-extraction exchange: one planned hash shuffle on the
    salted key; everything after it is map-only."""
    return df.repartition(n_partitions, salted_key(url_col, salt_buckets))


@contextmanager
def scoped_shuffle_partitions(spark, n: int | None):
    """Scoped spark.sql.shuffle.partitions override — the lever for
    ITERATIVE operators whose per-round tables are much smaller than
    the corpus (HITS/PageRank node tables, the BPE distinct-word
    table): their shuffles should be sized to that table, not to the
    session's corpus-sized default, and eagerly-materialized frames
    bypass AQE's runtime coalescing, so the conf is the effective
    control. Streaming jobs scope their state-store partition count
    with it too. No-op when n is None; always restores the prior value."""
    if n is None:
        yield
        return
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
