"""WebDataset tar-shard sink/reader + mixture sampling tests (r8)."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_wds_shard_bytes_deterministic():
    """Two writes of the same samples produce IDENTICAL tar bytes
    (sorted keys, zeroed tar metadata) — shard checksums are meaningful
    and a task retry rewrites the same content."""
    from deepseek_ocr_api_rs_spark.sources.webdataset import _tar_bytes

    samples = [
        ("0000000002", [("json", b'{"a":1}'), ("txt", b"second doc")]),
        ("0000000001", [("json", b'{"a":0}'), ("txt", b"first doc")]),
    ]
    a = _tar_bytes(samples)
    b = _tar_bytes(list(samples))
    assert a == b
    # member framing is real tar
    import io
    import tarfile

    with tarfile.open(fileobj=io.BytesIO(a)) as tf:
        names = tf.getnames()
        assert names == [
            "0000000002.json", "0000000002.txt",
            "0000000001.json", "0000000001.txt",
        ]
        assert tf.extractfile("0000000001.txt").read() == b"first doc"


def test_wds_write_read_roundtrip(spark, tmp_path):
    """Distributed write (one shard per partition, atomic names) →
    binaryFile read-back recovers every member byte-exactly, and
    samples never straddle shards (all members of a key share one
    shard)."""
    from deepseek_ocr_api_rs_spark.sources.webdataset import (
        read_wds_shards,
        write_wds_shards,
    )

    rows = [(f"{i:010d}", f"text of {i}", f'{{"i": {i}}}') for i in range(40)]
    df = spark.createDataFrame(
        rows, "key string, txt string, meta string"
    ).repartition(4, "key")
    out = str(tmp_path / "wds")
    manifest = write_wds_shards(
        df, out, member_cols={"txt": "txt", "json": "meta"}
    ).collect()
    assert sum(m.n_samples for m in manifest) == 40
    back = read_wds_shards(spark, out).collect()
    assert len(back) == 80  # 2 members per sample
    by_key: dict[str, dict[str, bytes]] = {}
    shard_of: dict[str, set[str]] = {}
    for r in back:
        by_key.setdefault(r.key, {})[r.ext] = bytes(r.payload)
        shard_of.setdefault(r.key, set()).add(r.shard)
    for i in range(40):
        k = f"{i:010d}"
        assert by_key[k]["txt"] == f"text of {i}".encode()
        assert by_key[k]["json"] == f'{{"i": {i}}}'.encode()
        assert len(shard_of[k]) == 1  # sample confined to one shard


def test_mixture_sample_matches_oracle_and_budget(spark):
    """Copy counts equal the DuckDB replay of the integer-rate
    arithmetic, and the realized token total lands within Bernoulli
    noise of the budget."""
    from deepseek_ocr_api_rs_spark.operators.mixing import (
        mixture_sample,
        mixture_sample_sql,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    B = 25000
    got = mixture_sample(docs, B).toPandas()
    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{SF}/documents.parquet'")
    exp = con.sql(mixture_sample_sql(B)).df()
    g = got.sort_values("doc_id").reset_index(drop=True)
    x = exp.sort_values("doc_id").reset_index(drop=True).astype(
        g.dtypes.to_dict()
    )
    assert g.equals(x)
    realized = int((g.n_tokens * g.n_copies).sum())
    assert abs(realized - B) < 0.15 * B, realized
    # all three dispositions occur at this budget: drop / keep / upsample
    assert set(g.n_copies.unique()) >= {0, 1, 2}


def test_mixture_sample_respects_explicit_weights(spark):
    """A source weighted to ~everything swallows the budget; a
    zero-weighted source is dropped entirely."""
    from deepseek_ocr_api_rs_spark.operators.mixing import mixture_sample

    rows = [(i, "big" if i % 2 else "small", "tok " * 50) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = mixture_sample(
        df, 5000, weights={"big": (1, 1), "small": (0, 1)}
    ).toPandas()
    assert (out[out.source == "small"].n_copies == 0).all()
    assert (out[out.source == "big"].n_copies >= 1).all()


def test_new_operator_plan_shapes(spark):
    """Scale-contract plan assertions for the r8 operators: the mixture
    rate join is a broadcast hash join and nothing in mixture or the
    corpus-build composition degenerates to a cartesian/nested-loop
    product; the WDS reader plan is a map-only fan-out (no Exchange)."""
    from deepseek_ocr_api_rs_spark.operators.mixing import mixture_sample
    from deepseek_ocr_api_rs_spark.plans.explain import physical_plan
    import __spark_entry__ as entrymod

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mix = mixture_sample(docs, 25000)
    p = physical_plan(mix)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    build = entrymod.q_corpus_build(spark, SF)
    p2 = physical_plan(build)
    assert "CartesianProduct" not in p2

    import tempfile

    from deepseek_ocr_api_rs_spark.sources.webdataset import (
        read_wds_shards,
        write_wds_shards,
    )

    d = tempfile.mkdtemp()
    df = spark.createDataFrame(
        [("0000000001", "x", "{}")], "key string, txt string, meta string"
    )
    write_wds_shards(df, d, member_cols={"txt": "txt", "json": "meta"}).collect()
    rd = read_wds_shards(spark, d)
    p3 = physical_plan(rd)
    assert "Exchange" not in p3  # shards ARE the partitions; map-only read


def test_wds_shard_name_collision_and_key_length_guards(spark, tmp_path):
    """ADVICE r8: (a) two partitions sharing a min key must FAIL loudly
    instead of silently clobbering one shard; (b) identical bytes (a
    retried attempt / deterministic re-run) stay idempotent; (c) keys
    longer than USTAR's member-name budget raise with the contract in
    the message, not an opaque tarfile error."""
    from deepseek_ocr_api_rs_spark.sources.webdataset import (
        write_wds_shards,
    )

    d = str(tmp_path / "wds")
    one = spark.createDataFrame([("k1", "a")], "key string, txt string")
    write_wds_shards(one, d).collect()
    # (b) identical re-run: same bytes, no error, still one shard
    write_wds_shards(one, d).collect()
    # (a) same min key, different content -> collision error
    other = spark.createDataFrame([("k1", "DIFFERENT")], "key string, txt string")
    import pytest as _pytest

    with _pytest.raises(Exception, match="collision"):
        write_wds_shards(other, d).collect()
    # (c) key too long for USTAR member names
    long = spark.createDataFrame(
        [("k" * 120, "a")], "key string, txt string"
    )
    with _pytest.raises(Exception, match="USTAR"):
        write_wds_shards(long, str(tmp_path / "wds2")).collect()


def test_wds_shard_sink_leaves_no_tmp_file(spark, tmp_path):
    """The shard sink publishes through the shared sink contract: a tmp
    file a killed attempt left is removed when the shard is published,
    and a collision removes the raising attempt's own tmp file."""
    import os

    from deepseek_ocr_api_rs_spark.sources.webdataset import (
        write_wds_shards,
    )

    d = tmp_path / "wds"
    d.mkdir()
    (d / ".shard-k1.tar.987654.tmp").write_bytes(b"partial")
    one = spark.createDataFrame([("k1", "a")], "key string, txt string")
    write_wds_shards(one, str(d)).collect()
    assert sorted(os.listdir(d)) == ["shard-k1.tar"]
    other = spark.createDataFrame([("k1", "b")], "key string, txt string")
    with pytest.raises(Exception, match="collision"):
        write_wds_shards(other, str(d)).collect()
    assert sorted(os.listdir(d)) == ["shard-k1.tar"]
