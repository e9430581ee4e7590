"""WebDataset-style tar-shard export/ingest (r8).

The de-facto container for large-scale (especially multimodal) training
data is the WebDataset convention (public: webdataset/webdataset —
Aizman et al., "High Performance I/O For Large Scale Deep Learning"):
plain POSIX tar shards whose member names are ``<key>.<ext>``; all
members sharing a key form one sample, and a training loader streams
shards sequentially. This module writes extraction output as such
shards and reads them back — the training-side handoff of this
pipeline, completing WARC/WET/WAT/CDX with the downstream format.

Sink contract (the WET/WAT/CDX discipline, ``sources.sink``):
- one ``shard-<min_key>.tar`` per input partition — task-identity
  naming, so a retried or speculative attempt lands on the same shard
  instead of adding a duplicate; the write goes to the attempt's tmp
  file (``sink.attempt_file``: a dot-name readers never glob, removed if
  the attempt raises), which ``os.link`` then publishes under the shard
  name only if that name is absent;
- byte-DETERMINISTIC shards: members in sorted-key order, USTAR format,
  zeroed mtime/uid/gid/uname/gname and fixed 0644 mode — two runs (or
  two attempts) of the same partition produce identical bytes, so
  shard-level checksums are meaningful;
- samples never straddle shards (all members of a key are written
  together — the WebDataset requirement that makes shards independently
  consumable).

Reader: ``binaryFile`` scan (shards ARE the partitions, the same
file-per-task parallelism as the WARC reader) → stdlib ``tarfile`` walk
→ one row per member ``(shard, key, ext, payload)``. Map-only.
"""

from __future__ import annotations

import io
import os
import tarfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepseek_ocr_api_rs_spark.sources.sink import attempt_file, publish


def _tar_bytes(samples: list[tuple[str, list[tuple[str, bytes]]]]) -> bytes:
    """samples: [(key, [(ext, payload), …])] → deterministic tar bytes."""
    buf = io.BytesIO()
    with tarfile.open(
        fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
    ) as tf:
        for key, members in samples:
            for ext, payload in members:
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(payload)
                info.mtime = 0
                info.uid = 0
                info.gid = 0
                info.uname = ""
                info.gname = ""
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


def write_wds_shards(
    df: DataFrame,
    out_dir: str,
    key_col: str = "key",
    member_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Write one deterministic ``shard-<min_key>.tar`` per partition.

    ``member_cols`` maps extension → column; string columns are UTF-8
    encoded, binary columns pass through. Returns a lazy manifest frame
    (file, n_samples) — collect it as the staging barrier.

    Memory contract: a partition's samples are buffered while its shard
    is assembled (the sort that makes shards byte-deterministic needs
    the full member list), so size upstream partitions to the intended
    shard size — the WebDataset operational model is ~1 GB shards, and
    ``df.repartition(total_bytes // SHARD_BYTES, key)`` is the caller's
    lever, exactly as for the WET/WAT/CDX sinks."""
    member_cols = member_cols or {"txt": "txt"}
    os.makedirs(out_dir, exist_ok=True)
    exts = sorted(member_cols)

    import pandas as pd

    def sink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: list[tuple[str, list[tuple[str, bytes]]]] = []
        for pdf in batches:
            for rec in pdf.itertuples(index=False):
                d = rec._asdict()
                key = str(d[key_col])
                members = []
                for ext in exts:
                    v = d[member_cols[ext]]
                    payload = (
                        v.encode("utf-8") if isinstance(v, str) else bytes(v)
                    )
                    members.append((ext, payload))
                rows.append((key, members))
        if not rows:
            yield pd.DataFrame({"file": [], "n_samples": []})
            return
        rows.sort(key=lambda kv: kv[0])
        # USTAR caps member names at 100 chars — validate up front with
        # the contract in the message instead of an opaque tarfile error
        # mid-archive (ADVICE r8)
        for key, members in rows:
            for ext, _ in members:
                if len(key) + 1 + len(ext) > 100:
                    raise ValueError(
                        f"webdataset member name {key!r}.{ext} exceeds the "
                        "USTAR 100-char limit — shorten the key column"
                    )
        name = f"shard-{rows[0][0]}.tar"
        data = _tar_bytes(rows)
        with attempt_file(out_dir, name) as tmp:
            with open(tmp, "wb") as f:
                f.write(data)
            try:
                os.link(tmp, os.path.join(out_dir, name))
            except FileExistsError:
                # min-key collision guard (ADVICE r8): the
                # repartition-by-key contract means one partition per min
                # key, so a shard of this NAME with other bytes is another
                # partition's and raising beats clobbering it. Identical
                # bytes are a retried attempt or a deterministic re-run.
                with open(os.path.join(out_dir, name), "rb") as fh:
                    if fh.read() != data:
                        raise RuntimeError(
                            f"webdataset shard-name collision on {name}: "
                            "two partitions share the same min key — "
                            "repartition the input by the key column (one "
                            "partition per shard) before write_wds_shards"
                        ) from None
            # the shard holds these bytes now, so publish's rename changes
            # nothing (onto its own hard link it is a no-op); its sweep
            # removes this attempt's tmp file and those killed attempts left
            publish(tmp, out_dir, name)
        yield pd.DataFrame({"file": [name], "n_samples": [len(rows)]})

    return df.mapInPandas(sink, schema="file string, n_samples long")


def read_wds_shards(spark: SparkSession, path: str) -> DataFrame:
    """Directory of ``shard-*.tar`` → one row per member:
    (shard, key, ext, payload binary). Map-only binaryFile fan-out."""
    import pandas as pd

    src = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*.tar")
        .load(path)
        .select("path", "content")
    )

    def fan_out(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, blob in zip(pdf["path"], pdf["content"]):
                shard = os.path.basename(p)
                with tarfile.open(
                    fileobj=io.BytesIO(bytes(blob)), mode="r"
                ) as tf:
                    for info in tf:
                        if not info.isfile():
                            continue
                        stem, _, ext = info.name.rpartition(".")
                        payload = tf.extractfile(info).read()
                        rows.append((shard, stem, ext, payload))
            yield pd.DataFrame(
                rows, columns=["shard", "key", "ext", "payload"]
            )

    return src.mapInPandas(
        fan_out, schema="shard string, key string, ext string, payload binary"
    )
