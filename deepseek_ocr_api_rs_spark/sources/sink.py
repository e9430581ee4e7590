"""The publish contract of every task that writes its own files: the WET,
WAT and CDX writers (``sources.warc``), the resumable extraction job
(``operators.checkpoint``), the WARC staging of the ingest queries and the
WebDataset shards (``sources.webdataset``, which claims a shard name with
``os.link`` before it publishes).

A task writes its segment into a tmp file private to its attempt
(``.<segment>.<taskAttemptId>.tmp``: the dot hides it from Spark's and
pyarrow's readers, the attempt id keeps two live attempts out of one file)
and removes it if the attempt raises. Otherwise it ``os.replace``-s it to a
name fixed by the partition, so a retried or speculative attempt replaces
the segment instead of adding a second one, and then removes the tmp files
that killed attempts of the same segment left. Tasks write the paths
directly, so they must be visible to the executors.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Callable, Iterator

import pyarrow as pa

SEGMENT_MANIFEST = "file string, n_records long"


def task_attempt() -> tuple[int, int]:
    """(partition id, attempt id) of the running task; (pid, 0) outside."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return (ctx.partitionId(), ctx.taskAttemptId()) if ctx else (os.getpid(), 0)


@contextlib.contextmanager
def attempt_file(out_dir: str, segment: str) -> Iterator[str]:
    """The tmp path of ``segment`` private to this attempt, removed if the
    block raises (a block that ends without ``publish`` leaves it)."""
    tmp = os.path.join(out_dir, f".{segment}.{task_attempt()[1]}.tmp")
    try:
        yield tmp
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def publish(tmp: str, out_dir: str, segment: str) -> None:
    os.replace(tmp, os.path.join(out_dir, segment))
    for name in os.listdir(out_dir):
        if name.startswith(f".{segment}.") and name.endswith(".tmp"):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(out_dir, name))


def segment_sink(
    out_dir: str,
    name: str,
    encode: Callable[..., bytes],
    open_segment: Callable = lambda path: open(path, "wb"),
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The per-task function a writer hands to ``mapInArrow``: it streams
    ``encode(*row)`` of every input row into ``open_segment(tmp)``,
    publishes the segment ``name.format(partitionId)`` under ``out_dir``
    and yields its ``SEGMENT_MANIFEST`` row; an empty partition, neither."""
    os.makedirs(out_dir, exist_ok=True)

    def sink(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        segment = name.format(task_attempt()[0])
        n_recs = 0
        with attempt_file(out_dir, segment) as tmp:
            with contextlib.ExitStack() as stack:
                out = None
                for batch in batches:
                    for row in zip(*(col.to_pylist() for col in batch.columns)):
                        if out is None:
                            out = stack.enter_context(open_segment(tmp))
                        out.write(encode(*row))
                        n_recs += 1
            if n_recs == 0:
                return
            publish(tmp, out_dir, segment)
        yield pa.RecordBatch.from_pydict({"file": [segment], "n_records": [n_recs]})

    return sink
