"""deepseek_ocr_api_rs_spark — a PySpark-native main-content extraction engine.

From-scratch rebuild of the *capability* of waveman800/Deepseek-OCR-API.rs
(/root/reference, a Rust document→text inference engine) as an idiomatic
Spark pipeline over Common-Crawl-style page tables:

- ``extraction``  — deterministic per-document kernels (HTML boilerplate
  strip, PDF reading-order reconstruction, text normalization). Two code
  paths: a scalar single-process *reference* extractor (the golden oracle,
  analogue of the reference repo's ``scripts/capture_baseline.py`` pipeline)
  and a numpy-vectorized batch kernel used by the Spark path. Parity between
  them is byte-exact and pytest-enforced (analogue of
  ``crates/infer-deepseek/tests/baseline.rs``).
- ``operators``   — Spark DataFrame operators: the Arrow-UDF extraction
  stage, url-hash partitioning + hot-host salting, per-partition checkpoint
  manifests + resume, top-k / cumulative-share windows, dedup family
  (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding near-dup).
- ``functions``   — column-level text analysis (lang-id, quality score,
  token counts, fingerprints) and similarity search, all built on
  ``pyspark.sql.functions`` (JVM-side) wherever expressible.
- ``fixtures``    — deterministic synthetic corpus generator + golden
  capture (analogue of ``baselines/`` in the reference).
- ``sources``     — the pages-table reader, WARC/WET/WAT/CDX and
  WebDataset codecs, the task-side publish contract (``sink``) that the
  job's bucket files and ``_checkpoints`` manifest rows go through, and an
  Iceberg-style snapshot log on plain parquet (``snapshots``).
- ``streaming``   — Structured Streaming jobs: watermarked windowed
  aggregation, sessions, stream-stream joins, cross-batch dedup, and the
  extraction stage on a stream.
"""

import sys

__version__ = "0.1.0"

SCHEMA_VERSION = 2

# Only PySpark Python workers have ``pyspark.worker`` loaded (the daemon
# imports it before it forks them); the driver and the server do not.
if "pyspark.worker" in sys.modules:
    from deepseek_ocr_api_rs_spark.zipstamp import install

    install()
