"""Deterministic document→text extraction kernels.

Two parity-checked implementations of the same math (the reference repo's
Rust-vs-Python golden-parity pattern, crates/infer-deepseek/tests/baseline.rs:479-708):

- ``reference.extract_document`` — scalar, single-process, the golden oracle.
- ``batch.extract_columns``      — numpy-vectorized across an Arrow batch,
  what the Spark ``mapInArrow`` stage and the server run; it returns
  plain columns, and ``batch.extract_batch`` is the same result as a
  pandas DataFrame.

Both share the low-level tokenizers (``html_blocks``, ``pdf_spans``): the
batch kernel reads the HTML segmenter's batch-wide block columns, the
reference its per-document ``RawBlock`` list. They implement feature
scoring, accept smoothing and assembly independently; the tests assert
byte-identical output text and exact-equal intermediate
features/scores/masks (tier-2 bisection, SURVEY.md §5).
"""

from deepseek_ocr_api_rs_spark.extraction.normalize import normalize_text
from deepseek_ocr_api_rs_spark.extraction.reference import extract_document
from deepseek_ocr_api_rs_spark.extraction.batch import extract_batch

__all__ = ["normalize_text", "extract_document", "extract_batch"]
