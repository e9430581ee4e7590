"""Vectorized batch extraction kernel — what the Spark Arrow-UDF stage runs.

The reference engine is row-oriented (one document at a time, batch dim
asserted == 1 at crates/infer-deepseek/src/model/mod.rs:1541-1544) but
vectorized *within* a document. This kernel inverts that (SURVEY.md §1.2):
columnar ACROSS documents — all blocks of an Arrow batch are pooled into
flat numpy arrays, features and scores are computed columnwise over the
whole pool, the accept-smoothing pass is shifted-boolean-array logic, and
only parsing + final string assembly stay scalar (like lxml would be).

The result is plain columns (``extract_columns``): the Spark ``mapInArrow``
stage and the server read them directly, so neither imports pandas;
``extract_batch`` wraps them in a pandas DataFrame.

Bit-identical to ``reference.extract_document`` per document — enforced by
tests (the Rust-vs-Python golden parity pattern, tests/baseline.rs:479-708).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from itertools import repeat
from typing import TYPE_CHECKING, NamedTuple

import numpy as np

from deepseek_ocr_api_rs_spark.extraction import charset as CS
from deepseek_ocr_api_rs_spark.extraction import features as FT
from deepseek_ocr_api_rs_spark.extraction import markdown as MD
from deepseek_ocr_api_rs_spark.extraction.html_blocks import segment_columns, text_counts
from deepseek_ocr_api_rs_spark.extraction.normalize import normalize_text
from deepseek_ocr_api_rs_spark.extraction.pdf_spans import (
    PDF_MAGIC,
    assemble_pdf_text,
    parse_pdf_payload,
)

if TYPE_CHECKING:
    import pandas as pd


@dataclass
class BlockPool:
    """All HTML blocks of a batch, flattened (struct-of-arrays)."""

    doc_idx: np.ndarray      # int64, which batch row each block belongs to
    features: np.ndarray     # float64 (n_blocks, N_FEATURES)
    scores: np.ndarray       # float64 (n_blocks,)
    accepted: np.ndarray     # bool (post-smoothing)
    texts: list[str]


def _smooth_accept_pooled(
    raw: np.ndarray,
    doc_of: np.ndarray,
    n_words: np.ndarray,
    boiler: np.ndarray,
    is_heading: np.ndarray,
) -> np.ndarray:
    """Vectorized jusText context pass over the pooled arrays.

    Neighbour = adjacent pooled row *within the same document* (blocks are
    pooled in (doc, block) order, so same-doc adjacency is array adjacency
    with a doc-boundary mask). Reads only `raw` — exactly the semantics of
    the scalar ``reference.smooth_accept``.
    """
    n = raw.shape[0]
    if n == 0:
        return raw.copy()
    same_prev = np.zeros(n, dtype=bool)
    same_next = np.zeros(n, dtype=bool)
    same_prev[1:] = doc_of[1:] == doc_of[:-1]
    same_next[:-1] = doc_of[1:] == doc_of[:-1]
    prev_raw = np.zeros(n, dtype=bool)
    next_raw = np.zeros(n, dtype=bool)
    prev_raw[1:] = raw[:-1]
    next_raw[:-1] = raw[1:]
    prev_ok = same_prev & prev_raw
    next_ok = same_next & next_raw
    promote_heading = is_heading & next_ok
    promote_short = (
        (n_words < FT.SHORT_BLOCK_WORDS) & (boiler == 0) & prev_ok & next_ok
    )
    return raw | promote_heading | promote_short


def pool_html_blocks(html_docs: list[tuple[int, str]]) -> BlockPool:
    """Segment + pool all blocks for the html-branch docs of a batch, then
    compute features columnwise over the pool.

    Same numerators/denominators/division order as the scalar
    ``reference.block_features`` — elementwise IEEE ops on exact
    integer-valued float64s ⇒ bit-identical.
    """
    cols = segment_columns(html for _, html in html_docs)
    texts = cols.texts
    n = len(texts)
    doc_of = np.repeat(
        np.fromiter((doc_i for doc_i, _ in html_docs), np.int64, len(html_docs)),
        cols.counts,
    )
    n_words, n_stop, n_punct = (np.asarray(c, np.float64) for c in text_counts(texts))
    n_text = np.fromiter(map(len, texts), np.float64, n)
    n_link = np.minimum(np.asarray(cols.link_chars, np.float64), n_text)
    n_tags = np.asarray(cols.n_tags, np.float64)
    depth = np.fromiter(map(len, cols.paths), np.float64, n)
    boiler = (np.asarray(cols.boiler, np.int64) > 0).astype(np.float64)
    # stack entries never contain '/', so the last one is FT.leaf_tag's leaf
    leaves = [path[-1] if path else "" for path in cols.paths]

    feats = np.empty((n, FT.N_FEATURES), dtype=np.float64)
    text_den = np.maximum(n_text, 1.0)
    word_den = np.maximum(n_words, 1.0)
    feats[:, 0] = np.log1p(n_text)
    feats[:, 1] = n_link / text_den
    feats[:, 2] = n_text / (1.0 + n_tags)
    feats[:, 3] = n_stop / word_den
    feats[:, 4] = n_punct / text_den
    feats[:, 5] = n_text / word_den
    feats[:, 6] = depth
    feats[:, 7] = boiler
    feats[:, 8] = np.fromiter(
        map(FT.TAG_WEIGHTS.get, leaves, repeat(FT.DEFAULT_TAG_WEIGHT)), np.float64, n
    )
    # second feature view (E2): per-DOC global stats broadcast to each block
    # row — bincount sums of integer-valued float64s are exact regardless of
    # order, so this matches reference.doc_features bitwise
    if n:
        _, inv = np.unique(doc_of, return_inverse=True)
        tot_text = np.bincount(inv, weights=n_text)
        tot_link = np.bincount(inv, weights=n_link)
        blocks_per_doc = np.bincount(inv).astype(np.float64)
        feats[:, 9] = tot_link[inv] / np.maximum(tot_text[inv], 1.0)
        feats[:, 10] = np.log1p(blocks_per_doc)[inv]

    scores = FT.score_matrix(feats)
    heading = np.fromiter(map(FT.HEADING_TAGS.__contains__, leaves), bool, n)
    accepted = _smooth_accept_pooled(
        scores > FT.ACCEPT_THRESHOLD, doc_of, n_words, boiler, heading
    )
    return BlockPool(
        doc_idx=doc_of, features=feats, scores=scores, accepted=accepted, texts=texts
    )


def _join_blocks(blocks: list[str]) -> tuple[str, list[int], list[int]]:
    """Join blocks with ``FT.BLOCK_SEPARATOR``; return the joined text and
    each block's [start, end) offsets in it (before normalization)."""
    sep_len = len(FT.BLOCK_SEPARATOR)
    starts: list[int] = []
    ends: list[int] = []
    off = 0
    for t in blocks:
        starts.append(off)
        off += len(t)
        ends.append(off)
        off += sep_len
    return FT.BLOCK_SEPARATOR.join(blocks), starts, ends


class ExtractColumns(NamedTuple):
    """The kernel's doc-level output, one entry per payload: plain Python
    lists for the strings and span lists, numpy arrays for the counts and
    the truncation flag. Field order is the output columns' order in
    ``operators.extract.EXTRACT_OUTPUT_SCHEMA``."""

    branch: list[str]
    extracted_text: list[str]
    n_chars: np.ndarray  # int64
    n_blocks_total: np.ndarray  # int64
    n_blocks_accepted: np.ndarray  # int64
    span_starts: list[list[int]]
    span_ends: list[list[int]]
    truncated: np.ndarray  # bool


def extract_columns(payloads: Sequence[bytes | None]) -> ExtractColumns:
    """Extract a batch of raw documents → doc-level columns.

    Routing (MoE-dispatch pattern D8: group rows by branch, process each
    branch, scatter results back by original index —
    crates/infer-deepseek/src/transformer/block.rs:682-727):
    PDF magic → pdf; decodable text (strict UTF-8, or a DECLARED legacy
    charset via the shared WHATWG BOM/meta-prescan sniff —
    extraction/charset.py, r7) with markup → html; without markup →
    text (plain-text/Markdown passthrough, the crates/infer-dots
    backend analogue — every paragraph block accepted, no scorer);
    else → error.
    """
    n = len(payloads)
    texts = [""] * n
    branch = ["error"] * n
    n_total = np.zeros(n, dtype=np.int64)
    n_acc = np.zeros(n, dtype=np.int64)
    truncated = np.zeros(n, dtype=bool)
    span_starts: list[list[int]] = [[] for _ in range(n)]
    span_ends: list[list[int]] = [[] for _ in range(n)]

    html_docs: list[tuple[int, str]] = []
    for i, payload in enumerate(payloads):
        if payload is None:
            continue
        data = bytes(payload)
        if data.startswith(PDF_MAGIC):
            parsed = parse_pdf_payload(data)
            if parsed is None:
                continue
            width, spans = parsed
            texts[i] = normalize_text(assemble_pdf_text(spans, width))
            branch[i] = "pdf"
            n_total[i] = len(spans)
            # spans flagged undecodable (Type0 font with a predefined
            # non-Unicode CMap and no /ToUnicode) count toward the total
            # but not accepted — pdf block_accept_rate < 1 is the per-doc
            # undecodable_font metric
            n_acc[i] = sum(1 for s in spans if not s.get("undecodable"))
        else:
            routed = CS.route_decode(data, FT.truncate_payload)
            if routed is None:
                continue
            decoded, trunc = routed
            truncated[i] = trunc
            if MD.looks_like_markup(decoded):
                html_docs.append((i, decoded))
                continue
            # third branch (dots analogue): plain-text/Markdown
            # passthrough — paragraph blocks, ALL accepted, no scorer
            blocks = MD.markdown_blocks(decoded)
            joined, span_starts[i], span_ends[i] = _join_blocks(blocks)
            texts[i] = normalize_text(joined)
            branch[i] = "text"
            n_total[i] = len(blocks)
            n_acc[i] = len(blocks)

    if html_docs:
        pool = pool_html_blocks(html_docs)
        # scatter-merge back by original index: per-doc assembly in block
        # order (pool rows are already (doc, block)-ordered)
        bounds = np.flatnonzero(np.diff(pool.doc_idx, prepend=-1)) if len(pool.doc_idx) else np.array([], dtype=np.int64)
        starts = list(bounds) + [len(pool.doc_idx)]
        for s_i in range(len(starts) - 1):
            lo, hi = starts[s_i], starts[s_i + 1]
            doc_i = int(pool.doc_idx[lo])
            acc = pool.accepted[lo:hi]
            kept = [t for t, a in zip(pool.texts[lo:hi], acc) if a]
            joined, span_starts[doc_i], span_ends[doc_i] = _join_blocks(kept)
            texts[doc_i] = normalize_text(joined)
            branch[doc_i] = "html"
            n_total[doc_i] = hi - lo
            n_acc[doc_i] = int(acc.sum())
        # html docs with zero blocks still belong to the html branch
        pooled_docs = set(int(d) for d in np.unique(pool.doc_idx))
        for doc_i, _ in html_docs:
            if doc_i not in pooled_docs:
                branch[doc_i] = "html"

    return ExtractColumns(
        branch=branch,
        extracted_text=texts,
        n_chars=np.fromiter(map(len, texts), np.int64, n),
        n_blocks_total=n_total,
        n_blocks_accepted=n_acc,
        span_starts=span_starts,
        span_ends=span_ends,
        truncated=truncated,
    )


_FRAME_ORDER = (
    "extracted_text", "branch", "n_chars", "n_blocks_total",
    "n_blocks_accepted", "span_starts", "span_ends", "truncated",
)


def extract_batch(payloads: Sequence[bytes | None]) -> pd.DataFrame:
    """``extract_columns`` as a pandas DataFrame (for tests and notebooks;
    the Spark stage and the server read the columns directly)."""
    import pandas as pd

    cols = extract_columns(payloads)
    return pd.DataFrame({name: getattr(cols, name) for name in _FRAME_ORDER})
