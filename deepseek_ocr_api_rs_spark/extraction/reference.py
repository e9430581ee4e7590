"""The scalar single-process reference extractor — the golden oracle.

Analogue of the official Python pipeline wrapped by the reference repo's
``scripts/capture_baseline.py`` (976 LoC): processes ONE document at a time
with straight-line Python, persisting every intermediate (blocks, features,
scores, accept mask) so the Spark path can be bisected stage by stage
(tier-2 parity, tests/baseline.rs:249-477 pattern).

Never used inside Spark jobs — ``batch.extract_batch`` is the production
kernel; tests assert byte-identical outputs between the two.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from deepseek_ocr_api_rs_spark.extraction import charset as CS
from deepseek_ocr_api_rs_spark.extraction import features as FT
from deepseek_ocr_api_rs_spark.extraction import markdown as MD
from deepseek_ocr_api_rs_spark.extraction.html_blocks import RawBlock, segment_html
from deepseek_ocr_api_rs_spark.extraction.normalize import normalize_text
from deepseek_ocr_api_rs_spark.extraction.pdf_spans import (
    PDF_MAGIC,
    assemble_pdf_text,
    parse_pdf_payload,
)


@dataclass
class BlockTrace:
    """Golden per-block intermediate (FIXTURES.md §3 golden_blocks row)."""

    block_idx: int
    tag_path: str
    features: list[float]
    score: float
    accepted: bool
    block_text: str


@dataclass
class ExtractionResult:
    """Golden per-document output (FIXTURES.md §2 golden_extractions row)."""

    extracted_text: str
    branch: str                 # 'html' | 'pdf' | 'text' | 'error'
    n_chars: int
    n_blocks_total: int
    n_blocks_accepted: int
    blocks: list[BlockTrace] = field(default_factory=list)
    # provenance spans (T2 images_seq_mask analogue — which output chars
    # came from which block): parallel arrays (block_idx, start, end) into
    # extracted_text, accepted blocks only, document order
    span_block_idx: list[int] = field(default_factory=list)
    span_starts: list[int] = field(default_factory=list)
    span_ends: list[int] = field(default_factory=list)
    truncated: bool = False     # P5 bounded-work cap applied


def doc_features(blocks: list[RawBlock]) -> list[float]:
    """GLOBAL document feature view (E2 second tower) — scalar path.

    Integer sums over the block list in float64 (exact — counts ≪ 2^53, so
    summation order is irrelevant), broadcast onto every block row."""
    total_text = sum(b.n_text_chars for b in blocks)
    total_link = sum(b.n_link_chars for b in blocks)
    return [
        float(total_link) / float(max(total_text, 1)),
        float(np.log1p(np.float64(len(blocks)))),
    ]


def block_features(b: RawBlock) -> list[float]:
    """Float64 per-block ("local view") feature vector, FEATURE_NAMES[0:9]
    order — scalar path.

    Each entry is a ratio of integer counts; division order pinned so the
    vectorized path (same numerators/denominators, elementwise numpy ops)
    is bit-identical.
    """
    text_den = max(b.n_text_chars, 1)
    word_den = max(b.n_words, 1)
    return [
        # np.log1p, not math.log1p: the two differ in the last ulp and the
        # vectorized path uses numpy — pinning one implementation is the
        # P1/P2 exact-rounding discipline (model/mod.rs:1921-1932).
        float(np.log1p(np.float64(b.n_text_chars))),
        float(b.n_link_chars) / float(text_den),
        float(b.n_text_chars) / float(1 + b.n_tags),
        float(b.n_stop_words) / float(word_den),
        float(b.n_punct) / float(text_den),
        float(b.n_text_chars) / float(word_den),
        float(b.depth),
        float(b.boiler),
        FT.tag_weight(b.tag_path),
    ]


def score_block(feats: list[float]) -> float:
    """Left-to-right elementwise accumulate (bit-identical to
    features.score_matrix row semantics)."""
    score = 0.0
    for f, w in zip(feats, FT.WEIGHTS):
        score = score + f * w
    return score


def smooth_accept(raw: list[bool], blocks: list[RawBlock]) -> list[bool]:
    """jusText-style context pass, deterministic single sweep over raw
    accept decisions:

    1. a heading (h1-h6) immediately above an accepted block is promoted;
    2. a short block (< SHORT_BLOCK_WORDS words) with accepted blocks on
       BOTH sides is promoted.

    Both rules read only `raw` (not their own output) — order-independent.
    """
    n = len(raw)
    out = list(raw)
    for i in range(n):
        if out[i]:
            continue
        tag = FT.leaf_tag(blocks[i].tag_path)
        if tag in FT.HEADING_TAGS and i + 1 < n and raw[i + 1]:
            out[i] = True
            continue
        if (
            blocks[i].n_words < FT.SHORT_BLOCK_WORDS
            and not blocks[i].boiler
            and 0 < i < n - 1
            and raw[i - 1]
            and raw[i + 1]
        ):
            out[i] = True
    return out


def extract_html(html: str) -> ExtractionResult:
    blocks = segment_html(html)
    dfeats = doc_features(blocks)
    traces: list[BlockTrace] = []
    raw_accept: list[bool] = []
    for b in blocks:
        # two-view concat (E3, model/mod.rs:510-556): local block features
        # then the document-global group, in FEATURE_NAMES order
        feats = block_features(b) + dfeats
        score = score_block(feats)
        raw_accept.append(score > FT.ACCEPT_THRESHOLD)
        traces.append(
            BlockTrace(
                block_idx=b.idx,
                tag_path=b.tag_path,
                features=feats,
                score=score,
                accepted=False,  # filled after smoothing
                block_text=b.text,
            )
        )
    accept = smooth_accept(raw_accept, blocks)
    for t, a in zip(traces, accept):
        t.accepted = a
    sep = FT.BLOCK_SEPARATOR
    parts: list[str] = []
    sb, ss, se = [], [], []
    off = 0
    for t in traces:
        if not t.accepted:
            continue
        if parts:
            off += len(sep)
        parts.append(t.block_text)
        sb.append(t.block_idx)
        ss.append(off)
        se.append(off + len(t.block_text))
        off += len(t.block_text)
    text = normalize_text(sep.join(parts))
    return ExtractionResult(
        extracted_text=text,
        branch="html",
        n_chars=len(text),
        n_blocks_total=len(traces),
        n_blocks_accepted=sum(accept),
        blocks=traces,
        span_block_idx=sb,
        span_starts=ss,
        span_ends=se,
    )


def extract_pdf(data: bytes) -> ExtractionResult:
    parsed = parse_pdf_payload(data)
    if parsed is None:
        return ExtractionResult("", "error", 0, 0, 0)
    width, spans = parsed
    text = normalize_text(assemble_pdf_text(spans, width))
    return ExtractionResult(
        extracted_text=text,
        branch="pdf",
        n_chars=len(text),
        n_blocks_total=len(spans),
        # undecodable spans count toward the total but are not accepted,
        # as in extraction.batch
        n_blocks_accepted=sum(1 for s in spans if not s.get("undecodable")),
    )


def extract_text_passthrough(decoded: str) -> ExtractionResult:
    """The third branch (crates/infer-dots analogue): plain-text/Markdown
    passthrough — paragraph blocks, ALL accepted, no scorer."""
    blocks = MD.markdown_blocks(decoded)
    sep = FT.BLOCK_SEPARATOR
    parts: list[str] = []
    sb, ss, se = [], [], []
    off = 0
    for idx, t in enumerate(blocks):
        if parts:
            off += len(sep)
        parts.append(t)
        sb.append(idx)
        ss.append(off)
        se.append(off + len(t))
        off += len(t)
    text = normalize_text(sep.join(parts))
    return ExtractionResult(
        extracted_text=text,
        branch="text",
        n_chars=len(text),
        n_blocks_total=len(blocks),
        n_blocks_accepted=len(blocks),
        span_block_idx=sb,
        span_starts=ss,
        span_ends=se,
    )


def extract_document(payload: bytes) -> ExtractionResult:
    """Route one document: PDF magic → pdf branch; decodable text
    (strict UTF-8, or a DECLARED legacy charset via the WHATWG
    BOM/meta-prescan sniff — extraction/charset.py, r7) with markup →
    html branch; without markup → text branch (plain-text/Markdown
    passthrough, the crates/infer-dots backend analogue); anything
    else → error branch (MoE-dispatch analogue D8,
    crates/infer-deepseek/src/transformer/block.rs:610-740)."""
    if payload is None:
        return ExtractionResult("", "error", 0, 0, 0)
    if payload.startswith(PDF_MAGIC):
        return extract_pdf(payload)
    routed = CS.route_decode(bytes(payload), FT.truncate_payload)
    if routed is None:
        return ExtractionResult("", "error", 0, 0, 0)
    decoded, truncated = routed
    if MD.looks_like_markup(decoded):
        res = extract_html(decoded)
    else:
        res = extract_text_passthrough(decoded)
    res.truncated = truncated
    return res
