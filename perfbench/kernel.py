"""Extraction-kernel ledger, in process on one core: the whole
``extract_batch`` call, then the stages it is made of, each timed by
calling that stage's public function on the same documents."""

from __future__ import annotations

import time
from collections.abc import Sequence


def _timed(fn, items) -> tuple[float, list]:
    t0 = time.perf_counter()
    out = [fn(x) for x in items]
    return time.perf_counter() - t0, out


def kernel_layers(payloads: Sequence[bytes | None]) -> dict[str, float]:
    from deepseek_ocr_api_rs_spark.extraction import charset as CS
    from deepseek_ocr_api_rs_spark.extraction import features as FT
    from deepseek_ocr_api_rs_spark.extraction import markdown as MD
    from deepseek_ocr_api_rs_spark.extraction.batch import extract_batch, pool_html_blocks
    from deepseek_ocr_api_rs_spark.extraction.html_blocks import segment_html
    from deepseek_ocr_api_rs_spark.extraction.normalize import normalize_text
    from deepseek_ocr_api_rs_spark.extraction.pdf_spans import (
        PDF_MAGIC,
        assemble_pdf_text,
        parse_pdf_payload,
    )

    extract_batch(payloads[:64])  # lazy tables and imports, untimed
    t0 = time.perf_counter()
    out = extract_batch(payloads)
    total = time.perf_counter() - t0

    data = [bytes(p) for p in payloads if p is not None]
    pdfs = [d for d in data if d.startswith(PDF_MAGIC)]
    others = [d for d in data if not d.startswith(PDF_MAGIC)]
    t_route, routed = _timed(lambda d: CS.route_decode(d, FT.truncate_payload), others)
    decoded = [r[0] for r in routed if r is not None]
    html = [d for d in decoded if MD.looks_like_markup(d)]
    plain = [d for d in decoded if not MD.looks_like_markup(d)]

    t_seg, _ = _timed(segment_html, html)
    t0 = time.perf_counter()
    pool = pool_html_blocks(list(enumerate(html)))
    t_pool = time.perf_counter() - t0 - t_seg

    def pdf_text(d: bytes) -> str:
        parsed = parse_pdf_payload(d)
        return "" if parsed is None else assemble_pdf_text(parsed[1], parsed[0])

    t_pdf, pdf_texts = _timed(pdf_text, pdfs)
    t_md, md_blocks = _timed(MD.markdown_blocks, plain)

    # the strings normalize_text sees: accepted blocks per html doc,
    # assembled pdf text, and the joined markdown blocks
    joined: dict[int, list[str]] = {}
    for j in range(len(pool.texts)):
        if pool.accepted[j]:
            joined.setdefault(int(pool.doc_idx[j]), []).append(pool.texts[j])
    pre_norm = [FT.BLOCK_SEPARATOR.join(v) for v in joined.values()]
    pre_norm += pdf_texts + [FT.BLOCK_SEPARATOR.join(b) for b in md_blocks]
    t_norm, _ = _timed(normalize_text, pre_norm)

    stages = t_route + t_seg + t_pool + t_pdf + t_md + t_norm
    branches = out["branch"].value_counts()
    n_total = int(out["n_blocks_total"].sum())
    return {
        "extraction.batch.kernel_docs_per_s": len(payloads) / total,
        "extraction.batch.kernel_s": total,
        "extraction.charset.route_decode_s": t_route,
        "extraction.html_blocks.segment_html_s": t_seg,
        "extraction.batch.features_score_smooth_s": t_pool,
        "extraction.normalize.normalize_text_s": t_norm,
        "extraction.pdf_spans.pdf_s": t_pdf,
        "extraction.markdown.markdown_blocks_s": t_md,
        "extraction.batch.assembly_s": total - stages,
        "extraction.batch.docs_html": float(branches.get("html", 0)),
        "extraction.batch.docs_pdf": float(branches.get("pdf", 0)),
        "extraction.batch.docs_text": float(branches.get("text", 0)),
        "extraction.batch.docs_error": float(branches.get("error", 0)),
        "extraction.batch.blocks": float(n_total),
        "extraction.batch.block_accept_rate": int(out["n_blocks_accepted"].sum()) / max(n_total, 1),
    }
