"""Tier-1/2 parity: vectorized batch kernel vs scalar reference extractor.

The engine's core correctness contract (analogue of
baseline_generation_matches_reference, tests/baseline.rs:479-708): the
production numpy path must be BYTE-IDENTICAL to the golden scalar path —
final text (tier 1) AND per-block features/scores/accept masks (tier 2,
bisection — tests/baseline.rs:249-477) with EXACT float equality, no
tolerance bands (we control both sides, unlike the reference's
Rust-vs-PyTorch comparison)."""

from __future__ import annotations

import numpy as np

from deepseek_ocr_api_rs_spark.extraction import charset as CS
from deepseek_ocr_api_rs_spark.extraction.batch import (
    extract_batch,
    extract_columns,
    pool_html_blocks,
)
from deepseek_ocr_api_rs_spark.extraction.reference import extract_document


def _type0_undecodable_pdf() -> bytes:
    """One page whose only span uses a Type0 font with the predefined
    non-Unicode /Katakana CMap and no /ToUnicode: the span is undecodable,
    so it counts toward n_blocks_total but not n_blocks_accepted."""
    content = b"BT\n/F1 12 Tf\n72 720 Td\n<82A082A2> Tj\nET\n"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type0 /BaseFont /MS-Mincho "
        b"/Encoding /Katakana >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (num, body)
    xref = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    out += b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref
    return bytes(out)


def test_doc_level_byte_parity(corpus_pdf):
    payloads = list(corpus_pdf.html) + [_type0_undecodable_pdf()]
    bat = extract_batch(payloads)
    for i, payload in enumerate(payloads):
        ref = extract_document(payload)
        assert bat.branch[i] == ref.branch, i
        assert bat.extracted_text[i] == ref.extracted_text, i
        assert bat.n_chars[i] == ref.n_chars, i
        assert bat.n_blocks_total[i] == ref.n_blocks_total, i
        assert bat.n_blocks_accepted[i] == ref.n_blocks_accepted, i
        assert list(bat.span_starts[i]) == ref.span_starts, i
        assert list(bat.span_ends[i]) == ref.span_ends, i
        assert bool(bat.truncated[i]) == ref.truncated, i


def test_block_level_exact_float_parity(corpus_pdf):
    html_docs = []
    refs = {}
    for i, payload in enumerate(corpus_pdf.html[:120]):
        ref = extract_document(payload)
        if ref.branch == "html":
            # v12: html-branch payloads may be in a declared legacy
            # charset — decode through the same sniff the router uses
            decoded, _codec = CS.sniff_decode(bytes(payload))
            html_docs.append((i, decoded))
            refs[i] = ref
    pool = pool_html_blocks(html_docs)
    for doc_i, ref in refs.items():
        sel = pool.doc_idx == doc_i
        feats = pool.features[sel]
        scores = pool.scores[sel]
        accepted = pool.accepted[sel]
        assert feats.shape[0] == len(ref.blocks)
        for r, trace in enumerate(ref.blocks):
            # EXACT equality — bit-identical arithmetic, the P1/P2 rounding
            # discipline. Any np.isclose here would hide reassociation bugs.
            assert feats[r].tolist() == trace.features, (doc_i, r)
            assert scores[r] == trace.score, (doc_i, r)
            assert bool(accepted[r]) == trace.accepted, (doc_i, r)


def test_empty_and_edge_batches():
    out = extract_batch([])
    assert len(out) == 0
    out = extract_batch([None, b"", b"<p>hi</p>", b"# just markdown"])
    # r7 router: tagless strict-UTF-8 (even empty) → the text
    # passthrough branch; markup → html
    assert list(out.branch) == ["error", "text", "html", "text"]
    assert out.extracted_text[3] == "just markdown"


def test_batch_split_invariance(corpus_pdf):
    """Batch boundaries must not affect results (Arrow batch purity —
    the prompt-scoped state-reset guarantee, crates/core/src/cache.rs:366-401)."""
    payloads = list(corpus_pdf.html[:60])
    whole = extract_batch(payloads)
    parts = [extract_batch(payloads[i : i + 7]) for i in range(0, 60, 7)]
    stitched = np.concatenate([p.extracted_text.values for p in parts])
    assert list(whole.extracted_text.values) == list(stitched)


def test_columns_equal_the_dataframe_view():
    """``extract_columns`` is the kernel; ``extract_batch`` only wraps it.
    Column for column (values and dtypes) on 400 seed-999 pages."""
    from deepseek_ocr_api_rs_spark.fixtures.corpus import make_documents

    payloads = list(make_documents(400, start_id=1_000_000 + (999 % 400) * 100_000).html)
    cols = extract_columns(payloads)
    frame = extract_batch(payloads)
    assert sorted(frame.columns) == sorted(cols._fields)
    for name in cols._fields:
        col = getattr(cols, name)
        assert len(col) == 400, name
        if isinstance(col, np.ndarray):
            assert frame[name].dtype == col.dtype, name
            np.testing.assert_array_equal(frame[name].to_numpy(), col, err_msg=name)
        else:
            assert frame[name].tolist() == col, name
