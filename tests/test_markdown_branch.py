"""Third extractor branch (extraction/markdown.py): markup sniff,
markdown strip, passthrough semantics, corpus v11 golden slice."""

from __future__ import annotations

import pandas as pd

from deepseek_ocr_api_rs_spark.extraction.batch import extract_batch
from deepseek_ocr_api_rs_spark.extraction.markdown import (
    looks_like_markup,
    markdown_blocks,
    strip_markdown,
)
from deepseek_ocr_api_rs_spark.extraction.reference import extract_document


def test_markup_sniff():
    assert looks_like_markup("<p>hi</p>")
    assert looks_like_markup("text <br> text")
    assert looks_like_markup("<!DOCTYPE html><html>")
    assert looks_like_markup("x <!-- c --> y")
    assert looks_like_markup("tail </div>")
    assert looks_like_markup('<a href="/x">y</a>')
    # markdown surfaces that must NOT count as markup
    assert not looks_like_markup("# Title\n\nplain **bold** text")
    assert not looks_like_markup("autolink <https://example.com/path> here")
    assert not looks_like_markup("math: a < b and c > d")
    assert not looks_like_markup("")


def test_strip_markdown_rules():
    assert strip_markdown("# Title") == "Title"
    assert strip_markdown("## Sub  heading") == "Sub  heading"
    assert strip_markdown("- item one\n* item two\n3. item three") == (
        "item one\nitem two\nitem three"
    )
    assert strip_markdown("> quoted line") == "quoted line"
    assert strip_markdown("**bold** and _em_ and `code()`") == "bold and em and code()"
    assert strip_markdown("[text](https://u) ![alt](i.png)") == "text alt"
    assert strip_markdown("```\ncode body\n```") == "\ncode body\n"
    assert strip_markdown("---") == ""


def test_markdown_blocks_segmentation():
    doc = "# T\n\npara one\nline two\n\n- a\n- b\n\n\n\nlast"
    assert markdown_blocks(doc) == ["T", "para one line two", "a b", "last"]
    assert markdown_blocks("") == []
    assert markdown_blocks("\n\n\n") == []


def test_passthrough_accepts_every_block():
    md = "# Title\n\nfirst para\n\n> a quote\n\nlast para".encode()
    out = extract_batch([md])
    assert out.branch[0] == "text"
    assert out.n_blocks_total[0] == 4
    assert out.n_blocks_accepted[0] == 4  # no scorer — all accepted
    assert out.extracted_text[0] == "Title\n\nfirst para\n\na quote\n\nlast para"
    # provenance spans reconstruct the text exactly
    t = out.extracted_text[0]
    parts = [t[s:e] for s, e in zip(out.span_starts[0], out.span_ends[0])]
    assert parts == ["Title", "first para", "a quote", "last para"]


def test_scalar_batch_parity_on_markdown():
    docs = [
        b"# A\n\n**b** [c](/d)\n\n```\ne\n```",
        b"plain text only\n\nsecond para",
        b"",
    ]
    bat = extract_batch(docs)
    for i, payload in enumerate(docs):
        ref = extract_document(payload)
        assert bat.branch[i] == ref.branch == "text"
        assert bat.extracted_text[i] == ref.extracted_text
        assert list(bat.span_starts[i]) == ref.span_starts
        assert bat.n_blocks_accepted[i] == ref.n_blocks_accepted


def test_corpus_has_markdown_slice():
    from deepseek_ocr_api_rs_spark.fixtures import corpus

    df = corpus.make_documents(500)
    out = extract_batch(list(df["html"]))
    counts = out["branch"].value_counts().to_dict()
    assert counts.get("text", 0) >= 5  # ~3% of 500
    assert counts["html"] > 400 and counts["pdf"] > 10 and counts["error"] > 0


def test_goldens_carry_the_text_branch_slice():
    ext = pd.read_parquet("tests/goldens/golden_extractions.parquet")
    text_rows = ext[ext.branch == "text"]
    assert len(text_rows) >= 3
    assert (text_rows.n_blocks_accepted == text_rows.n_blocks_total).all()
    # passthrough output never carries markdown surface syntax
    assert not text_rows.extracted_text.str.contains(r"\*\*|^#|\n#|```").any()


def test_dots_recipe_registered():
    from deepseek_ocr_api_rs_spark.extraction.recipes import get_recipe, list_recipes

    r = get_recipe("dots-passthrough")
    assert r.frame == "{text}" and r.langs is None
    assert "dots-passthrough" in [x.name for x in list_recipes()]
