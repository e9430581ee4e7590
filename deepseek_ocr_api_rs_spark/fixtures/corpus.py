"""Synthetic Common-Crawl-style corpus generator (FIXTURES.md §1).

Schema matches BASELINE.json input_hint exactly:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Determinism: each row is generated from ``random.Random(SEED * 1_000_003 +
row_id)`` so any subset of rows, generated in any order or parallelism, is
identical — the property that lets the Spark fixture writer and the scalar
golden capture agree byte-for-byte (reference precedent: deterministic
BTreeSet enumeration, crates/infer-deepseek/src/vision/preprocess.rs:23-32).

Skew by construction: two "hot hosts" carry ~20% of rows (exercises the
salting path, SURVEY.md §7.2-6); ~5% PDF payloads (pdf branch); ~2%
malformed bytes (error branch).
"""

from __future__ import annotations

import datetime as dt
import json
import random

import pandas as pd

SEED = 42
# bump when the generator grammar changes — invalidates bench corpus caches
# v4: +12.5% modern-PDF (xref stream/ObjStm) slice; v7: +6% slice of
# LZW / ASCII85+Flate filtered and RC4- / AES-encrypted classic PDFs
# (extracted-text goldens unchanged by construction in all — the container
# dialect must not leak into output); v8: +2% slice of simple-font
# /Encoding PDFs (WinAnsi with curly-quote/accent text, /Differences
# overrides) and AES-256 (/V 5 /R 6) encrypted classic PDFs; v9: +1%
# slice of modern Type0/Identity-H PDFs WITHOUT /ToUnicode (the
# CJK-generator family — decoded through the predefined-CMap path, r6);
# v10: +1% slice of classic PDFs with a Form-XObject span (Do) and a
# BI/ID/EI inline-image decoy (the stamped/scanned family, r6);
# v11: +3% Markdown/plain-text slice — routes to the third (text)
# passthrough branch (the crates/infer-dots backend analogue, r7);
# v12: +2.5% DECLARED-legacy-charset slice (windows-1252 meta http-equiv,
# Shift_JIS / EUC-KR meta charset, BOM'd UTF-16LE) — routes through the
# WHATWG sniff (extraction/charset.py, r7) to the html branch
CORPUS_VERSION = 12


HOT_HOSTS = ["bigportal.example.com", "megablog.example.net"]
COLD_HOST_COUNT = 200

_VOCAB = (
    "the quick brown fox jumps over a lazy dog while seventeen researchers "
    "measure throughput of distributed query engines across large clusters "
    "and report that careful partitioning with salted keys keeps skewed "
    "hosts from dominating shuffle time in web scale extraction pipelines "
    "modern boilerplate removal relies on text density link density and "
    "stopword ratios to separate main content from navigation chrome"
).split()

_NAV_WORDS = "home about contact products news login signup careers terms privacy sitemap help".split()

_LANGS = [("en", 0.70), ("de", 0.12), ("zh", 0.08), ("fr", 0.05), ("unknown", 0.05)]

_ZH_CHARS = "数据处理引擎分布式查询提取网页内容主体去重索引规模集群吞吐量分区"


def _pick_lang(rng: random.Random) -> str:
    x = rng.random()
    acc = 0.0
    for lang, p in _LANGS:
        acc += p
        if x < acc:
            return lang
    return "en"


def _sentence(rng: random.Random, lang: str, n_words: int) -> str:
    if lang == "zh":
        return "".join(rng.choice(_ZH_CHARS) for _ in range(n_words * 2)) + "。"
    words = [rng.choice(_VOCAB) for _ in range(n_words)]
    words[0] = words[0].capitalize()
    return " ".join(words) + rng.choice([".", ".", ".", "!", "?"])


def _paragraph(rng: random.Random, lang: str) -> str:
    return " ".join(_sentence(rng, lang, rng.randint(6, 18)) for _ in range(rng.randint(1, 5)))


def _nav_block(rng: random.Random, tag: str) -> str:
    links = "".join(
        f'<a href="/{w}">{w}</a> ' for w in rng.sample(_NAV_WORDS, rng.randint(4, 9))
    )
    return f"<{tag}><ul><li>{links}</li></ul></{tag}>"


def _html_doc(rng: random.Random, lang: str, title: str) -> str:
    parts = [
        "<!DOCTYPE html><html><head>",
        f"<title>{title}</title>",
        '<meta charset="utf-8"><style>body {{ margin: 0 }}</style>',
        "<script>var tracker = 'noise' + Math.random();</script>",
        "</head><body>",
        _nav_block(rng, "nav"),
        f"<header><h1>{title}</h1>{_nav_block(rng, 'div') if rng.random() < 0.4 else ''}</header>",
        '<main><article>',
    ]
    n_blocks = rng.randint(1, 20)
    for _ in range(n_blocks):
        kind = rng.random()
        if kind < 0.12:
            parts.append(f"<h2>{_sentence(rng, lang, rng.randint(3, 7))}</h2>")
        elif kind < 0.22:
            items = "".join(
                f"<li>{_sentence(rng, lang, rng.randint(4, 12))}</li>"
                for _ in range(rng.randint(2, 5))
            )
            parts.append(f"<ul>{items}</ul>")
        elif kind < 0.30:
            rows = "".join(
                f"<tr><td>{_sentence(rng, lang, 3)}</td><td>{rng.randint(0, 999)}</td></tr>"
                for _ in range(rng.randint(2, 4))
            )
            parts.append(f"<table>{rows}</table>")
        elif kind < 0.36:
            parts.append(f"<pre>result = engine.extract(doc_{rng.randint(0, 99)})</pre>")
        elif kind < 0.42:
            parts.append(f"<blockquote>{_sentence(rng, lang, rng.randint(6, 14))}</blockquote>")
        elif kind < 0.47:
            items = "".join(
                f"<dt>{_sentence(rng, lang, 2)}</dt><dd>{_sentence(rng, lang, rng.randint(4, 10))}</dd>"
                for _ in range(rng.randint(1, 3))
            )
            parts.append(f"<dl>{items}</dl>")
        elif kind < 0.52:
            parts.append(
                f"<figure><img src='/img/{rng.randint(0, 99)}.jpg'>"
                f"<figcaption>{_sentence(rng, lang, rng.randint(3, 8))}</figcaption></figure>"
            )
        else:
            parts.append(f"<p>{_paragraph(rng, lang)}</p>")
    parts.append("</article></main>")
    if rng.random() < 0.5:
        comments = "".join(
            f"<div class='comment'><p>{_sentence(rng, lang, rng.randint(2, 6))} "
            f"<a href='/user/{rng.randint(1, 50)}'>user{rng.randint(1, 50)}</a></p></div>"
            for _ in range(rng.randint(1, 4))
        )
        parts.append(f"<section id='comments'>{comments}</section>")
    parts.append(_nav_block(rng, "footer"))
    parts.append("<!-- generated fixture --></body></html>")
    return "".join(parts)


def _markdown_doc(rng: random.Random, lang: str, title: str) -> str:
    """v11: a plain Markdown body for the third extractor branch (the
    crates/infer-dots passthrough analogue) — headings, lists,
    blockquotes, emphasis, links, inline code and a fenced block, never
    a raw HTML tag (tag-shaped text would reroute it to the html
    branch)."""
    parts = [f"# {title}"]
    for _ in range(rng.randint(2, 8)):
        kind = rng.random()
        if kind < 0.15:
            parts.append(f"## {_sentence(rng, lang, rng.randint(3, 7))}")
        elif kind < 0.30:
            parts.append(
                "\n".join(
                    f"- {_sentence(rng, lang, rng.randint(4, 10))}"
                    for _ in range(rng.randint(2, 5))
                )
            )
        elif kind < 0.38:
            parts.append(f"> {_sentence(rng, lang, rng.randint(6, 14))}")
        elif kind < 0.46:
            parts.append(
                "```\nresult = engine.extract(doc_%d)\n```" % rng.randint(0, 99)
            )
        elif kind < 0.56:
            w = rng.choice(_NAV_WORDS)
            parts.append(
                f"See [the {w} page](/{w}) and `extract()` for "
                f"**{_sentence(rng, lang, rng.randint(3, 8))}**"
            )
        else:
            parts.append(_paragraph(rng, lang))
    return "\n\n".join(parts) + "\n"


def _pdf_doc(rng: random.Random) -> bytes:
    """Synthetic layout: 1-3 columns × 1-2 pages, spans shuffled + y-jitter.

    Geometry is generated in reading order, then shuffled, so the reading-
    order reconstruction operator has real work to do. Container roll:
    ~half the docs become REAL PDFs (pdf_real.make_pdf_bytes — object
    structure, xref, BT/ET text operators; alternating Flate-compressed /
    uncompressed / TJ-array variants), the rest keep the JSON geometry
    container — both flow through the same layout math.
    """
    width = 612.0
    n_cols = rng.randint(1, 3)
    col_w = width / n_cols
    spans = []
    for page in range(rng.randint(1, 2)):
        for col in range(n_cols):
            y = 40.0
            for _ in range(rng.randint(2, 6)):
                x0 = col * col_w + 20.0 + rng.random() * 5.0
                jitter = (rng.random() - 0.5) * 1.5  # within Y_QUANTUM
                spans.append(
                    {
                        "page": page,
                        "x0": round(x0, 2),
                        "y0": round(y + jitter, 2),
                        "x1": round(x0 + col_w - 60.0, 2),
                        "y1": round(y + 12.0, 2),
                        "text": _sentence(rng, "en", rng.randint(3, 8)),
                    }
                )
                y += rng.choice([14.0, 14.0, 28.0])
    rng.shuffle(spans)
    roll = rng.random()
    if roll < 0.375:
        from deepseek_ocr_api_rs_spark.extraction.pdf_real import make_pdf_bytes

        return make_pdf_bytes(
            spans,
            width=width,
            compress=roll < 0.25,
            use_tj_every=3 if roll < 0.125 else 0,
        )
    if roll < 0.5:
        # modern third-party dialect: xref stream + predictor, ObjStm page
        # tree, indirect /Length, UTF-16BE/ToUnicode text, decoy object —
        # same spans, so the extracted-text goldens are unchanged by
        # construction (the container dialect must not leak into output)
        from deepseek_ocr_api_rs_spark.extraction.pdf_real import (
            make_pdf_bytes_modern,
        )

        return make_pdf_bytes_modern(spans, width=width)
    if 0.59 <= roll < 0.60:
        # v10: a Form-XObject span (identity /Matrix, Do) plus a BI/ID/EI
        # inline-image decoy whose binary payload contains unbalanced
        # parens and a fake Tj — extraction is invariant by construction
        # (the form shows the same span ops; the decoy must be skipped
        # whole)
        from deepseek_ocr_api_rs_spark.extraction.pdf_real import make_pdf_bytes

        return make_pdf_bytes(
            spans, width=width, use_form=True, inline_image=True
        )
    if 0.58 <= roll < 0.59:
        # v9: Type0/Identity-H WITHOUT /ToUnicode — the font decodes
        # through the predefined-CMap path (pdf_real._page_fonts, r6);
        # identity decode equals the CMap's identity bfrange, so the
        # extracted-text goldens are unchanged by construction
        from deepseek_ocr_api_rs_spark.extraction.pdf_real import (
            make_pdf_bytes_modern,
        )

        return make_pdf_bytes_modern(spans, width=width, tounicode=False)
    if 0.56 <= roll < 0.58:
        # v8: simple-font /Encoding dialects (the most common real-PDF
        # family) and PDF 2.0 AES-256 — span text gains WinAnsi-reachable
        # non-ASCII so the encoding tables do real work; goldens follow
        # the spans, so the container stays output-invariant
        from deepseek_ocr_api_rs_spark.extraction.pdf_real import make_pdf_bytes

        if roll < 0.57:
            k = rng.randrange(len(spans))
            spans[k] = dict(
                spans[k],
                text=spans[k]["text"] + " — café “naïve” résumé",
            )
            return make_pdf_bytes(spans, width=width, font_encoding="winansi")
        if roll < 0.575:
            return make_pdf_bytes(
                spans, width=width, stream_filter="flate", encrypt="aes256"
            )
        k = rng.randrange(len(spans))
        spans[k] = dict(spans[k], text=spans[k]["text"] + " ⊕é⊕")
        return make_pdf_bytes(
            spans,
            width=width,
            font_encoding="winansi",
            differences={0x7F: "uni2295"},
        )
    if roll < 0.56:
        # non-Flate stream filters old distillers emitted (LZWDecode, the
        # chained ASCII85→Flate 7-bit-safe form) and the empty-password
        # RC4-encrypted form — same spans, goldens unchanged by
        # construction
        from deepseek_ocr_api_rs_spark.extraction.pdf_real import make_pdf_bytes

        if roll < 0.53:
            return make_pdf_bytes(spans, width=width, stream_filter="lzw")
        if roll < 0.55:
            return make_pdf_bytes(spans, width=width, stream_filter="a85+flate")
        if roll < 0.555:
            return make_pdf_bytes(
                spans, width=width, stream_filter="flate", encrypt=True
            )
        return make_pdf_bytes(
            spans, width=width, stream_filter="flate", encrypt="aes"
        )
    payload = {"width": width, "spans": spans}
    return b"%PDF-1.7\n" + json.dumps(payload, sort_keys=True).encode("utf-8")


# v12 declared-charset variants: (codec, declaration form, label,
# non-ASCII marker phrase the codec can encode, doc lang)
_CHARSET_VARIANTS = [
    ("cp1252", "http", "windows-1252",
     "Caf\u00e9 d\u00e9j\u00e0 vu \u2014 na\u00efve r\u00e9sum\u00e9 \u00e0 l\u2019\u0153uvre.", "fr"),
    ("shift_jis", "meta", "Shift_JIS",
     "\u3053\u308c\u306f\u65e5\u672c\u8a9e\u306e\u6587\u7ae0\u3067\u3059\u3002", "ja"),
    ("euc_kr", "meta", "EUC-KR",
     "\uc774\uac83\uc740 \ud55c\uad6d\uc5b4 \ubb38\uc7a5\uc785\ub2c8\ub2e4.", "ko"),
    ("utf-16-le", "bom", None, None, "en"),
]


def _charset_doc(rng: random.Random, title: str) -> tuple[bytes, str, str]:
    """v12: a real page in a DECLARED legacy charset (or BOM'd UTF-16) —
    ASCII filler sentences plus a codec-specific non-ASCII phrase, so a
    wrong decode is visible in the golden bytes. Returns
    (encoded payload, decoded source string, lang)."""
    codec, form, label, phrase, lang = _CHARSET_VARIANTS[rng.randrange(4)]
    paras = []
    for _ in range(rng.randint(2, 5)):
        sent = _sentence(rng, "en", rng.randint(8, 16))
        if phrase:
            sent = sent + " " + phrase
        paras.append(f"<p>{sent}</p>")
    if form == "http":
        head = (
            '<meta http-equiv="Content-Type" '
            f'content="text/html; charset={label}">'
        )
    elif form == "meta":
        head = f'<meta charset="{label}">'
    else:
        head = ""
    doc = (
        "<!DOCTYPE html><html><head>" + head
        + f"<title>{title}</title></head><body>"
        + _nav_block(rng, "nav")
        + "<main><article>" + "".join(paras)
        + "</article></main></body></html>"
    )
    if codec == "utf-16-le":
        return ("\ufeff" + doc).encode("utf-16-le"), doc, lang
    return doc.encode(codec), doc, lang


def make_documents(n_rows: int, start_id: int = 0) -> pd.DataFrame:
    rows = []
    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for row_id in range(start_id, start_id + n_rows):
        rng = random.Random(SEED * 1_000_003 + row_id)
        roll = rng.random()
        if roll < 0.20:
            host = HOT_HOSTS[row_id % len(HOT_HOSTS)]
        else:
            host = f"site{rng.randrange(COLD_HOST_COUNT)}.example.org"
        url = f"https://{host}/page/{row_id}"
        warc_ts = epoch + dt.timedelta(seconds=row_id * 137)
        lang = _pick_lang(rng)
        kind = rng.random()
        if kind < 0.05:
            html_bytes = _pdf_doc(rng)
            text = ""
        elif kind < 0.07:
            html_bytes = b"\xff\xfe<html><body>truncated" + bytes([rng.randrange(256) | 0x80 for _ in range(16)])
            text = ""
        elif kind < 0.10:
            # v11: Markdown slice — routes to the third (text) branch
            title = _sentence(rng, lang, rng.randint(2, 6)).rstrip(".!?")
            doc = _markdown_doc(rng, lang, title)
            html_bytes = doc.encode("utf-8")
            text = " ".join(doc.split())
        elif kind < 0.125:
            # v12: declared-legacy-charset slice — WHATWG sniff path
            title = _sentence(rng, "en", rng.randint(2, 6)).rstrip(".!?")
            html_bytes, doc, lang = _charset_doc(rng, title)
            text = " ".join(doc.split())
        else:
            title = _sentence(rng, lang, rng.randint(2, 6)).rstrip(".!?")
            doc = _html_doc(rng, lang, title)
            html_bytes = doc.encode("utf-8")
            text = " ".join(doc.split())
        rows.append((url, warc_ts, html_bytes, text, lang))
    return pd.DataFrame(
        rows, columns=["url", "warc_ts", "html", "text", "lang"]
    )


def write_documents_parquet(path: str, n_rows: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = make_documents(n_rows)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)
