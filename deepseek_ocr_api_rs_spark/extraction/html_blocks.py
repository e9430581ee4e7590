"""HTML → deterministic block columns (the shared low-level tokenizer).

Plays the role of the reference's image preprocessing + tiling
(crates/infer-deepseek/src/vision/preprocess.rs:13-76 — deterministic
enumeration, stable order, pinned rounding): one HTML document becomes an
ordered list of text blocks with integer count features. Everything
downstream (scoring, accept/reject, assembly) is pure arithmetic on these
counts, implemented twice (scalar vs vectorized) and parity-checked.

One segmenter, ``segment_columns``: a single loop over ``_TOKEN_RE``
matches per document, with the segmentation state (open-tag stack,
link/skip/boilerplate depths, block context) in local variables and each
tag classified by one lookup in ``_TAG_FLAGS``. Blocks of every document
are appended straight into batch-wide columns, and ``text_counts`` counts
words, stopwords and punctuation over the whole text column afterwards.
``segment_html`` is the per-document ``RawBlock`` view of the same loop,
for the scalar reference extractor.

The tests hold this loop block-identical to the event-sink drivers it
replaced, kept in ``tests/html_oracle.py`` with the stdlib
``html.parser`` driver as the slow cross-check (the reference keeps
``generate_without_cache`` for exactly this purpose — parity debugging,
model/mod.rs:1684-1914).

No lxml/bs4 in this environment; a hand-rolled walk is also the easiest
thing to make byte-deterministic.
"""

from __future__ import annotations

import re
from collections.abc import Iterable
from dataclasses import dataclass
from html import unescape
from itertools import repeat
from typing import NamedTuple

# Tags whose text content is never document text.
_SKIP_CONTENT = frozenset({"script", "style", "noscript", "template", "svg", "head"})
# Tags the tokenizer treats as raw text (scan straight to the close tag) —
# must mirror stdlib HTMLParser.CDATA_CONTENT_ELEMENTS for driver parity.
_RAWTEXT = frozenset({"script", "style"})
# Opening or closing any of these flushes the current block.
_BLOCK_BOUNDARY = frozenset(
    {
        "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th", "pre",
        "blockquote", "figcaption", "caption", "dd", "dt", "div", "section",
        "article", "main", "aside", "nav", "header", "footer", "body",
        "table", "tr", "ul", "ol", "form", "br", "hr", "title",
    }
)
# Ancestor tags that mark a block as boilerplate-context.
_BOILER_ANCESTORS = frozenset({"nav", "header", "footer", "aside", "form"})
# Void elements never pushed on the stack.
_VOID = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "area", "base", "col",
     "embed", "source", "track", "wbr"}
)

# Each tag's classes as bit flags, so the loop pays one dict lookup per tag.
_F_BOUNDARY, _F_SKIP, _F_NO_PUSH, _F_BOILER, _F_RAWTEXT, _F_LINK = (
    1, 2, 4, 8, 16, 32,
)
_TAG_FLAGS: dict[str, int] = {
    tag: (
        _F_BOUNDARY * (tag in _BLOCK_BOUNDARY)
        | _F_SKIP * (tag in _SKIP_CONTENT)
        | _F_NO_PUSH * (tag in _VOID or tag == "html")
        | _F_BOILER * (tag in _BOILER_ANCESTORS)
        | _F_RAWTEXT * (tag in _RAWTEXT)
        | _F_LINK * (tag == "a")
    )
    for tag in _BLOCK_BOUNDARY | _SKIP_CONTENT | _VOID | {"html", "a"}
}
# Rawtext close search on the document itself, ASCII case-insensitive like
# stdlib's set_cdata_mode: positions found in html.lower() would be off by
# one for every character (e.g. 'İ') whose lowercase is two code points.
_RAWTEXT_CLOSE = {tag: re.compile("</" + tag, re.I | re.A) for tag in _RAWTEXT}


@dataclass
class RawBlock:
    """One segmented block with integer count features (pre-scoring)."""

    idx: int
    tag_path: str       # stack at block start, e.g. "html/body/div/p"
    text: str           # whitespace-collapsed block text
    n_text_chars: int   # len(text)
    n_link_chars: int   # chars contributed while inside an <a>
    n_tags: int         # tag opens observed inside the block (density denom)
    depth: int          # stack depth at block start
    boiler: int         # 1 if any _BOILER_ANCESTORS on the stack
    n_words: int
    n_stop_words: int
    n_punct: int


# Small multilingual stopword table — feature input only (its exact content
# is part of the pinned "weight table", the analogue of the projector weights
# crates/infer-deepseek/src/model/mod.rs:334-377).
STOPWORDS = frozenset(
    """a an and are as at be but by for from has have if in into is it its of
    on or that the their there this to was were will with you your we our not
    der die das und ist ein eine im mit für von zu den le la les des un une
    et est dans que pour el los las por con una para""".split()
)

_PUNCT = ".,;:!?\"'()[]{}-—…"
_STRIP = "\".,;:!?()'"
_PUNCT_RE = re.compile("[" + re.escape(_PUNCT) + "]")


def text_counts(texts: list[str]) -> tuple[list[int], list[int], list[int]]:
    """Words, stopwords and punctuation characters of each block text.

    Block text is whitespace-collapsed, so its words are exactly its
    single-space-separated runs. A word is a stopword when, stripped of
    ``_STRIP`` and lowercased, it is in ``STOPWORDS``; lowercasing the
    whole text first gives the same words (no lowercase mapping makes a
    space or a ``_STRIP`` character, and no stopword holds a sigma, the one
    letter whose lowercase depends on its neighbours).
    """
    is_stop, strip = STOPWORDS.__contains__, str.strip
    n_words = [t.count(" ") + 1 for t in texts]
    n_stop = [
        sum(map(is_stop, map(strip, t.lower().split(), repeat(_STRIP))))
        for t in texts
    ]
    n_punct = [len(_PUNCT_RE.findall(t)) for t in texts]
    return n_words, n_stop, n_punct


class BlockColumns(NamedTuple):
    """The blocks of a sequence of documents, in (document, block) order."""

    counts: list[int]                # blocks per document
    texts: list[str]                 # whitespace-collapsed block text
    paths: list[tuple[str, ...]]     # open-tag stack at block start
    link_chars: list[int]            # chars inside <a> (not capped at len(text))
    n_tags: list[int]                # tag opens inside the block
    boiler: list[int]                # open _BOILER_ANCESTORS at block start


_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"                       # comments
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"              # cdata
    r"|<![^>]*>?"                              # doctype / declarations
    r"|<\?[^>]*>?"                             # processing instructions
    r"|</\s*>"                                 # bare `</>` — consumed silently
    r"|</\s*([a-zA-Z][^\s>\x00]*)[^>]*>"       # end tag        -> group 1
    r"|<([a-zA-Z][^\s/>\x00]*)"                # start tag name -> group 2
    # (name charset mirrors stdlib HTMLParser's tagfind: anything up to
    # whitespace / '/' / '>', so `<a;>` names the tag "a;" in both drivers;
    # the greedy attribute group takes a self-closing '/', so `<div/>`
    # opens a div)
    r"((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>",     # attrs (quote-aware)
    re.DOTALL,
)


def segment_columns(htmls: Iterable[str]) -> BlockColumns:
    """Segment each HTML document into blocks, appended to one set of
    columns."""
    counts: list[int] = []
    texts: list[str] = []
    paths: list[tuple[str, ...]] = []
    links: list[int] = []
    n_tags: list[int] = []
    boilers: list[int] = []
    add_text, add_path, add_link = texts.append, paths.append, links.append
    add_tags, add_boiler = n_tags.append, boilers.append
    flags_of = _TAG_FLAGS.get
    finditer = _TOKEN_RE.finditer
    for html in htmls:
        n_before = len(texts)
        stack: list[str] = []
        open_counts: dict[str, int] = {}  # multiset of `stack`
        parts: list[str] = []             # data of the current block
        link_chars = tags = 0             # of the current block
        link_depth = skip_depth = boiler_depth = 0
        ctx: tuple[str, ...] = ()         # stack at the last boundary tag
        ctx_boiler = 0
        frozen: tuple[str, ...] | None = ()  # tuple(stack), None once stale
        pos = 0
        scanning = True
        while scanning:
            scanning = False
            for m in finditer(html, pos):
                start = m.start()
                if start > pos and not skip_depth:
                    seg = html[pos:start]
                    if "&" in seg:
                        seg = unescape(seg)
                    parts.append(seg)
                    if link_depth:
                        link_chars += len(" ".join(seg.split()))
                pos = m.end()
                # the last group that took part: 3 (attrs) for a start
                # tag, 1 for an end tag, none for comments/doctypes/PIs
                last = m.lastindex
                if last == 3:
                    tag = m[2].lower()
                elif last == 1:
                    tag = m[1].lower()
                else:
                    continue
                f = flags_of(tag, 0)
                if f & _F_BOUNDARY:
                    if parts:
                        text = " ".join("".join(parts).split())
                        if text:
                            add_text(text)
                            add_path(ctx)
                            add_link(link_chars)
                            add_tags(tags)
                            add_boiler(ctx_boiler)
                        parts = []
                    link_chars = tags = 0
                if last == 3:
                    if f & _F_SKIP:
                        skip_depth += 1
                    if f & _F_LINK:
                        link_depth += 1
                    tags += 1
                    if not f & _F_NO_PUSH:
                        stack.append(tag)
                        frozen = None
                        open_counts[tag] = open_counts.get(tag, 0) + 1
                        if f & _F_BOILER:
                            boiler_depth += 1
                    if f & _F_RAWTEXT:
                        # skip the raw text and its close tag, then close
                        # the element (it is on top of the stack)
                        stack.pop()
                        open_counts[tag] -= 1
                        skip_depth -= 1
                        close = _RAWTEXT_CLOSE[tag].search(html, pos)
                        if close is None:
                            break
                        gt = html.find(">", close.start())
                        pos = gt + 1 if gt != -1 else len(html)
                        scanning = True
                        break
                else:
                    if f & _F_LINK and link_depth:
                        link_depth -= 1
                    if f & _F_SKIP and skip_depth:
                        skip_depth -= 1
                    # pop to the innermost matching open tag (forgiving,
                    # deterministic)
                    if open_counts.get(tag):
                        frozen = None
                        while True:
                            popped = stack.pop()
                            open_counts[popped] -= 1
                            if popped in _BOILER_ANCESTORS:
                                boiler_depth -= 1
                            if popped == tag:
                                break
                if f & _F_BOUNDARY:
                    # a run of boundary tags that leave the stack alone
                    # (e.g. <br>) shares one snapshot, so a deep stack
                    # costs O(depth) once, not once per tag
                    if frozen is None:
                        frozen = tuple(stack)
                    ctx = frozen
                    ctx_boiler = boiler_depth
            else:
                if pos < len(html) and not skip_depth:
                    seg = html[pos:]
                    if "&" in seg:
                        seg = unescape(seg)
                    parts.append(seg)
                    if link_depth:
                        link_chars += len(" ".join(seg.split()))
        if parts:
            text = " ".join("".join(parts).split())
            if text:
                add_text(text)
                add_path(ctx)
                add_link(link_chars)
                add_tags(tags)
                add_boiler(ctx_boiler)
        counts.append(len(texts) - n_before)
    return BlockColumns(counts, texts, paths, links, n_tags, boilers)


def segment_html(html: str) -> list[RawBlock]:
    """Parse one HTML document into its ordered block list."""
    _, texts, paths, links, n_tags, boilers = segment_columns((html,))
    return [
        RawBlock(
            idx=idx,
            tag_path="/".join(path),
            text=text,
            n_text_chars=len(text),
            n_link_chars=min(link, len(text)),
            n_tags=tags,
            depth=len(path),
            boiler=int(boiler > 0),
            n_words=words,
            n_stop_words=stop,
            n_punct=punct,
        )
        for idx, (text, path, link, tags, boiler, words, stop, punct) in enumerate(
            zip(texts, paths, links, n_tags, boilers, *text_counts(texts))
        )
    ]
