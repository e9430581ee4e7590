"""Parity oracles for ``extraction.html_blocks`` (test-only).

Two slow drivers feed ONE event sink, ``_BlockSink``, which holds the
segmentation state machine as methods (one call per tag and per block):

- ``segment_html_frozen`` — the event-sink form of the regex tokenizer,
  frozen: the production ``segment_html`` must stay block-identical to it,
  except where the rawtext skip once searched ``html.lower()`` and used
  those positions in ``html`` (fixed in production; see
  ``test_html_segmenter.py``);
- ``segment_html_stdlib`` — the stdlib ``html.parser`` driver, the D2
  slow cross-check (the reference keeps ``generate_without_cache`` for
  exactly this purpose — parity debugging, model/mod.rs:1684-1914).

``_word_stats`` is the per-block loop that ``html_blocks.text_counts``
replaced; the tests hold the two equal block by block.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from deepseek_ocr_api_rs_spark.extraction.html_blocks import (
    _BLOCK_BOUNDARY,
    _BOILER_ANCESTORS,
    _PUNCT,
    _RAWTEXT,
    _SKIP_CONTENT,
    _STRIP,
    _VOID,
    STOPWORDS,
    RawBlock,
)

_DEL_PUNCT = str.maketrans("", "", _PUNCT)


def _word_stats(text: str) -> tuple[int, int, int]:
    words = text.split()
    n_stop = 0
    stops = STOPWORDS
    for w in words:
        # fast path: already-lowercase alpha words (the common case) need
        # no strip/lower allocation — identical result by construction
        if w.isalpha():
            if (w if w.islower() else w.lower()) in stops:
                n_stop += 1
        elif w.strip(_STRIP).lower() in stops:
            n_stop += 1
    n_punct = len(text) - len(text.translate(_DEL_PUNCT))
    return len(words), n_stop, n_punct


class _BlockSink:
    """Parser-independent event sink holding the segmentation state
    machine. Both drivers emit (starttag, endtag, startendtag, data) events
    into this."""

    __slots__ = (
        "stack", "blocks", "_parts", "_link_chars", "_tags_in_block",
        "_link_depth", "_skip_depth", "_boiler_depth",
        "_ctx_stack", "_ctx_boiler", "_stack_cache", "_open_counts",
    )

    def __init__(self) -> None:
        self.stack: list[str] = []
        self.blocks: list[RawBlock] = []
        self._parts: list[str] = []
        self._link_chars = 0
        self._tags_in_block = 0
        self._link_depth = 0
        self._skip_depth = 0
        self._boiler_depth = 0
        self._ctx_stack: tuple[str, ...] = ()
        self._ctx_boiler = 0
        self._stack_cache: tuple[str, ...] | None = ()
        self._open_counts: dict[str, int] = {}

    def _begin_block_context(self) -> None:
        t = self._stack_cache
        if t is None:
            t = self._stack_cache = tuple(self.stack)
        self._ctx_stack = t
        self._ctx_boiler = self._boiler_depth

    def _flush(self) -> None:
        if not self._parts:
            self._link_chars = 0
            self._tags_in_block = 0
            self._begin_block_context()
            return
        text = " ".join("".join(self._parts).split())
        if text:
            n_words, n_stop, n_punct = _word_stats(text)
            self.blocks.append(
                RawBlock(
                    idx=len(self.blocks),
                    tag_path="/".join(self._ctx_stack),
                    text=text,
                    n_text_chars=len(text),
                    n_link_chars=min(self._link_chars, len(text)),
                    n_tags=self._tags_in_block,
                    depth=len(self._ctx_stack),
                    boiler=int(self._ctx_boiler > 0),
                    n_words=n_words,
                    n_stop_words=n_stop,
                    n_punct=n_punct,
                )
            )
        self._parts = []
        self._link_chars = 0
        self._tags_in_block = 0
        self._begin_block_context()

    def starttag(self, tag: str) -> None:
        if tag in _BLOCK_BOUNDARY:
            self._flush()
        if tag in _SKIP_CONTENT:
            self._skip_depth += 1
        if tag == "a":
            self._link_depth += 1
        self._tags_in_block += 1
        if tag not in _VOID and tag != "html":
            self.stack.append(tag)
            self._stack_cache = None
            counts = self._open_counts
            counts[tag] = counts.get(tag, 0) + 1
            if tag in _BOILER_ANCESTORS:
                self._boiler_depth += 1
        if tag in _BLOCK_BOUNDARY:
            self._begin_block_context()

    def endtag(self, tag: str) -> None:
        if tag in _BLOCK_BOUNDARY:
            self._flush()
        if tag == "a" and self._link_depth > 0:
            self._link_depth -= 1
        if tag in _SKIP_CONTENT and self._skip_depth > 0:
            self._skip_depth -= 1
        counts = self._open_counts
        if counts.get(tag, 0):
            self._stack_cache = None
            while self.stack:
                popped = self.stack.pop()
                counts[popped] -= 1
                if popped in _BOILER_ANCESTORS:
                    self._boiler_depth -= 1
                if popped == tag:
                    break
        if tag in _BLOCK_BOUNDARY:
            self._begin_block_context()

    def startendtag(self, tag: str) -> None:
        if tag in _BLOCK_BOUNDARY:
            self._flush()
            self._begin_block_context()
        self._tags_in_block += 1

    def data(self, data: str) -> None:
        if self._skip_depth:
            return
        self._parts.append(data)
        if self._link_depth:
            self._link_chars += len(" ".join(data.split()))

    def finish(self) -> list[RawBlock]:
        self._flush()
        return self.blocks


# The token grammar as it was frozen, self-close group included (the
# greedy attribute group always takes the '/', so group 4 never matches).
_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*>?"
    r"|<\?[^>]*>?"
    r"|</\s*>"
    r"|</\s*([a-zA-Z][^\s>\x00]*)[^>]*>"
    r"|<([a-zA-Z][^\s/>\x00]*)"
    r"((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)"
    r"(/?)>",
    re.DOTALL,
)


def segment_html_frozen(html: str) -> list[RawBlock]:
    sink = _BlockSink()
    lower = html.lower()
    pos = 0
    n = len(html)
    while pos < n:
        m = _TOKEN_RE.search(html, pos)
        if m is None:
            tail = html[pos:]
            if tail:
                sink.data(unescape(tail) if "&" in tail else tail)
            break
        if m.start() > pos:
            seg = html[pos : m.start()]
            sink.data(unescape(seg) if "&" in seg else seg)
        end_name, start_name, _attrs, selfclose = m.group(1, 2, 3, 4)
        pos = m.end()
        if start_name is not None:
            tag = start_name.lower()
            if selfclose:
                sink.startendtag(tag)
            else:
                sink.starttag(tag)
                if tag in _RAWTEXT:
                    close = lower.find("</" + tag, pos)
                    if close == -1:
                        sink.endtag(tag)
                        break
                    gt = html.find(">", close)
                    pos = (gt + 1) if gt != -1 else n
                    sink.endtag(tag)
        elif end_name is not None:
            sink.endtag(end_name.lower())
    return sink.finish()


class _StdlibAdapter(HTMLParser):
    def __init__(self, sink: _BlockSink) -> None:
        super().__init__(convert_charrefs=True)
        self.sink = sink

    def handle_starttag(self, tag: str, attrs) -> None:
        self.sink.starttag(tag)

    def handle_endtag(self, tag: str) -> None:
        self.sink.endtag(tag)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.sink.startendtag(tag)

    def handle_data(self, data: str) -> None:
        self.sink.data(data)


def segment_html_stdlib(html: str) -> list[RawBlock]:
    sink = _BlockSink()
    parser = _StdlibAdapter(sink)
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        # Truncated/hostile input: keep whatever was segmented before the
        # failure (deterministic — parser state depends only on the prefix).
        pass
    return sink.finish()
