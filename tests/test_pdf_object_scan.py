"""The PDF object scan (``pdf_real._extract_objects`` and
``_scan_int_objects``) is linear and returns what the scan it replaced
returned.

The replaced scan searched from every object head to the end of the data
for the next ``endobj`` and stream keyword, so a run of heads with no
``endobj`` after them was quadratic, and its head regexes retried every
suffix of a run of digits. ``_FROZEN_*``/``_frozen_*`` below are that
scan, kept verbatim as the oracle; the new scan must return the same
dicts on every fixture PDF and on mutated ones.
"""

from __future__ import annotations

import gc
import re
import time

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from deepseek_ocr_api_rs_spark.extraction import pdf_real
from deepseek_ocr_api_rs_spark.extraction.batch import extract_columns
from deepseek_ocr_api_rs_spark.extraction.pdf_real import (
    _Cursor,
    _extract_objects,
    _resolve_length,
    _scan_int_objects,
)
from deepseek_ocr_api_rs_spark.extraction.pdf_spans import PDF_MAGIC
from deepseek_ocr_api_rs_spark.fixtures.corpus import make_documents


_FROZEN_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_FROZEN_OBJ_AT_RE = re.compile(rb"\s*(\d+)\s+(\d+)\s+obj\b")
_FROZEN_STREAM_START_RE = re.compile(rb"stream(?:\r\n|\n|\r)")
_FROZEN_INT_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\s*(\d+)\s*endobj")


def _frozen_scan_int_objects(data):
    return {int(m.group(1)): int(m.group(2)) for m in _FROZEN_INT_OBJ_RE.finditer(data)}


def _frozen_parse_object_at(data, pos, int_objs):
    m = _FROZEN_OBJ_AT_RE.match(data, pos)
    if m is None:
        return None
    num = int(m.group(1))
    body_start = m.end()
    endobj = data.find(b"endobj", body_start)
    sm = _FROZEN_STREAM_START_RE.search(
        data, body_start, endobj if endobj >= 0 else len(data)
    )
    if sm is None:
        if endobj < 0:
            return None
        return (num, data[body_start:endobj], None, endobj + 6)
    head = data[body_start : sm.start()]
    length = _resolve_length(head, int_objs)
    if length is not None and length >= 0:
        start = sm.end()
        stream = data[start : start + length]
        end = data.find(b"endobj", start + length)
        return (num, head, stream, end + 6 if end >= 0 else len(data))
    es = data.find(b"endstream", sm.end())
    stream = data[sm.end() : es if es >= 0 else len(data)].rstrip(b"\r\n")
    end = data.find(b"endobj", es if es >= 0 else sm.end())
    return (num, head, stream, end + 6 if end >= 0 else len(data))


def _frozen_extract_objects(data, int_objs=None):
    objs = {}
    pos = 0
    while True:
        m = _FROZEN_OBJ_HEAD_RE.search(data, pos)
        if m is None:
            break
        parsed = _frozen_parse_object_at(data, m.start(), int_objs)
        if parsed is None:
            pos = m.end()
            continue
        num, head, stream, end = parsed
        objs[num] = (head, stream)
        pos = max(end, m.end())
    return objs


def _assert_same_scan(data: bytes) -> None:
    int_objs = _scan_int_objects(data)
    assert int_objs == _frozen_scan_int_objects(data)
    assert _extract_objects(data) == _frozen_extract_objects(data)
    assert _extract_objects(data, int_objs) == _frozen_extract_objects(data, int_objs)


def _fixture_pdfs(seed: int, n: int = 4000) -> list[bytes]:
    # the start ids the benchmark's job corpus uses for ``seed``
    df = make_documents(n, start_id=1_000_000 + (seed % 400) * 100_000)
    return [h for h in df["html"] if h.startswith(PDF_MAGIC)]


_SEED_PDFS: dict[int, list[bytes]] = {}


def _pdfs(seed: int) -> list[bytes]:
    if seed not in _SEED_PDFS:
        _SEED_PDFS[seed] = _fixture_pdfs(seed)
    return _SEED_PDFS[seed]


@pytest.mark.parametrize("seed", [101, 999])
def test_scan_equals_frozen_scan_on_fixture_pdfs(seed):
    pdfs = _pdfs(seed)
    assert len(pdfs) > 100
    for data in pdfs:
        _assert_same_scan(data)


_SNIPPETS = [
    b"endobj", b"stream\n", b"stream\r\n", b"stream\r", b"endstream",
    b"7 0 obj", b"7 0 obj\n", b" 0 obj ", b"/Length 5 ", b"/Length 9 0 R ",
    b"9 0 obj 3 endobj", b"\r\n", b">>",
]


@st.composite
def _mutated_pdf(draw):
    data = bytearray(draw(st.sampled_from(_pdfs(101)[:40])))
    for _ in range(draw(st.integers(1, 6))):
        at = draw(st.integers(0, len(data)))
        op = draw(st.sampled_from(["insert", "delete", "truncate", "duplicate"]))
        if op == "insert":
            data[at:at] = draw(st.sampled_from(_SNIPPETS))
        elif op == "delete":
            del data[at : at + draw(st.integers(1, 64))]
        elif op == "truncate":
            del data[at:]
        else:
            data[at:at] = data[at : at + draw(st.integers(1, 256))]
    return bytes(data)


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_mutated_pdf())
def test_scan_equals_frozen_scan_on_mutated_pdfs(data):
    _assert_same_scan(data)


@given(st.lists(st.sampled_from(_SNIPPETS + [b"x", b" ", b"\n", b"1"]), max_size=60))
@settings(max_examples=300, deadline=None)
def test_scan_equals_frozen_scan_on_token_soup(parts):
    _assert_same_scan(b"%PDF-1.4\n" + b"".join(parts))


@given(st.lists(st.sampled_from([b"ab", b"a", b"b", b"x"]), max_size=24))
def test_cursor_answers_find_after_any_earlier_query(parts):
    data = b"".join(parts)
    positions = range(len(data) + 2)
    for first in positions:
        for pos in positions:
            cursor = _Cursor(lambda p: data.find(b"ab", p))
            cursor(first)
            assert cursor(pos) == data.find(b"ab", pos), (data, first, pos)


def _repeated(unit: bytes, kb: int) -> bytes:
    return b"%PDF-1.4\n" + unit * (kb * 1024 // len(unit))


def _best_time(data: bytes, runs: int = 5) -> float:
    # collector passes scan every live object of the test session,
    # which is no cost of the scan itself (timeit disables it too)
    best = float("inf")
    gc.disable()
    try:
        for _ in range(runs):
            t0 = time.perf_counter()
            extract_columns([data])
            best = min(best, time.perf_counter() - t0)
    finally:
        gc.enable()
    return best


def _scanned_bytes(data: bytes, cursor: type = _Cursor) -> int:
    """Bytes the scan's cursors search in one extraction of ``data``: from
    each search's start to its hit, or to the end of the data."""
    scanned = 0

    class Counting(cursor):
        def __init__(self, find) -> None:
            def counted(pos: int) -> int:
                nonlocal scanned
                hit = find(pos)
                scanned += (len(data) if hit < 0 else hit) - pos
                return hit

            super().__init__(counted)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pdf_real, "_Cursor", Counting)
        extract_columns([data])
    return scanned


class _Researching(_Cursor):
    """A cursor that searches afresh on every call, as the scan did before
    the cursors."""

    __slots__ = ()

    def __call__(self, pos: int) -> int:
        return self._find(pos)


def _each_doubling_within(costs: list, factor: float = 2.5) -> bool:
    return all(big <= factor * small for small, big in zip(costs, costs[1:]))


@pytest.mark.parametrize(
    ("unit", "measure"),
    [(b"1 0 obj\n", _scanned_bytes), (b"1", _best_time)],
    ids=["bare-heads", "digit-run"],
)
def test_object_scan_is_linear(unit, measure):
    """Each doubling of the input may cost at most 2.5x. Before the
    cursors, bare heads cost ~4.2x per doubling; before the (?<!\\d)
    anchor, a 16 KB digit run took 6 s and each doubling ~4.5x. Bare heads
    are measured in bytes searched, which box load cannot change; the digit
    run costs inside one regex search, so it is timed."""
    costs = [measure(_repeated(unit, kb)) for kb in (32, 64, 128, 256)]
    assert _each_doubling_within(costs), costs


def test_scanned_bytes_catch_a_cursor_that_researches():
    # an eighth of the sizes above: the quadratic scan of 256 KB takes seconds
    costs = [
        _scanned_bytes(_repeated(b"1 0 obj\n", kb), cursor=_Researching)
        for kb in (4, 8, 16, 32)
    ]
    assert not _each_doubling_within(costs), costs
