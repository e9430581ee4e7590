"""Real-PDF text extraction, stdlib only (re + zlib; numpy for predictor
row unfiltering via extraction.raster).

The reference's whole purpose is decoding REAL documents — the CLI loads
real image/PDF inputs (crates/cli/src/app.rs:116-122) and the server decodes
data-URL / fetched payloads (crates/server/src/generation.rs:263-305). This
module gives the PDF branch that "real input" contract: it parses actual PDF
syntax — xref-table and xref-stream driven object resolution (regex scan as
fallback), FlateDecode with /Predictor 2/10-15 row filters, direct AND
indirect /Length, /Type /ObjStm compressed object streams, /ToUnicode CMap
text decoding (bfchar/bfrange, UTF-16BE), and a BT/ET text-operator
interpreter (Tj/TJ/Td/TD/TL/T*/Tm/'/") — and emits the same positioned-span
dicts the layout operator (``pdf_spans.ordered_spans``) already consumes.
Page geometry: PDF y grows upward from the bottom-left, so spans are flipped
to top-down reading coordinates using the page MediaBox.

Stream filters (PDF 32000 §7.4, chains applied in /Filter order):
FlateDecode (zlib), LZWDecode (variable-width MSB-first LZW with
/EarlyChange, verified against the spec's published example vector),
ASCII85Decode (verified against stdlib ``base64.a85decode``),
ASCIIHexDecode, RunLengthDecode; /Predictor 2/10-15 row unfiltering after
the decompression stage. Encryption: the standard
security handler with an EMPTY user password is decrypted transparently
(the "opens without prompting" form crawls contain) — RC4 (/V 1-2,
/R 2-3), the crypt-filter era's AES-128-CBC (/V 4 /R 4 /AESV2,
incl. /EncryptMetadata false key derivation), AND PDF 2.0's AES-256
(/V 5 /R 6 /AESV3: Algorithm 2.B hardened hash, /UE file-key unwrap,
/Perms ECB check — all via extraction/aes.py, which runs OpenSSL's AES
and is FIPS-197-vector-pinned for every key size); the password proof
(/U) is verified first, so a real-password document returns None
instead of mojibake. Simple fonts without /ToUnicode decode through
their /Encoding
(WinAnsi/MacRoman/Standard + /Differences, extraction/pdf_encodings.py);
only fonts with neither fall back to latin-1. Remaining scope limits
(documented, not silent): no DCT/CCITT/JBIG2/JPX image filters (pixel
JPEG decode lives in extraction/jpeg.py), no real passwords, CMap
codespaces wider than 2 bytes fall back to identity, glyph widths
estimated at 0.5 em (column detection needs centers + gaps, not exact
metrics). ``make_pdf_bytes`` is the inverse: assembles a
real, readable classic-dialect PDF (xref table, literal strings) from span
dicts; ``make_pdf_bytes_modern`` assembles the PDF 1.5+ dialect third-party
writers emit (xref STREAM with PNG predictor, ObjStm'd page tree, indirect
/Length, Identity-H hex UTF-16BE text with a ToUnicode CMap) so the parser
is proven against more than its own classic writer.
"""

from __future__ import annotations

import re
import sys
import zlib

DEFAULT_PAGE_WIDTH = 612.0
DEFAULT_PAGE_HEIGHT = 792.0
CHAR_WIDTH_EM = 0.5  # estimated average glyph advance, in units of font size

# (?<!\d) here and on _INT_OBJ_RE: a head never starts inside a number.
# Without it a search over a run of digits retried every suffix of the
# run (quadratic); with it only the run's first digit is tried. Both
# scans resume only after a non-digit, so they find the same matches.
_OBJ_HEAD_RE = re.compile(rb"(?<!\d)(\d+)\s+(\d+)\s+obj\b")
_OBJ_AT_RE = re.compile(rb"\s*(\d+)\s+(\d+)\s+obj\b")
_STREAM_START_RE = re.compile(rb"stream(?:\r\n|\n|\r)")
# direct /Length: the integer must be followed by the next dict token
# ("/" key or ">>"), which excludes indirect "/Length N G R" references —
# a bare negative lookahead backtracks into matching a digit prefix.
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\s*[/>]")
_LENGTH_INDIRECT_RE = re.compile(rb"/Length\s+(\d+)\s+\d+\s+R")
_INT_OBJ_RE = re.compile(rb"(?<!\d)(\d+)\s+\d+\s+obj\s*(\d+)\s*endobj")
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_MEDIABOX_RE = re.compile(rb"/MediaBox\s*\[([^\]]*)\]")
_CONTENTS_RE = re.compile(rb"/Contents\s*(\[[^\]]*\]|\d+\s+\d+\s+R)")
_PAGES_TYPE_RE = re.compile(rb"/Type\s*/Pages\b")
_PAGE_TYPE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_PREV_RE = re.compile(rb"/Prev\s+(\d+)")
_W_RE = re.compile(rb"/W\s*\[([^\]]*)\]")
_INDEX_RE = re.compile(rb"/Index\s*\[([^\]]*)\]")
_SIZE_RE = re.compile(rb"/Size\s+(\d+)")
_XREF_TYPE_RE = re.compile(rb"/Type\s*/XRef\b")
_PRED_RE = re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = re.compile(rb"/Columns\s+(\d+)")
_COLORS_RE = re.compile(rb"/Colors\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_ENCODING_NAME_RE = re.compile(rb"/Encoding\s*/([A-Za-z0-9\-]+)")
_ENCODING_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")
_ENCODING_DICT_RE = re.compile(rb"/Encoding\s*<<(.*?)>>", re.DOTALL)
_BASE_ENC_RE = re.compile(rb"/BaseEncoding\s*/([A-Za-z0-9\-]+)")
_DIFFERENCES_RE = re.compile(rb"/Differences\s*\[([^\]]*)\]")
# inline-image delimiters (§8.9.7) — module-level: the tokenizer hot path
# hits these once per inline image (ADVICE r6: was re-compiled per image)
_INLINE_ID_RE = re.compile(rb"(?<![A-Za-z0-9])ID[\x00\t\n\x0c\r ]")
_INLINE_EI_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r /\[\]<>(){}%]|$)"
)
_RESOURCES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")
_FONT_DICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.DOTALL)
_FONT_REF_RE = re.compile(rb"/Font\s+(\d+)\s+\d+\s+R")
_FONT_ENTRY_RE = re.compile(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R")
_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_ENC_NAME_RE = re.compile(rb"/Encoding\s*/([A-Za-z0-9\-]+)")
_XOBJ_DICT_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.DOTALL)
_XOBJ_REF_RE = re.compile(rb"/XObject\s+(\d+)\s+\d+\s+R")
_FORM_TYPE_RE = re.compile(rb"/Subtype\s*/Form\b")
_MATRIX_RE = re.compile(rb"/Matrix\s*\[([^\]]*)\]")

_WHITESPACE = b" \t\r\n\f\x00"
_DELIMS = b"()<>[]{}/%"


def _scan_int_objects(data: bytes) -> dict[int, int]:
    """{obj_num: value} for bare-integer objects (indirect /Length targets)."""
    return {int(m.group(1)): int(m.group(2)) for m in _INT_OBJ_RE.finditer(data)}


def _resolve_length(head: bytes, int_objs: dict[int, int] | None) -> int | None:
    lm = _LENGTH_RE.search(head)
    if lm is not None:
        return int(lm.group(1))
    im = _LENGTH_INDIRECT_RE.search(head)
    if im is not None and int_objs:
        return int_objs.get(int(im.group(1)))
    return None


class _Cursor:
    """``find(pos)`` — the start of the first hit at or after ``pos``, or
    −1 — remembered across calls. No hit starts between the last searched
    position and its hit, so a query in that range reuses the hit: a scan
    whose positions only grow reads each byte once."""

    __slots__ = ("_find", "_lo", "_hit")

    def __init__(self, find) -> None:
        self._find = find
        self._lo = sys.maxsize
        self._hit = -1

    def __call__(self, pos: int) -> int:
        if pos < self._lo or 0 <= self._hit < pos:
            self._lo, self._hit = pos, self._find(pos)
        return self._hit


class _ObjectScan:
    """Forward cursors over one file's bytes for ``_parse_object_at``: the
    next ``endobj``, the next stream keyword and the next ``endstream``.
    Shared across the heads of ``_extract_objects``, they keep its scan
    linear; searching to the end of the data afresh for each head that has
    no ``endobj`` after it made a run of bare heads quadratic."""

    __slots__ = ("endobj", "stream", "endstream")

    def __init__(self, data: bytes) -> None:
        self.endobj = _Cursor(lambda pos: data.find(b"endobj", pos))
        self.endstream = _Cursor(lambda pos: data.find(b"endstream", pos))

        def stream(pos: int) -> int:
            m = _STREAM_START_RE.search(data, pos)
            return -1 if m is None else m.start()

        self.stream = _Cursor(stream)


def _parse_object_at(
    data: bytes,
    pos: int,
    int_objs: dict[int, int] | None,
    scan: _ObjectScan | None = None,
) -> tuple[int, bytes, bytes | None, int] | None:
    """Parse one ``N G obj ... endobj`` starting at ``pos`` (leading
    whitespace allowed) → (num, head, stream|None, end_pos), or None.

    Stream slicing priority: direct /Length (exact, safe for binary Flate
    data) → indirect /Length resolved via the bare-int object table →
    endstream scan as the last resort.
    """
    m = _OBJ_AT_RE.match(data, pos)
    if m is None:
        return None
    if scan is None:
        scan = _ObjectScan(data)
    num = int(m.group(1))
    body_start = m.end()
    endobj = scan.endobj(body_start)
    # the first stream keyword from body_start, kept only if it ends
    # before the endobj (the search bounded there finds the same match)
    s = scan.stream(body_start)
    sm = (
        _STREAM_START_RE.match(data, s, endobj if endobj >= 0 else len(data))
        if s >= 0
        else None
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
        end = scan.endobj(start + length)
        return (num, head, stream, end + 6 if end >= 0 else len(data))
    es = scan.endstream(sm.end())
    stream = data[sm.end() : es if es >= 0 else len(data)].rstrip(b"\r\n")
    end = scan.endobj(es if es >= 0 else sm.end())
    return (num, head, stream, end + 6 if end >= 0 else len(data))


def _extract_objects(
    data: bytes, int_objs: dict[int, int] | None = None
) -> dict[int, tuple[bytes, bytes | None]]:
    """Linear regex scan of every ``N G obj ... endobj`` span →
    {obj_num: (head_bytes, stream|None)}. Later occurrences win (the
    incremental-update convention); xref-resolved objects override this
    scan entirely in parse_real_pdf."""
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    scan = _ObjectScan(data)
    pos = 0
    while True:
        m = _OBJ_HEAD_RE.search(data, pos)
        if m is None:
            break
        parsed = _parse_object_at(data, m.start(), int_objs, scan)
        if parsed is None:
            pos = m.end()
            continue
        num, head, stream, end = parsed
        objs[num] = (head, stream)
        pos = max(end, m.end())
    return objs


def _apply_predictor(head: bytes, data: bytes) -> bytes | None:
    """Reverse a /DecodeParms /Predictor transform on inflated stream data.

    Predictor 2 = TIFF horizontal differencing (8-bit components only);
    10-15 = PNG row filters (per PDF 32000 §7.4.4.4 every row carries its
    own filter byte, so all PNG predictors share one decoder — the same
    scanline unfilter the raster module uses for real PNGs).
    """
    pm = _PRED_RE.search(head)
    if pm is None:
        return data
    pred = int(pm.group(1))
    if pred <= 1:
        return data
    cm = _COLUMNS_RE.search(head)
    columns = int(cm.group(1)) if cm else 1
    om = _COLORS_RE.search(head)
    colors = int(om.group(1)) if om else 1
    bm = _BPC_RE.search(head)
    bpc = int(bm.group(1)) if bm else 8
    bpp = max((colors * bpc + 7) // 8, 1)
    rowlen = (columns * colors * bpc + 7) // 8
    if pred == 2:
        if bpc != 8 or rowlen <= 0 or len(data) % rowlen:
            return None
        out = bytearray(data)
        for r in range(0, len(out), rowlen):
            for x in range(bpp, rowlen):
                out[r + x] = (out[r + x] + out[r + x - bpp]) % 256
        return bytes(out)
    if 10 <= pred <= 15:
        from deepseek_ocr_api_rs_spark.extraction.raster import unfilter_scanlines

        return unfilter_scanlines(data, rowlen, bpp)
    return None


_FILTER_CHAIN_RE = re.compile(rb"/Filter\s*(/[A-Za-z0-9]+|\[[^\]]*\])")
_FILTER_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_EARLY_CHANGE_RE = re.compile(rb"/EarlyChange\s+(\d+)")


def lzw_decode(data: bytes, early: int = 1) -> bytes | None:
    """PDF/TIFF LZWDecode (PDF 32000 §7.4.4): MSB-first variable-width
    codes starting at 9 bits, 256 = clear table, 257 = EOD, code width
    grows one code EARLY when /EarlyChange 1 (the default every real
    writer uses). Verified against the spec's published example vector in
    tests. Returns None on malformed input."""
    out = bytearray()
    table: list[bytes] = []  # entries 258+
    prev: bytes | None = None
    width = 9
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            acc &= (1 << nbits) - 1
            if code == 256:
                table = []
                prev = None
                width = 9
                continue
            if code == 257:
                return bytes(out)
            if code < 256:
                entry = bytes([code])
            elif code - 258 < len(table):
                entry = table[code - 258]
            elif prev is not None and code == 258 + len(table):
                entry = prev + prev[:1]  # the KwKwK case
            else:
                return None
            out += entry
            # table caps at 4096 codes (12-bit max): writers either emit a
            # CLEAR (handled above) or stop adding entries — mirror both
            if prev is not None and 258 + len(table) < 4096:
                table.append(prev + entry[:1])
            prev = entry
            # next-code width: the decoder's table lags the encoder's by
            # exactly one entry at the same code index (the encoder adds
            # entry k before emitting code k+1; the decoder adds it after
            # reading code k+1), hence the +1; EarlyChange shifts the
            # switch one code earlier still
            if 258 + len(table) + 1 + early > (1 << width) and width < 12:
                width += 1
    return bytes(out)


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Fixture-side LZWDecode inverse (same width/EarlyChange rules)."""
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
            acc &= (1 << nbits) - 1

    table: dict[bytes, int] = {}
    width = 9
    emit(256, width)  # leading clear, the convention real writers follow
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table or len(nxt) == 1:
            cur = nxt
            continue
        emit(table[cur] if len(cur) > 1 else cur[0], width)
        table[nxt] = 258 + len(table)
        if 258 + len(table) + early > 4096:
            # table (nearly) full: emit CLEAR and restart — cur is a single
            # byte here, so no multi-byte prefix depends on the old table
            emit(256, width)
            table = {}
            width = 9
        elif 258 + len(table) + early > (1 << width):
            width += 1
        cur = bytes([b])
    if cur:
        emit(table[cur] if len(cur) > 1 else cur[0], width)
    emit(257, width)  # EOD
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def ascii85_decode(data: bytes) -> bytes | None:
    """ASCII85Decode (PDF 32000 §7.4.3, Adobe convention): whitespace
    ignored, 'z' = four zero bytes, '~>' terminates, final partial group
    of n chars yields n-1 bytes. Tested against stdlib base64.a85decode."""
    out = bytearray()
    group: list[int] = []
    i = 0
    n = len(data)
    while i < n:
        c = data[i]
        if c in b" \t\r\n\f\x00":
            i += 1
            continue
        if c == 0x7E:  # '~' → expect '>'
            break
        if c == 0x7A:  # 'z'
            if group:
                return None  # z inside a group is illegal
            out += b"\x00\x00\x00\x00"
            i += 1
            continue
        if not (0x21 <= c <= 0x75):
            return None
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for d in group:
                v = v * 85 + d
            if v > 0xFFFFFFFF:
                return None
            out += v.to_bytes(4, "big")
            group = []
        i += 1
    if group:
        if len(group) == 1:
            return None
        k = len(group)
        v = 0
        for d in group + [84] * (5 - k):  # pad with 'u'
            v = v * 85 + d
        out += v.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def ascii85_encode(data: bytes) -> bytes:
    """Fixture-side inverse (no 'z' shorthand — decoder handles both)."""
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i : i + 4]
        pad = 4 - len(chunk)
        v = int.from_bytes(chunk + b"\x00" * pad, "big")
        digits = []
        for _ in range(5):
            digits.append(v % 85)
            v //= 85
        out += bytes(0x21 + d for d in reversed(digits))[: 5 - pad]
    return bytes(out) + b"~>"


def asciihex_decode(data: bytes) -> bytes | None:
    """ASCIIHexDecode: hex pairs, whitespace ignored, '>' terminates, odd
    final digit padded with 0."""
    end = data.find(b">")
    body = data[: end if end >= 0 else len(data)]
    hexstr = b"".join(body.split())
    if not re.fullmatch(rb"[0-9A-Fa-f]*", hexstr):
        return None
    if len(hexstr) % 2:
        hexstr += b"0"
    return bytes.fromhex(hexstr.decode("ascii"))


def runlength_decode(data: bytes) -> bytes | None:
    """RunLengthDecode: length byte L — L<128: copy L+1 literals; L>128:
    repeat next byte 257-L times; L==128: EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        ln = data[i]
        i += 1
        if ln == 128:
            break
        if ln < 128:
            if i + ln + 1 > n:
                return None
            out += data[i : i + ln + 1]
            i += ln + 1
        else:
            if i >= n:
                return None
            out += bytes([data[i]]) * (257 - ln)
            i += 1
    return bytes(out)


def runlength_encode(data: bytes) -> bytes:
    """Fixture-side inverse (naive: literal runs + repeat runs ≥ 3)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        j = i
        while j < n and j - i < 128:
            r = 1
            while j + r < n and r < 3 and data[j + r] == data[j]:
                r += 1
            if r >= 3:
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out) + b"\x80"


# ---------------------------------------------------------------------------
# standard security handler (PDF 32000 §7.6.3): RC4 (/V 1-2, /R 2-3) with
# the EMPTY user password — the "encrypted but opens without prompting"
# form common in crawl data. AES (/V 4-5) and real passwords → None.

_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>")
_V_RE = re.compile(rb"/V\s+(\d+)")
_R_RE = re.compile(rb"/R\s+(\d+)")
_P_RE = re.compile(rb"/P\s+(-?\d+)")
_KEYLEN_RE = re.compile(rb"/Length\s+(\d+)")

# the 32-byte padding string of Algorithm 2 (PDF 32000 Table 21 note)
_PAD = bytes.fromhex(
    "28bf4e5e4e758a4164004e56fffa01082e2e00b6d0683e802f0ca9fe6453697a"
)


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _strip_nested_dicts(head: bytes) -> bytes:
    """Drop the CONTENTS of dicts nested below the object's own << >>
    (e.g. the /CF << /StdCF << ... >> >> crypt-filter tree) so top-level
    key searches (/Length) cannot match a nested dict's same-named key.

    String-aware: ``(...)`` literal strings (backslash escapes, nested
    parens) and ``<...>`` hex strings are skipped opaquely — binary /O
    //U literal values routinely contain ``<<`` / ``>>`` byte pairs, and
    counting those corrupted the depth tracking (code-review r5: a
    ``<<`` inside /O hid the top-level /Length → wrong 40-bit key →
    valid document rejected)."""
    out = bytearray()
    depth = 0
    i = 0
    n = len(head)
    while i < n:
        two = head[i : i + 2]
        c = head[i]
        if two == b"<<":
            depth += 1
            if depth <= 1:
                out += two
            i += 2
        elif two == b">>":
            if depth <= 1:
                out += two
            depth -= 1
            i += 2
        elif c == 0x28:  # "(" literal string — skip to its matching ")"
            j = i
            pdepth = 0
            while j < n:
                cj = head[j]
                if cj == 0x5C:  # backslash escape: skip next byte
                    j += 2
                    continue
                if cj == 0x28:
                    pdepth += 1
                elif cj == 0x29:
                    pdepth -= 1
                    if pdepth == 0:
                        j += 1
                        break
                j += 1
            if depth <= 1:
                out += head[i:j]
            i = j
        elif c == 0x3C:  # "<" hex string (not "<<", handled above)
            j = head.find(b">", i)
            j = n if j < 0 else j + 1
            if depth <= 1:
                out += head[i:j]
            i = j
        else:
            if depth <= 1:
                out.append(c)
            i += 1
    return bytes(out)


def _pdf_string_value(head: bytes, key: bytes) -> bytes | None:
    """Value of ``/O`` / ``/U`` style string entries: hex or literal."""
    m = re.search(rb"/" + key + rb"\s*", head)
    if m is None:
        return None
    i = m.end()
    if i < len(head) and head[i : i + 1] == b"<":
        end = head.find(b">", i)
        if end < 0:
            return None
        hexstr = b"".join(head[i + 1 : end].split())
        if len(hexstr) % 2:
            hexstr += b"0"
        return bytes.fromhex(hexstr.decode("ascii"))
    if i < len(head) and head[i : i + 1] == b"(":
        # _parse_literal_string expects to be AT the "(" (it skips it
        # itself); passing i+1 silently dropped the value's first byte
        s, _ = _parse_literal_string(head, i)
        return s
    return None


def _std_encryption_key(
    o: bytes,
    p: int,
    id0: bytes,
    r: int,
    key_bytes: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2 with the empty user password, including the R4+ step
    appending FFFFFFFF to the MD5 input when /EncryptMetadata is false
    (PDF 32000-1 §7.6.3.3 step f) — implemented below."""
    import hashlib
    import struct as _struct

    md = _PAD + o[:32] + _struct.pack("<i", p) + id0
    if r >= 4 and not encrypt_metadata:
        md += b"\xff\xff\xff\xff"
    h = hashlib.md5(md).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:key_bytes]).digest()
    return h[:key_bytes]


def _expected_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3): the /U value for the empty password."""
    import hashlib

    if r == 2:
        return _rc4(key, _PAD)
    h = hashlib.md5(_PAD + id0).digest()
    u = _rc4(key, h)
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    return u


import functools


@functools.lru_cache(maxsize=256)
def _hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (the R6 hardened hash): SHA-256 seed,
    then ≥64 rounds of AES-128-CBC over (pwd+K+udata)*64 with the digest
    algorithm re-selected each round by E's first 16 bytes mod 3, until
    the last byte of E is ≤ rounds−32. Deliberately expensive (the spec
    hardens it against brute force): a few ms per call on OpenSSL's AES.
    Validation and key unwrap use different salts, so one document never
    repeats a triple; the memo pays off only across documents that share
    salts, as the fixture writer's fixed ones do."""
    import hashlib

    from deepseek_ocr_api_rs_spark.extraction.aes import cbc_encrypt_nopad

    digests = (hashlib.sha256, hashlib.sha384, hashlib.sha512)
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    e = b"\xff"
    while i < 64 or e[-1] > i - 32:
        k1 = (password + k + udata) * 64
        e = cbc_encrypt_nopad(k[:16], k[16:32], k1)
        k = digests[sum(e[:16]) % 3](e).digest()
        i += 1
    return k[:32]


def _decrypt_v5(
    head: bytes, objs: dict[int, tuple[bytes, bytes | None]], enc_num: int
) -> bool:
    """/V 5 /R 6 (PDF 2.0, AES-256): validate the EMPTY user password via
    Algorithm 2.B over /U's validation salt, unwrap the file key from
    /UE with the key-salt hash (Algorithm 8 inverse), check /Perms
    (AES-ECB, bytes 9-11 must read 'adb'), then decrypt every stream
    with the file key directly — V5 has no per-object key step."""
    from deepseek_ocr_api_rs_spark.extraction.aes import (
        cbc_decrypt,
        cbc_decrypt_nopad,
        ecb_decrypt_block,
    )

    u = _pdf_string_value(head, b"U")
    ue = _pdf_string_value(head, b"UE")
    if u is None or len(u) < 48 or ue is None or len(ue) < 32:
        return False
    vsalt, ksalt = u[32:40], u[40:48]
    if _hash_2b(b"", vsalt) != u[:32]:
        return False  # non-empty user password: cannot decrypt
    ikey = _hash_2b(b"", ksalt)
    file_key = cbc_decrypt_nopad(ikey, bytes(16), ue[:32])
    if file_key is None:
        return False
    perms = _pdf_string_value(head, b"Perms")
    if perms is not None and len(perms) >= 16:
        if ecb_decrypt_block(file_key, perms[:16])[9:12] != b"adb":
            return False  # wrong key / tampered perms
    for num, (h, stream) in list(objs.items()):
        if stream is None or num == enc_num or _XREF_TYPE_RE.search(h):
            continue
        dec = cbc_decrypt(file_key, stream)
        objs[num] = (h, dec if dec is not None else stream)
    return True


def _object_key(file_key: bytes, num: int, gen: int = 0, aes: bool = False) -> bytes:
    """Algorithm 1 per-object key (AES appends the 'sAlT' constant)."""
    import hashlib

    data = (
        file_key
        + num.to_bytes(3, "little")
        + gen.to_bytes(2, "little")
        + (b"sAlT" if aes else b"")
    )
    return hashlib.md5(data).digest()[: min(len(file_key) + 5, 16)]


def _decrypt_objects(
    data: bytes, objs: dict[int, tuple[bytes, bytes | None]]
) -> bool:
    """Detect the /Encrypt dict; with the standard RC4 handler and an
    empty user password, decrypt every object STREAM in place (xref
    streams are never encrypted — PDF 32000 §7.5.8.2). Returns False when
    the document needs a real password or an out-of-scope handler."""
    em = _ENCRYPT_REF_RE.search(data)
    if em is None:
        return True  # not encrypted
    im = _ID_RE.search(data)
    enc = objs.get(int(em.group(1)))
    if enc is None:
        return False
    head = enc[0]
    if b"/Standard" not in head:
        return False
    vm, rm, pm = _V_RE.search(head), _R_RE.search(head), _P_RE.search(head)
    v = int(vm.group(1)) if vm else 0
    r = int(rm.group(1)) if rm else 2
    if v == 5:
        # AES-256 (R6) never consults /ID; key auth is Algorithm 2.B
        return r == 6 and _decrypt_v5(head, objs, int(em.group(1)))
    if im is None:
        return False
    use_aes = False
    if v == 4 and r == 4:
        # crypt-filter era (PDF 1.5/1.6): /CF /StdCF with /CFM AESV2
        # (AES-128-CBC, IV-prefixed streams) or V2 (RC4). Key derivation
        # (Algorithms 2/3/5) is unchanged from R3.
        if b"/AESV2" in head:
            use_aes = True
        elif b"/CFM" in head and b"/V2" not in head:
            return False  # AESV3 / None / custom CFM out of scope
    elif v not in (1, 2) or r not in (2, 3):
        return False  # unknown /V//R combination
    # top-level /Length only: a /CF << /StdCF << /Length 16 >> >> crypt-
    # filter dict that precedes the file /Length must not win the search
    km = _KEYLEN_RE.search(_strip_nested_dicts(head))
    key_bytes = (int(km.group(1)) // 8) if (km and v >= 2) else 5
    encrypt_metadata = b"/EncryptMetadata false" not in b" ".join(head.split())
    o = _pdf_string_value(head, b"O")
    u = _pdf_string_value(head, b"U")
    p = int(pm.group(1)) if pm else -1
    if o is None or u is None:
        return False
    id0 = bytes.fromhex(im.group(1).decode("ascii"))
    key = _std_encryption_key(
        o, p, id0, r, key_bytes, encrypt_metadata=encrypt_metadata
    )
    want_u = _expected_u(key, id0, r)
    if (r == 2 and want_u != u[:32]) or (r >= 3 and want_u[:16] != u[:16]):
        return False  # non-empty user password: cannot decrypt
    enc_num = int(em.group(1))
    for num, (h, stream) in list(objs.items()):
        if stream is None or num == enc_num or _XREF_TYPE_RE.search(h):
            continue
        if use_aes:
            from deepseek_ocr_api_rs_spark.extraction.aes import cbc_decrypt

            dec = cbc_decrypt(_object_key(key, num, aes=True), stream)
            objs[num] = (h, dec if dec is not None else stream)
        else:
            objs[num] = (h, _rc4(_object_key(key, num), stream))
    return True


def _decode_stream(head: bytes, stream: bytes) -> bytes | None:
    """Apply the stream's /Filter chain in order (PDF 32000 §7.4.1: the
    first named filter decodes first), then the /Predictor row unfilter
    after the decompression stage. Unknown filters (DCT/CCITT/...) →
    None, the documented out-of-scope signal."""
    fm = _FILTER_CHAIN_RE.search(head)
    if fm is None:
        return stream
    names = [n.decode("latin-1") for n in _FILTER_NAME_RE.findall(fm.group(1))]
    return _apply_filter_chain(head, stream, names)


def _apply_filter_chain(
    head: bytes, stream: bytes, names: list[str]
) -> bytes | None:
    """Apply an explicit prefix of a stream's filter chain (shared by
    _decode_stream and the image path, which stops before DCTDecode)."""
    data: bytes | None = stream
    for name in names:
        if data is None:
            return None
        if name in ("FlateDecode", "Fl"):
            try:
                data = zlib.decompress(data)
            except zlib.error:
                return None
            data = _apply_predictor(head, data)
        elif name in ("LZWDecode", "LZW"):
            em = _EARLY_CHANGE_RE.search(head)
            data = lzw_decode(data, int(em.group(1)) if em else 1)
            if data is not None:
                data = _apply_predictor(head, data)
        elif name in ("ASCII85Decode", "A85"):
            data = ascii85_decode(data)
        elif name in ("ASCIIHexDecode", "AHx"):
            data = asciihex_decode(data)
        elif name in ("RunLengthDecode", "RL"):
            data = runlength_decode(data)
        else:
            return None  # DCT/CCITT/JBIG2/JPX/Crypt: out of scope
    return data


# ---------------------------------------------------------------------------
# cross-reference resolution (classic tables + /Type /XRef streams)


_XREF_SEC_RE = re.compile(rb"[ \t\r\n]*(\d+)\s+(\d+)[ \t]*\r?\n")
_XREF_ENT_RE = re.compile(rb"[ \t\r\n]*(\d{10})\s+(\d{5})\s+([nf])")


def _parse_xref_table(
    data: bytes, pos: int
) -> tuple[dict[int, int], int | None]:
    """Classic ``xref`` table at ``pos`` → ({obj: offset}, /Prev offset)."""
    pos += 4  # past "xref"
    offsets: dict[int, int] = {}
    while True:
        sm = _XREF_SEC_RE.match(data, pos)
        if sm is None:
            break
        start, count = int(sm.group(1)), int(sm.group(2))
        pos = sm.end()
        ok = True
        for i in range(count):
            em = _XREF_ENT_RE.match(data, pos)
            if em is None:
                ok = False
                break
            if em.group(3) == b"n" and start + i > 0:
                offsets[start + i] = int(em.group(1))
            pos = em.end()
        if not ok:
            break
    prev = None
    tpos = data.find(b"trailer", pos)
    if 0 <= tpos < pos + 64:
        pm = _PREV_RE.search(data, tpos, tpos + 2048)
        if pm is not None:
            prev = int(pm.group(1))
    return offsets, prev


def _parse_xref_stream(
    data: bytes, pos: int, int_objs: dict[int, int] | None
) -> tuple[dict[int, int], dict[int, tuple[int, int]], int | None]:
    """/Type /XRef stream at ``pos`` → ({obj: offset} for type-1 entries,
    {obj: (objstm, idx)} for type-2 entries, /Prev offset). PDF 32000
    §7.5.8: binary rows of /W-sized big-endian fields, usually Flate +
    PNG-predictor encoded."""
    parsed = _parse_object_at(data, pos, int_objs)
    if parsed is None:
        return {}, {}, None
    _num, head, stream, _end = parsed
    if stream is None or not _XREF_TYPE_RE.search(head):
        return {}, {}, None
    content = _decode_stream(head, stream)
    if content is None:
        return {}, {}, None
    wm = _W_RE.search(head)
    if wm is None:
        return {}, {}, None
    try:
        w = [int(x) for x in wm.group(1).split()]
    except ValueError:
        return {}, {}, None
    if len(w) < 3 or any(x < 0 for x in w[:3]):
        return {}, {}, None
    w0, w1, w2 = w[:3]
    rowlen = w0 + w1 + w2
    if rowlen == 0:
        return {}, {}, None
    pairs: list[tuple[int, int]] = []
    im = _INDEX_RE.search(head)
    if im is not None:
        try:
            ints = [int(x) for x in im.group(1).split()]
            pairs = list(zip(ints[0::2], ints[1::2]))
        except ValueError:
            pairs = []
    if not pairs:
        sm = _SIZE_RE.search(head)
        if sm is None:
            return {}, {}, None
        pairs = [(0, int(sm.group(1)))]
    offsets: dict[int, int] = {}
    in_stream: dict[int, tuple[int, int]] = {}
    p = 0
    for start, count in pairs:
        for i in range(count):
            row = content[p : p + rowlen]
            p += rowlen
            if len(row) < rowlen:
                break
            ftype = int.from_bytes(row[:w0], "big") if w0 else 1
            f1 = int.from_bytes(row[w0 : w0 + w1], "big")
            f2 = int.from_bytes(row[w0 + w1 :], "big")
            if ftype == 1:
                offsets[start + i] = f1
            elif ftype == 2:
                in_stream[start + i] = (f1, f2)
    pm = _PREV_RE.search(head)
    return offsets, in_stream, (int(pm.group(1)) if pm else None)


def _xref_objects(
    data: bytes, int_objs: dict[int, int] | None
) -> tuple[dict[int, tuple[bytes, bytes | None]], set[int]]:
    """Objects resolved via the startxref chain. Returns (objects,
    objstm_members): ``objects`` are top-level (type-1) objects parsed at
    their recorded offsets; ``objstm_members`` are object numbers the xref
    declares as living INSIDE an object stream (type-2) — those override
    any same-numbered top-level scan hit when the ObjStms are expanded.

    The newest section (the one startxref points to) wins; /Prev sections
    only contribute entries not already seen — the incremental-update rule.
    """
    last = None
    for last in _STARTXREF_RE.finditer(data):
        pass
    if last is None:
        return {}, set()
    offsets: dict[int, int] = {}
    members: set[int] = set()
    off = int(last.group(1))
    seen: set[int] = set()
    for _ in range(64):  # chain guard against /Prev cycles
        if off in seen or not (0 <= off < len(data)):
            break
        seen.add(off)
        ws = off
        while ws < len(data) and data[ws : ws + 1] in _WHITESPACE:
            ws += 1
        if data[ws : ws + 4] == b"xref":
            sec, prev = _parse_xref_table(data, ws)
            instream: dict[int, tuple[int, int]] = {}
        else:
            sec, instream, prev = _parse_xref_stream(data, ws, int_objs)
        for n, o in sec.items():
            offsets.setdefault(n, o)
        for n in instream:
            if n not in offsets:
                members.add(n)
        if prev is None:
            break
        off = prev
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    for num, o in offsets.items():
        parsed = _parse_object_at(data, o, int_objs)
        if parsed is not None and parsed[0] == num:
            objs[num] = (parsed[1], parsed[2])
    return objs, members


_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")
_INT_RE = re.compile(rb"\d+")


def _expand_object_streams(
    objs: dict[int, tuple[bytes, bytes | None]],
    authoritative: set[int] | None = None,
) -> None:
    """Inline objects stored inside /Type /ObjStm compressed object streams
    (PDF 1.5+ — modern writers put page/catalog DICTS there, so a parser
    without this sees no page tree at all). Layout per PDF 32000 §7.5.7:
    /N pairs of (objnum, offset) ints, then the objects back to back
    starting at /First. Contained objects are dict-only (no streams).
    Existing top-level objects win on number collision UNLESS the xref
    chain declared the number as objstm-resident (``authoritative``) —
    then the stream copy is the real one and any same-numbered top-level
    scan hit (stale or decoy) is overridden."""
    force = authoritative or set()
    for num in list(objs):
        head, stream = objs[num]
        if stream is None or not _OBJSTM_RE.search(head):
            continue
        data = _decode_stream(head, stream)
        if data is None:
            continue
        nm = re.search(rb"/N\s+(\d+)", head)
        fm = re.search(rb"/First\s+(\d+)", head)
        if nm is None or fm is None:
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        header_ints = [int(x) for x in _INT_RE.findall(data[:first])]
        pairs = list(zip(header_ints[0::2], header_ints[1::2]))[:n]
        for i, (objnum, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < len(pairs) else len(data) - first
            body = data[first + off : first + end]
            if objnum not in objs or objnum in force:
                objs[objnum] = (body, None)


# ---------------------------------------------------------------------------
# content-stream tokenizer + text decoding


def _parse_literal_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a ``(...)`` literal string starting at the '(' — PDF 32000 §7.3.4.2:
    nested parens, backslash escapes incl. up-to-3-digit octal, line folds."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth > 0:
        c = data[i : i + 1]
        if c == b"\\":
            nxt = data[i + 1 : i + 2]
            if nxt and nxt in b"nrtbf":
                out += {"n": b"\n", "r": b"\r", "t": b"\t", "b": b"\b", "f": b"\f"}[
                    nxt.decode()
                ]
                i += 2
            elif nxt in (b"(", b")", b"\\"):
                out += nxt
                i += 2
            elif nxt and nxt in b"01234567":
                j = i + 1
                oct_digits = b""
                while j < n and len(oct_digits) < 3 and data[j : j + 1] in b"01234567":
                    oct_digits += data[j : j + 1]
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = j
            elif nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                if nxt == b"\r" and data[i : i + 1] == b"\n":
                    i += 1
            else:
                i += 2  # unknown escape: drop backslash
        elif c == b"(":
            depth += 1
            out += c
            i += 1
        elif c == b")":
            depth -= 1
            if depth > 0:
                out += c
            i += 1
        else:
            out += c
            i += 1
    return bytes(out), i


def _tokenize(content: bytes):
    """Yield ('str', bytes) | ('num', float) | ('name', str) | ('op', str)."""
    i, n = 0, len(content)
    while i < n:
        c = content[i : i + 1]
        if c in _WHITESPACE:
            i += 1
        elif c == b"%":
            j = content.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif c == b"(":
            s, i = _parse_literal_string(content, i)
            yield ("str", s)
        elif c == b"<":
            if content[i : i + 2] == b"<<":
                yield ("op", "<<")
                i += 2
            else:
                j = content.find(b">", i)
                j = n if j < 0 else j
                hx = re.sub(rb"\s", b"", content[i + 1 : j])
                if len(hx) % 2:
                    hx += b"0"
                try:
                    yield ("str", bytes.fromhex(hx.decode("ascii")))
                except ValueError:
                    pass
                i = j + 1
        elif c == b">":
            yield ("op", ">>")
            i += 2
        elif c in b"[]{}":
            yield ("op", c.decode())
            i += 1
        elif c == b"/":
            j = i + 1
            while j < n and content[j : j + 1] not in _WHITESPACE + _DELIMS:
                j += 1
            yield ("name", content[i + 1 : j].decode("latin-1"))
            i = j
        elif c in b"+-.0123456789":
            j = i + 1
            while j < n and content[j : j + 1] in b"+-.0123456789eE":
                j += 1
            try:
                yield ("num", float(content[i:j]))
            except ValueError:
                pass
            i = j
        else:
            j = i + 1
            while j < n and content[j : j + 1] not in _WHITESPACE + _DELIMS:
                j += 1
            op = content[i:j].decode("latin-1", "replace")
            if op == "BI":
                # inline image (PDF 32000 §8.9.7): BI <dict> ID <binary> EI.
                # The binary payload is NOT PDF syntax — unbalanced parens
                # or stray '<' inside it would corrupt the token stream —
                # so skip the whole object: find the ID operator, then the
                # first whitespace-EI-delimiter sequence after the data.
                m = _INLINE_ID_RE.search(content, j)
                if m is None:
                    i = n
                    continue
                t = _INLINE_EI_RE.search(content, m.end())
                i = n if t is None else t.end()
                continue
            yield ("op", op)
            i = j


# ---------------------------------------------------------------------------
# /ToUnicode CMaps (PDF 32000 §9.10.3)


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_CODESPACE_RE = re.compile(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>")
_BF_PAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_BF_RANGE_ARR_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\]"
)
_BF_RANGE_SCALAR_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>"
)
_HEX_ITEM_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _utf16_char(dst_hex: bytes, k: int = 0) -> str:
    """UTF-16BE target hex → str, with the bfrange increment applied to the
    LAST code unit (the spec's 'last byte incremented' rule lifted to the
    16-bit unit, the convention real writers follow)."""
    b = bytes.fromhex(dst_hex.decode("ascii"))
    if len(b) % 2:
        b = b"\x00" + b
    if k and len(b) >= 2:
        last = (int.from_bytes(b[-2:], "big") + k) & 0xFFFF
        b = b[:-2] + last.to_bytes(2, "big")
    # surrogatepass, not replace: a lone surrogate UNIT here may be half of
    # a pair split across two codes — _decode_text re-combines pairs after
    # assembly (the only invalid UTF-16BE sequences are surrogate-related,
    # so this never raises; odd length was padded above)
    return b.decode("utf-16-be", "surrogatepass")


class _CMap:
    """code → str mapping with lazily-evaluated bfranges (an identity
    bfrange <0000><FFFF><0000> must NOT materialize 65536 dict entries per
    document)."""

    __slots__ = ("code_len", "chars", "ranges")

    def __init__(self, code_len: int, chars: dict[int, str],
                 ranges: list[tuple[int, int, bytes]]):
        self.code_len = code_len
        self.chars = chars
        self.ranges = ranges

    def lookup(self, code: int) -> str:
        ch = self.chars.get(code)
        if ch is not None:
            return ch
        for lo, hi, dst_hex in self.ranges:
            if lo <= code <= hi:
                return _utf16_char(dst_hex, code - lo)
        # identity fallback — Identity-H et al. without explicit mapping
        return chr(code) if code < 0x110000 else "�"


# Predefined CJK CMaps whose CODE SPACE is a national text encoding
# (PDF 32000 §9.7.5.2 Table 118 names; the byte→character structure of
# each CMap is the listed encoding itself, so Python's stdlib codecs
# decode the shown bytes to Unicode with no Adobe CID tables — VERDICT
# r6 "What's missing" #1). H/V variants differ only in writing
# direction, not byte semantics.
_PREDEF_CMAP_CODECS: dict[bytes, str] = {
    # Adobe-Japan1: RKSJ = Shift-JIS code space; EUC = EUC-JP
    b"90ms-RKSJ-H": "shift_jis", b"90ms-RKSJ-V": "shift_jis",
    b"90msp-RKSJ-H": "shift_jis", b"90msp-RKSJ-V": "shift_jis",
    b"90pv-RKSJ-H": "shift_jis",
    b"Ext-RKSJ-H": "shift_jis", b"Ext-RKSJ-V": "shift_jis",
    b"EUC-H": "euc_jp", b"EUC-V": "euc_jp",
    # Adobe-GB1: GB-EUC = GB2312-EUC; GBK-EUC = GBK; GBK2K = GB18030
    b"GB-EUC-H": "gb2312", b"GB-EUC-V": "gb2312",
    b"GBK-EUC-H": "gbk", b"GBK-EUC-V": "gbk",
    b"GBKp-EUC-H": "gbk", b"GBKp-EUC-V": "gbk",
    b"GBK2K-H": "gb18030", b"GBK2K-V": "gb18030",
    # Adobe-CNS1: B5pc = Big5; ETen-B5 = Big5 + ETen extensions (cp950)
    b"B5pc-H": "big5", b"B5pc-V": "big5",
    b"ETen-B5-H": "cp950", b"ETen-B5-V": "cp950",
    # Adobe-Korea1: KSC-EUC = EUC-KR; KSCms-UHC = UHC (cp949)
    b"KSC-EUC-H": "euc_kr", b"KSC-EUC-V": "euc_kr",
    b"KSCms-UHC-H": "cp949", b"KSCms-UHC-V": "cp949",
    b"KSCms-UHC-HW-H": "cp949", b"KSCms-UHC-HW-V": "cp949",
}


class _CodecFont:
    """Type0 font on a predefined non-Unicode CJK CMap from
    ``_PREDEF_CMAP_CODECS``: shown strings are the national encoding's
    bytes, decoded whole (variable-length codes — NOT the fixed
    ``code_len`` stepping of ``_CMap``) via the stdlib codec. Decode is
    STRICT: bytes outside the encoding flag the span undecodable at the
    show operator, preserving the never-mojibake contract for the
    (rare) CMaps or corrupt streams the codec cannot represent."""

    __slots__ = ("codec",)
    code_len = 2  # nominal (CJK payload is 2-byte); decode_raw is used

    def __init__(self, codec: str):
        self.codec = codec

    def decode_raw(self, raw: bytes) -> str:
        return raw.decode(self.codec)  # strict


class _UndecodableFont:
    """Type0 (CID-keyed) font whose /Encoding is a predefined non-Unicode
    CMap (90ms-RKSJ-H, GBK-EUC-H, … from the Adobe-Japan1/GB1/CNS1/Korea1
    orderings) and which carries no /ToUnicode stream: decoding needs the
    published code→CID→Unicode tables this parser does not ship, so shown
    strings are FLAGGED instead of emitted as mojibake — the span carries
    ``undecodable: True`` with empty text, and the pdf branch surfaces it
    as ``n_blocks_accepted < n_blocks_total`` (block_accept_rate < 1 is
    the per-doc undecodable-font metric). Reference contract: accept any
    fetched document, never garble (crates/server/src/generation.rs:276-305)."""

    __slots__ = ()
    code_len = 2

    def lookup(self, code: int) -> str:
        return ""


class _SimpleEncoding:
    """Single-byte font decoder (Annex D base encoding + /Differences).

    Duck-types ``_CMap``'s (code_len, lookup) interface so ``_decode_text``
    and the span interpreter treat both uniformly."""

    __slots__ = ("table",)
    code_len = 1

    def __init__(self, table: list[str]):
        self.table = table

    def lookup(self, code: int) -> str:
        return self.table[code] if 0 <= code < 256 else "•"


def _font_encoding_table(
    objs: dict[int, tuple[bytes, bytes | None]], font_head: bytes
) -> list[str] | None:
    """Resolve a simple font's /Encoding entry (PDF 32000 §9.6.6) →
    256-char table, or None when absent/unrecognized (→ latin-1 path).
    Handles the base-encoding NAME form, the inline DICT form, and an
    indirect reference to a dict; dict form = /BaseEncoding (default
    StandardEncoding) patched by /Differences."""
    from deepseek_ocr_api_rs_spark.extraction import pdf_encodings as _pe

    enc_body = None
    dm = _ENCODING_DICT_RE.search(font_head)
    if dm is not None:
        enc_body = dm.group(1)
    else:
        rm = _ENCODING_REF_RE.search(font_head)
        if rm is not None:
            ref = objs.get(int(rm.group(1)))
            if ref is not None:
                enc_body = ref[0]
        else:
            nm = _ENCODING_NAME_RE.search(font_head)
            if nm is not None:
                return _pe.base_encoding_table(nm.group(1).decode("latin-1"))
            return None
    if enc_body is None:
        return None
    bm = _BASE_ENC_RE.search(enc_body)
    base = None
    if bm is not None:
        base = _pe.base_encoding_table(bm.group(1).decode("latin-1"))
    if base is None:
        base = _pe.standard_table()
    dfm = _DIFFERENCES_RE.search(enc_body)
    if dfm is not None:
        base = _pe.apply_differences(base, dfm.group(1))
    return base


def _parse_cmap(cm: bytes) -> _CMap | None:
    csm = _CODESPACE_RE.search(cm)
    code_len = len(csm.group(1)) // 2 if csm else 2
    if code_len < 1 or code_len > 2:
        return None  # wider codespaces out of scope (documented)
    chars: dict[int, str] = {}
    ranges: list[tuple[int, int, bytes]] = []
    for body in _BFCHAR_RE.findall(cm):
        for src, dst in _BF_PAIR_RE.findall(body):
            chars[int(src, 16)] = _utf16_char(dst)
    for body in _BFRANGE_RE.findall(cm):
        consumed: list[tuple[int, int]] = []
        for m in _BF_RANGE_ARR_RE.finditer(body):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            for k, dst in enumerate(_HEX_ITEM_RE.findall(m.group(3))):
                if lo + k <= hi:
                    chars[lo + k] = _utf16_char(dst)
            consumed.append((m.start(), m.end()))
        for m in _BF_RANGE_SCALAR_RE.finditer(body):
            # skip scalar matches that fall inside an array entry
            if any(s <= m.start() < e for s, e in consumed):
                continue
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            if hi >= lo:
                ranges.append((lo, hi, m.group(3)))
    return _CMap(code_len, chars, ranges)


def _page_fonts(
    objs: dict[int, tuple[bytes, bytes | None]], page_head: bytes
) -> dict[str, _CMap | _SimpleEncoding]:
    """Resolve the page's /Resources /Font dict (direct or indirect) →
    {resource name: decoder}. Priority per font: /ToUnicode CMap (the
    authoritative text mapping) → Type0 predefined-CMap handling
    (identity/UCS2/UTF16 families decode as 2-byte codes; other CID
    orderings are flagged undecodable, never mojibake) → /Encoding
    simple-font table (Annex D base name and/or /Differences) → absent,
    which decodes as latin-1 (the classic-writer path)."""
    res = page_head
    rm = _RESOURCES_REF_RE.search(page_head)
    if rm is not None:
        ref = objs.get(int(rm.group(1)))
        if ref is not None:
            res = ref[0]
    fm = _FONT_DICT_RE.search(res)
    if fm is not None:
        body = fm.group(1)
    else:
        # /Font as an indirect reference to the dict object
        rm2 = _FONT_REF_RE.search(res)
        if rm2 is None:
            return {}
        ref2 = objs.get(int(rm2.group(1)))
        if ref2 is None:
            return {}
        body = ref2[0]
    fonts: dict[str, _CMap | _SimpleEncoding] = {}
    for name, ref in _FONT_ENTRY_RE.findall(body):
        fobj = objs.get(int(ref))
        if fobj is None:
            continue
        tm = _TOUNICODE_RE.search(fobj[0])
        if tm is not None:
            cmobj = objs.get(int(tm.group(1)))
            if cmobj is not None and cmobj[1] is not None:
                cm_data = _decode_stream(cmobj[0], cmobj[1])
                if cm_data is not None:
                    cmap = _parse_cmap(cm_data)
                    if cmap is not None:
                        fonts[name.decode("latin-1")] = cmap
                        continue
        if _TYPE0_RE.search(fobj[0]):
            # CID-keyed font without /ToUnicode (PDF 32000 §9.7.4): the
            # /Encoding names a predefined CMap. Identity-H/V map 2-byte
            # codes straight through (code == CID; writers that use this
            # form with Unicode-ordered CIDs decode correctly), and the
            # UCS2/UTF16 families (UniJIS-UCS2-H, UniGB-UTF16-H, …) key
            # the codespace BY Unicode value, so both decode as 2-byte
            # codes with the identity fallback + surrogate recombine.
            # The common non-Unicode predefined CMaps (90ms-RKSJ,
            # GBK-EUC, ETen-B5, KSC-EUC families) have national text
            # encodings AS their code space → stdlib-codec decode
            # (_PREDEF_CMAP_CODECS). Anything else still needs Adobe's
            # CID tables → flagged undecodable, never latin-1 mojibake.
            em = _ENC_NAME_RE.search(fobj[0])
            enc_name = em.group(1) if em is not None else b""
            if (
                enc_name in (b"Identity-H", b"Identity-V")
                or b"UCS2" in enc_name
                or b"UTF16" in enc_name
            ):
                fonts[name.decode("latin-1")] = _CMap(2, {}, [])
            elif enc_name in _PREDEF_CMAP_CODECS:
                fonts[name.decode("latin-1")] = _CodecFont(
                    _PREDEF_CMAP_CODECS[enc_name]
                )
            else:
                fonts[name.decode("latin-1")] = _UndecodableFont()
            continue
        table = _font_encoding_table(objs, fobj[0])
        if table is not None:
            fonts[name.decode("latin-1")] = _SimpleEncoding(table)
    return fonts


def _page_xobjects(
    objs: dict[int, tuple[bytes, bytes | None]], page_head: bytes
) -> dict[str, int]:
    """Resolve the page's (or a form's) /Resources /XObject dict —
    direct or indirect — to {resource name: object number}."""
    res = page_head
    rm = _RESOURCES_REF_RE.search(page_head)
    if rm is not None:
        ref = objs.get(int(rm.group(1)))
        if ref is not None:
            res = ref[0]
    xm = _XOBJ_DICT_RE.search(res)
    if xm is not None:
        body = xm.group(1)
    else:
        rm2 = _XOBJ_REF_RE.search(res)
        if rm2 is None:
            return {}
        ref2 = objs.get(int(rm2.group(1)))
        if ref2 is None:
            return {}
        body = ref2[0]
    return {
        name.decode("latin-1"): int(ref)
        for name, ref in _FONT_ENTRY_RE.findall(body)
    }


def _decode_text(
    raw: bytes, cmap: _CMap | _SimpleEncoding | None = None
) -> str:
    if cmap is None:
        return raw.decode("latin-1")
    step = cmap.code_len
    n = len(raw)
    out: list[str] = []
    i = 0
    while i + step <= n:
        out.append(cmap.lookup(int.from_bytes(raw[i : i + step], "big")))
        i += step
    if i < n:  # trailing partial code: latin-1 salvage
        out.append(raw[i:].decode("latin-1"))
    s = "".join(out)
    if step == 2:
        # 2-byte codes are UTF-16BE units: a high+low surrogate pair decoded
        # unit-by-unit must re-combine into the astral character (lone
        # surrogates from malformed input survive via surrogatepass)
        s = s.encode("utf-16-be", "surrogatepass").decode(
            "utf-16-be", "surrogatepass"
        )
    return s


def _page_spans(
    content: bytes,
    page: int,
    page_height: float,
    fonts: dict[str, _CMap | _SimpleEncoding] | None = None,
    objs: dict[int, tuple[bytes, bytes | None]] | None = None,
    xobjects: dict[str, int] | None = None,
    depth: int = 0,
) -> list[dict]:
    """Interpret one page's content stream(s) → positioned span dicts.

    Text state machine per PDF 32000 §9.4: line matrix updated by Td/TD/Tm/T*,
    glyph cursor advanced after each show operator so consecutive Tj on one
    line land on the same quantized visual line with increasing x. Shown
    strings are decoded through the current font's ToUnicode CMap when one
    exists, latin-1 otherwise.

    ``Do`` on a /Subtype /Form XObject (§8.10) recurses into the form's
    content with the form's own fonts/xobjects layered over the page's
    (writers routinely rely on page-resource fallback), applying the
    /Matrix TRANSLATION (e, f) to the nested spans — scale/rotation form
    matrices are out of scope (translation-only covers the stamped
    letterhead/overlay family that dominates real documents). Recursion
    is depth-capped so a self-referencing form cannot loop."""
    spans: list[dict] = []
    stack: list[tuple] = []
    arr: list[tuple] | None = None
    font_size = 12.0
    leading = 0.0
    line_x = line_y = 0.0  # line matrix origin
    cur_x = cur_y = 0.0  # glyph cursor
    cur_cmap: _CMap | _SimpleEncoding | None = None

    def nums(k: int) -> list[float]:
        vals = [v for t, v in stack if t == "num"]
        return vals[-k:] if len(vals) >= k else []

    def emit(text: str, kern_advance: float = 0.0) -> None:
        nonlocal cur_x
        if not text:
            return
        w = CHAR_WIDTH_EM * font_size * len(text) + kern_advance
        y_top = page_height - cur_y
        spans.append(
            {
                "page": page,
                "x0": round(cur_x, 2),
                "y0": round(y_top - font_size, 2),
                "x1": round(cur_x + w, 2),
                "y1": round(y_top, 2),
                "text": text,
            }
        )
        cur_x += w

    def emit_undecodable(n_codes: int) -> None:
        # a show operator under an _UndecodableFont: the glyphs exist on
        # the page but cannot be mapped to text — emit an empty-text span
        # flagged undecodable (counted total-but-not-accepted upstream)
        # and advance the cursor past the suppressed glyph run
        nonlocal cur_x
        if n_codes <= 0:
            return
        w = CHAR_WIDTH_EM * font_size * n_codes
        y_top = page_height - cur_y
        spans.append(
            {
                "page": page,
                "x0": round(cur_x, 2),
                "y0": round(y_top - font_size, 2),
                "x1": round(cur_x + w, 2),
                "y1": round(y_top, 2),
                "text": "",
                "undecodable": True,
            }
        )
        cur_x += w

    def newline() -> None:
        nonlocal line_y, cur_x, cur_y
        line_y -= leading
        cur_x, cur_y = line_x, line_y

    for typ, val in _tokenize(content):
        if typ != "op":
            (arr if arr is not None else stack).append((typ, val))
            continue
        op = val
        if op == "[":
            arr = []
            continue
        if op == "]":
            stack.append(("arr", arr or []))
            arr = None
            continue
        if op == "BT":
            line_x = line_y = cur_x = cur_y = 0.0
        elif op == "Tf":
            v = nums(1)
            if v:
                font_size = v[0]
            if fonts:
                names = [v2 for t2, v2 in stack if t2 == "name"]
                if names:
                    cur_cmap = fonts.get(names[-1])
        elif op == "TL":
            v = nums(1)
            if v:
                leading = v[0]
        elif op in ("Td", "TD"):
            v = nums(2)
            if len(v) == 2:
                if op == "TD":
                    leading = -v[1]
                line_x += v[0]
                line_y += v[1]
                cur_x, cur_y = line_x, line_y
        elif op == "Tm":
            v = nums(6)
            if len(v) == 6:
                line_x, line_y = v[4], v[5]
                cur_x, cur_y = line_x, line_y
        elif op == "T*":
            newline()
        elif op == "Do" and xobjects and objs is not None and depth < 8:
            names = [v2 for t2, v2 in stack if t2 == "name"]
            xnum = xobjects.get(names[-1]) if names else None
            xobj = objs.get(xnum) if xnum is not None else None
            if (
                xobj is not None
                and xobj[1] is not None
                and _FORM_TYPE_RE.search(xobj[0])
            ):
                decoded = _decode_stream(xobj[0], xobj[1])
                if decoded is not None:
                    e_off = f_off = 0.0
                    mm = _MATRIX_RE.search(xobj[0])
                    if mm is not None:
                        try:
                            vals = [float(x) for x in mm.group(1).split()]
                            if len(vals) == 6:
                                e_off, f_off = vals[4], vals[5]
                        except ValueError:
                            pass
                    sub_fonts = dict(fonts or {})
                    sub_fonts.update(_page_fonts(objs, xobj[0]))
                    sub_x = dict(xobjects)
                    sub_x.update(_page_xobjects(objs, xobj[0]))
                    for s in _page_spans(
                        decoded, page, page_height, sub_fonts,
                        objs=objs, xobjects=sub_x, depth=depth + 1,
                    ):
                        s["x0"] = round(s["x0"] + e_off, 2)
                        s["x1"] = round(s["x1"] + e_off, 2)
                        # device y = inner y + f  ⇒  top-down y shifts by −f
                        s["y0"] = round(s["y0"] - f_off, 2)
                        s["y1"] = round(s["y1"] - f_off, 2)
                        spans.append(s)
        elif op in ("Tj", "'", '"'):
            if op in ("'", '"'):
                newline()
            raws = [v for t, v in stack if t == "str"]
            if raws:
                if isinstance(cur_cmap, _UndecodableFont):
                    emit_undecodable((len(raws[-1]) + 1) // 2)
                elif isinstance(cur_cmap, _CodecFont):
                    try:
                        emit(cur_cmap.decode_raw(raws[-1]))
                    except UnicodeDecodeError:
                        emit_undecodable((len(raws[-1]) + 1) // 2)
                else:
                    emit(_decode_text(raws[-1], cur_cmap))
        elif op == "TJ":
            arrs = [v for t, v in stack if t == "arr"]
            if arrs:
                if isinstance(cur_cmap, _UndecodableFont):
                    n_bytes = sum(len(v) for t, v in arrs[-1] if t == "str")
                    emit_undecodable((n_bytes + 1) // 2)
                elif isinstance(cur_cmap, _CodecFont):
                    # join the chunks' bytes before decoding: a writer may
                    # split a TJ between (not within) multi-byte codes,
                    # and the joined form decodes identically either way
                    raw = b"".join(v for t, v in arrs[-1] if t == "str")
                    kern = sum(
                        -v / 1000.0 * font_size for t, v in arrs[-1] if t == "num"
                    )
                    try:
                        emit(cur_cmap.decode_raw(raw), kern_advance=kern)
                    except UnicodeDecodeError:
                        emit_undecodable((len(raw) + 1) // 2)
                else:
                    text = "".join(
                        _decode_text(v, cur_cmap) for t, v in arrs[-1] if t == "str"
                    )
                    kern = sum(
                        -v / 1000.0 * font_size for t, v in arrs[-1] if t == "num"
                    )
                    emit(text, kern_advance=kern)
        stack.clear()
    return spans


def _mediabox(head: bytes, fallback: tuple[float, float]) -> tuple[float, float]:
    m = _MEDIABOX_RE.search(head)
    if m is None:
        return fallback
    try:
        a, b, c, d = [float(x) for x in m.group(1).split()[:4]]
        return (c - a, d - b)
    except (ValueError, IndexError):
        return fallback


def parse_real_pdf(data: bytes) -> tuple[float, list[dict]] | None:
    """Real PDF bytes → (page_width, spans) in ``pdf_spans`` layout format,
    or None if no page structure / text is recoverable (→ error branch).

    Object resolution order: linear regex scan as the robust base, then the
    startxref chain (classic tables + xref streams) OVERLAYS it — xref-
    recorded offsets are authoritative, so stale same-numbered copies or
    decoy bytes elsewhere in the file cannot shadow the live object."""
    int_objs = _scan_int_objects(data)
    objs = _extract_objects(data, int_objs)
    xobjs, objstm_members = _xref_objects(data, int_objs)
    objs.update(xobjs)
    if not objs:
        return None
    # decrypt BEFORE ObjStm expansion: object streams are encrypted as
    # streams; their member objects inherit that single decryption
    if not _decrypt_objects(data, objs):
        return None
    _expand_object_streams(objs, authoritative=objstm_members)
    pages_nodes = sorted(
        n for n, (h, _) in objs.items() if _PAGES_TYPE_RE.search(h)
    )
    kid_order: list[int] = []
    root_wh = (DEFAULT_PAGE_WIDTH, DEFAULT_PAGE_HEIGHT)
    for n in pages_nodes:
        head = objs[n][0]
        root_wh = _mediabox(head, root_wh)
        km = _KIDS_RE.search(head)
        if km:
            kid_order += [int(x) for x in _REF_RE.findall(km.group(1))]
    page_objs = {n for n, (h, _) in objs.items() if _PAGE_TYPE_RE.search(h)}
    ordered = [n for n in kid_order if n in page_objs]
    ordered += sorted(page_objs - set(ordered))
    if not ordered:
        return None

    spans: list[dict] = []
    page_width = None
    for page_idx, pnum in enumerate(ordered):
        head = objs[pnum][0]
        w, h = _mediabox(head, root_wh)
        if page_width is None:
            page_width = w
        cm = _CONTENTS_RE.search(head)
        if cm is None:
            continue
        fonts = _page_fonts(objs, head)
        content = b""
        for ref in (int(x) for x in _REF_RE.findall(cm.group(1))):
            if ref not in objs:
                continue
            chead, cstream = objs[ref]
            if cstream is None:
                continue
            decoded = _decode_stream(chead, cstream)
            if decoded is not None:
                content += decoded + b"\n"
        spans.extend(
            _page_spans(
                content, page_idx, h, fonts,
                objs=objs, xobjects=_page_xobjects(objs, head),
            )
        )
    if not spans:
        return None
    return (page_width or DEFAULT_PAGE_WIDTH, spans)


_ANNOTS_ARR_RE = re.compile(rb"/Annots\s*\[([^\]]*)\]")
_ANNOTS_REF_RE = re.compile(rb"/Annots\s+(\d+)\s+\d+\s+R")
_LINK_TYPE_RE = re.compile(rb"/Subtype\s*/Link\b")
_RECT_RE = re.compile(rb"/Rect\s*\[([^\]]*)\]")
_URI_LIT_RE = re.compile(rb"/URI\s*\(")
_URI_HEX_RE = re.compile(rb"/URI\s*<([0-9A-Fa-f\s]+)>")


def extract_pdf_links(data: bytes) -> list[dict] | None:
    """Real PDF bytes → link annotations: [{page, x0, y0, x1, y1, uri}]
    in TOP-DOWN page coords (PDF 32000 §12.5.6.5: /Subtype /Link with a
    /A << /S /URI >> action). The link graph of a crawled PDF is
    pipeline-relevant the same way <a href> is for HTML. Pages resolve
    through the same xref-overlaid object scan as parse_real_pdf;
    annotations referenced via /Annots arrays (direct or indirect).
    Returns [] for a PDF without links, None if no page structure."""
    int_objs = _scan_int_objects(data)
    objs = _extract_objects(data, int_objs)
    xobjs, objstm_members = _xref_objects(data, int_objs)
    objs.update(xobjs)
    if not objs:
        return None
    if not _decrypt_objects(data, objs):
        return None
    _expand_object_streams(objs, authoritative=objstm_members)
    pages_nodes = sorted(
        n for n, (h, _) in objs.items() if _PAGES_TYPE_RE.search(h)
    )
    kid_order: list[int] = []
    root_wh = (DEFAULT_PAGE_WIDTH, DEFAULT_PAGE_HEIGHT)
    for n in pages_nodes:
        head = objs[n][0]
        root_wh = _mediabox(head, root_wh)
        km = _KIDS_RE.search(head)
        if km:
            kid_order += [int(x) for x in _REF_RE.findall(km.group(1))]
    page_objs = {n for n, (h, _) in objs.items() if _PAGE_TYPE_RE.search(h)}
    ordered = [n for n in kid_order if n in page_objs]
    ordered += sorted(page_objs - set(ordered))
    if not ordered:
        return None
    links: list[dict] = []
    for page_idx, pnum in enumerate(ordered):
        head = objs[pnum][0]
        _, h = _mediabox(head, root_wh)
        am = _ANNOTS_ARR_RE.search(head)
        if am is not None:
            refs = [int(x) for x in _REF_RE.findall(am.group(1))]
        else:
            rm = _ANNOTS_REF_RE.search(head)
            if rm is None:
                continue
            arr = objs.get(int(rm.group(1)))
            if arr is None:
                continue
            refs = [int(x) for x in _REF_RE.findall(arr[0])]
        for ref in refs:
            aobj = objs.get(ref)
            if aobj is None or not _LINK_TYPE_RE.search(aobj[0]):
                continue
            ahead = aobj[0]
            rm2 = _RECT_RE.search(ahead)
            if rm2 is None:
                continue
            try:
                a, b, c, d = [float(x) for x in rm2.group(1).split()[:4]]
            except (ValueError, IndexError):
                continue
            uri: str | None = None
            lm = _URI_LIT_RE.search(ahead)
            if lm is not None:
                raw, _end = _parse_literal_string(ahead, lm.end() - 1)
                uri = raw.decode("utf-8", "replace")
            else:
                hm = _URI_HEX_RE.search(ahead)
                if hm is not None:
                    hx = re.sub(rb"\s", b"", hm.group(1))
                    if len(hx) % 2:
                        hx += b"0"
                    try:
                        uri = bytes.fromhex(hx.decode()).decode(
                            "utf-8", "replace"
                        )
                    except ValueError:
                        uri = None
            if uri is None:
                continue
            # /Rect is bottom-up [llx lly urx ury] → top-down spans
            x0, x1 = min(a, c), max(a, c)
            lly, ury = min(b, d), max(b, d)
            links.append(
                {
                    "page": page_idx,
                    "x0": round(x0, 2),
                    "y0": round(h - ury, 2),
                    "x1": round(x1, 2),
                    "y1": round(h - lly, 2),
                    "uri": uri,
                }
            )
    return links


_CATALOG_TYPE_RE = re.compile(rb"/Type\s*/Catalog\b")
_OUTLINES_REF_RE = re.compile(rb"/Outlines\s+(\d+)\s+\d+\s+R")
_TITLE_LIT_RE = re.compile(rb"/Title\s*\(")
_TITLE_HEX_RE = re.compile(rb"/Title\s*<([0-9A-Fa-f\s]*)>")
_FIRST_ITEM_RE = re.compile(rb"/First\s+(\d+)\s+\d+\s+R")
_NEXT_ITEM_RE = re.compile(rb"/Next\s+(\d+)\s+\d+\s+R")
_DEST_PAGE_RE = re.compile(rb"/Dest\s*\[\s*(\d+)\s+\d+\s+R")
_GOTO_PAGE_RE = re.compile(rb"/D\s*\[\s*(\d+)\s+\d+\s+R")


def extract_pdf_outline(data: bytes) -> list[dict] | None:
    """Document outline (bookmark tree, PDF 32000 §12.3.3) → flat
    PRE-ORDER [{idx, level, title, page}]. ``page`` is the 0-based index
    of the /Dest (or /A GoTo /D) target in the document's page order, -1
    when an item has no resolvable destination. Titles decode per
    §7.9.2.2: UTF-16BE when BOM'd, else the PDFDocEncoding subset
    mapped through latin-1. The outline is a crawled PDF's own table of
    contents — the section structure a training pipeline keeps as
    document metadata, the way heading outlines are kept for HTML
    (the reference ingests whole PDFs and keeps layout structure,
    crates/server/src/generation.rs:276). Objects resolve through the
    same xref-overlaid scan as parse_real_pdf; sibling/child chains are
    cycle-guarded (a malformed /Next loop terminates, never hangs).
    Returns None when the file has no catalog or outline tree."""
    int_objs = _scan_int_objects(data)
    objs = _extract_objects(data, int_objs)
    xobjs, objstm_members = _xref_objects(data, int_objs)
    objs.update(xobjs)
    if not objs:
        return None
    if not _decrypt_objects(data, objs):
        return None
    _expand_object_streams(objs, authoritative=objstm_members)
    root_ref = None
    for _n, (h, _s) in sorted(objs.items()):
        if _CATALOG_TYPE_RE.search(h):
            m = _OUTLINES_REF_RE.search(h)
            if m:
                root_ref = int(m.group(1))
                break
    if root_ref is None or root_ref not in objs:
        return None
    pages_nodes = sorted(
        n for n, (h, _) in objs.items() if _PAGES_TYPE_RE.search(h)
    )
    kid_order: list[int] = []
    for n in pages_nodes:
        km = _KIDS_RE.search(objs[n][0])
        if km:
            kid_order += [int(x) for x in _REF_RE.findall(km.group(1))]
    page_objs = {n for n, (h, _) in objs.items() if _PAGE_TYPE_RE.search(h)}
    ordered = [n for n in kid_order if n in page_objs]
    ordered += sorted(page_objs - set(ordered))
    page_idx = {n: i for i, n in enumerate(ordered)}

    items: list[dict] = []
    visited: set[int] = set()

    def _title(head: bytes) -> str:
        lm = _TITLE_LIT_RE.search(head)
        if lm is not None:
            raw, _end = _parse_literal_string(head, lm.end() - 1)
        else:
            hm = _TITLE_HEX_RE.search(head)
            if hm is None:
                return ""
            hx = re.sub(rb"\s", b"", hm.group(1))
            if len(hx) % 2:
                hx += b"0"
            try:
                raw = bytes.fromhex(hx.decode())
            except ValueError:
                return ""
        if raw[:2] == b"\xfe\xff":
            return raw[2:].decode("utf-16-be", "replace")
        return raw.decode("latin-1")

    def _walk(num: int | None, level: int) -> None:
        while num is not None and num in objs and num not in visited:
            visited.add(num)
            head = objs[num][0]
            pm = _DEST_PAGE_RE.search(head) or _GOTO_PAGE_RE.search(head)
            page = page_idx.get(int(pm.group(1)), -1) if pm else -1
            items.append(
                {
                    "idx": len(items),
                    "level": level,
                    "title": _title(head),
                    "page": page,
                }
            )
            fm = _FIRST_ITEM_RE.search(head)
            if fm is not None:
                _walk(int(fm.group(1)), level + 1)
            nm = _NEXT_ITEM_RE.search(head)
            num = int(nm.group(1)) if nm is not None else None

    fm = _FIRST_ITEM_RE.search(objs[root_ref][0])
    if fm is not None:
        _walk(int(fm.group(1)), 0)
    return items


_EMBEDDED_FILES_RE = re.compile(rb"/EmbeddedFiles\s+(\d+)\s+\d+\s+R")
_EF_F_RE = re.compile(rb"/EF\s*<<[^>]*?/U?F\s+(\d+)\s+\d+\s+R")
_SUBTYPE_NAME_RE = re.compile(rb"/Subtype\s*/([^\s/<>\[\]()]+)")
_NAMES_ARR_RE = re.compile(rb"/Names\s*\[", re.S)
_REF_AT_RE = re.compile(rb"\s*(\d+)\s+\d+\s+R")


def _pdf_text(raw: bytes) -> str:
    """§7.9.2.2 text-string decode: UTF-16BE when BOM'd, else the
    PDFDocEncoding subset through latin-1."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    return raw.decode("latin-1")


def _name_pairs(head: bytes) -> list[tuple[str, int]]:
    """A name-tree node's /Names [ (key) ref ... ] pairs (literal or
    hex keys). Malformed entries end the scan (never raise)."""
    m = _NAMES_ARR_RE.search(head)
    if m is None:
        return []
    i, n = m.end(), len(head)
    pairs: list[tuple[str, int]] = []
    while i < n:
        while i < n and head[i] in b" \t\r\n":
            i += 1
        if i >= n or head[i : i + 1] == b"]":
            break
        if head[i : i + 1] == b"(":
            raw, i = _parse_literal_string(head, i)
        elif head[i : i + 1] == b"<" and head[i : i + 2] != b"<<":
            j = head.find(b">", i)
            if j < 0:
                break
            hx = re.sub(rb"\s", b"", head[i + 1 : j])
            if len(hx) % 2:
                hx += b"0"
            try:
                raw = bytes.fromhex(hx.decode())
            except ValueError:
                break
            i = j + 1
        else:
            break
        rm = _REF_AT_RE.match(head, i)
        if rm is None:
            break
        pairs.append((_pdf_text(raw), int(rm.group(1))))
        i = rm.end()
    return pairs


def extract_pdf_attachments(data: bytes) -> list[dict] | None:
    """Embedded files (PDF 32000 §7.11.4, the /EmbeddedFiles name tree)
    → [{idx, name, mime, size, data}] in name-tree (sorted-key) order.
    Crawled PDFs carry source documents, datasets and machine-readable
    invoices as attachments — corpus-side, they are extractable
    payloads the page text never shows (the reference renders pages
    and would silently drop them, crates/server/src/generation.rs:276).
    Each filespec's /EF stream is resolved through the same
    xref-overlaid object scan and run through the standard filter
    chain; ``mime`` decodes the /Subtype name's #xx escapes; ``size``
    is the DECODED byte length (cross-checked against /Params /Size
    when present — a mismatch keeps the decoded truth). /Kids nodes
    recurse with a cycle guard. Returns None when the document has no
    embedded-files tree."""
    int_objs = _scan_int_objects(data)
    objs = _extract_objects(data, int_objs)
    xobjs, objstm_members = _xref_objects(data, int_objs)
    objs.update(xobjs)
    if not objs:
        return None
    if not _decrypt_objects(data, objs):
        return None
    _expand_object_streams(objs, authoritative=objstm_members)
    node_ref = None
    for _n, (h, _s) in sorted(objs.items()):
        if _CATALOG_TYPE_RE.search(h):
            m = _EMBEDDED_FILES_RE.search(h)
            if m:
                node_ref = int(m.group(1))
                break
    if node_ref is None or node_ref not in objs:
        return None

    pairs: list[tuple[str, int]] = []
    seen: set[int] = set()

    def _walk_node(num: int) -> None:
        if num in seen or num not in objs:
            return
        seen.add(num)
        head = objs[num][0]
        km = _KIDS_RE.search(head)
        if km is not None:
            for r in _REF_RE.findall(km.group(1)):
                _walk_node(int(r))
        pairs.extend(_name_pairs(head))

    _walk_node(node_ref)
    out: list[dict] = []
    for name, fs_num in pairs:
        if fs_num not in objs:
            continue
        fs_head = objs[fs_num][0]
        em = _EF_F_RE.search(fs_head)
        if em is None:
            continue
        st_num = int(em.group(1))
        if st_num not in objs:
            continue
        st_head, st_raw = objs[st_num]
        if st_raw is None:
            continue
        dec = _decode_stream(st_head, st_raw)
        if dec is None:
            continue
        sm = _SUBTYPE_NAME_RE.search(st_head)
        mime = ""
        if sm is not None:
            mime = re.sub(
                rb"#([0-9A-Fa-f]{2})",
                lambda m: bytes([int(m.group(1), 16)]),
                sm.group(1),
            ).decode("latin-1")
        out.append(
            {
                "idx": len(out),
                "name": name,
                "mime": mime,
                "size": len(dec),
                "data": dec,
            }
        )
    return out


# ---------------------------------------------------------------------------
# image XObjects (§8.9) — the embedded raster payloads of a crawled PDF


_IMAGE_TYPE_RE = re.compile(rb"/Subtype\s*/Image\b")
_WIDTH_RE = re.compile(rb"/Width\s+(\d+)")
_HEIGHT_RE = re.compile(rb"/Height\s+(\d+)")
_IMG_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")
_COLORSPACE_RE = re.compile(rb"/ColorSpace\s*\[?\s*/(\w+)")
_IMAGEMASK_RE = re.compile(rb"/ImageMask\s+true\b")


def _stream_filter_names(head: bytes) -> list[str]:
    """The /Filter chain as a list of names, [] when unfiltered."""
    fm = _FILTER_CHAIN_RE.search(head)
    if fm is None:
        return []
    return [n.decode("latin-1") for n in _FILTER_NAME_RE.findall(fm.group(1))]


def extract_pdf_images(data: bytes) -> list[dict] | None:
    """Real PDF bytes → embedded image inventory with DECODED pixel hashes:
    [{page, name, width, height, colorspace, bpc, filter, status,
    pixel_sha}] — one row per image XObject (PDF 32000 §8.9.5) reachable
    from a page's /Resources /XObject dict (or, one level deep, a Form
    XObject's own resources — the stamped-figure layout). The reference
    accepts raster payloads wholesale (crates/server/src/generation.rs:
    276-305); for crawled PDFs the figures ARE the multimodal payload, so
    this ties the PDF branch to the existing raster stack:

    - ``/Filter /DCTDecode`` (optionally behind transport filters) →
      the real baseline/progressive JPEG decoder (extraction/jpeg.py),
      status ``jpeg``, sha256 over the decoded RGB bytes;
    - Flate/LZW/A85/AHx/RL chains (with /DecodeParms predictors) →
      raw samples validated against width×height×components geometry:
      8-bit DeviceGray/DeviceRGB, 1-bit gray and /ImageMask (bits
      unpacked to 0/255 bytes), status ``raw``;
    - CCITT/JBIG2/JPX and other-geometry payloads → status
      ``unsupported``/``error`` with metadata only, pixel_sha null —
      the documented honest-scope signal, never a fake hash.

    Pages resolve through the same xref-overlaid object scan as
    parse_real_pdf. Returns [] for a PDF without images, None if no page
    structure."""
    import hashlib

    import numpy as np

    from deepseek_ocr_api_rs_spark.extraction.jpeg import decode_jpeg_pixels

    int_objs = _scan_int_objects(data)
    objs = _extract_objects(data, int_objs)
    xobjs, objstm_members = _xref_objects(data, int_objs)
    objs.update(xobjs)
    if not objs:
        return None
    if not _decrypt_objects(data, objs):
        return None
    _expand_object_streams(objs, authoritative=objstm_members)
    pages_nodes = sorted(
        n for n, (h, _) in objs.items() if _PAGES_TYPE_RE.search(h)
    )
    kid_order: list[int] = []
    for n in pages_nodes:
        km = _KIDS_RE.search(objs[n][0])
        if km:
            kid_order += [int(x) for x in _REF_RE.findall(km.group(1))]
    page_objs = {n for n, (h, _) in objs.items() if _PAGE_TYPE_RE.search(h)}
    ordered = [n for n in kid_order if n in page_objs]
    ordered += sorted(page_objs - set(ordered))
    if not ordered:
        return None

    images: list[dict] = []
    for page_idx, pnum in enumerate(ordered):
        head = objs[pnum][0]
        entries = sorted(_page_xobjects(objs, head).items())
        # one level into Form XObjects' own resources (page attribution =
        # the containing page; deeper nesting is out of scope like the
        # span walker's translation-only form handling)
        for name, ref in list(entries):
            fobj = objs.get(ref)
            if fobj is not None and _FORM_TYPE_RE.search(fobj[0]):
                entries += sorted(_page_xobjects(objs, fobj[0]).items())
        for name, ref in entries:
            obj = objs.get(ref)
            if obj is None or obj[1] is None:
                continue
            ihead, istream = obj
            if not _IMAGE_TYPE_RE.search(ihead):
                continue
            wm = _WIDTH_RE.search(ihead)
            hm = _HEIGHT_RE.search(ihead)
            if wm is None or hm is None:
                continue
            w, h = int(wm.group(1)), int(hm.group(1))
            bm = _IMG_BPC_RE.search(ihead)
            bpc = int(bm.group(1)) if bm else 8
            if _IMAGEMASK_RE.search(ihead):
                cs = "ImageMask"
                bpc = 1  # §8.9.6.2: ImageMask is 1-bit by definition
            else:
                cm = _COLORSPACE_RE.search(ihead)
                cs = cm.group(1).decode("latin-1") if cm else "DeviceGray"
            names = _stream_filter_names(ihead)
            filt = "+".join(names) if names else "raw"
            status = "unsupported"
            sha: str | None = None
            if names and names[-1] in ("DCTDecode", "DCT"):
                payload = _apply_filter_chain(ihead, istream, names[:-1])
                px = decode_jpeg_pixels(payload) if payload is not None else None
                if px is not None:
                    status, sha = "jpeg", hashlib.sha256(
                        np.ascontiguousarray(px).tobytes()
                    ).hexdigest()
                else:
                    status = "error"
            else:
                raw = _apply_filter_chain(ihead, istream, names)
                ncomp = 3 if cs == "DeviceRGB" else 1
                rowbytes = (w * ncomp * bpc + 7) // 8
                if raw is None:
                    status = "unsupported"
                elif len(raw) < rowbytes * h or bpc not in (1, 8):
                    status = "error"
                elif bpc == 8:
                    status, sha = "raw", hashlib.sha256(
                        raw[: rowbytes * h]
                    ).hexdigest()
                else:  # 1-bit rows, each padded to a byte boundary (§8.9.3)
                    rows = np.frombuffer(
                        raw[: rowbytes * h], dtype=np.uint8
                    ).reshape(h, rowbytes)
                    bits = np.unpackbits(rows, axis=1)[:, : w * ncomp]
                    status, sha = "raw", hashlib.sha256(
                        (bits * 255).astype(np.uint8).tobytes()
                    ).hexdigest()
            images.append(
                {
                    "page": page_idx,
                    "name": name,
                    "width": w,
                    "height": h,
                    "colorspace": cs,
                    "bpc": bpc,
                    "filter": filt,
                    "status": status,
                    "pixel_sha": sha,
                }
            )
    return images


# ---------------------------------------------------------------------------
# writers — fixtures/tests assemble real PDFs from the same span dicts


def _escape_literal(text: str) -> str:
    return text.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def _span_ops(
    s: dict,
    height: float,
    utf16: bool = False,
    show_override: str | None = None,
) -> list[str]:
    """Content-stream operator lines for one span (shared by both writers).

    Per-span font size is derived from the span's own bbox width so the
    parser's 0.5-em width estimate reproduces (x0, x1) — geometry
    round-trips and column detection sees the same centers.

    ``show_override`` replaces the Tj PAYLOAD only (bytes-as-latin1 for a
    multi-byte CJK encoding) while geometry still derives from the span's
    character count — the parser advances by DECODED characters, so the
    byte-length must not leak into the size estimate."""
    text = str(s["text"])
    if not text:
        return []
    x0, y0 = float(s["x0"]), float(s["y0"])
    x1 = float(s.get("x1", x0 + CHAR_WIDTH_EM * 11.0 * len(text)))
    size = (x1 - x0) / (CHAR_WIDTH_EM * len(text))
    size = min(max(size, 1.0), 100.0)
    y_pdf = height - y0 - size  # parser emits y0 = H - cur_y - size
    lines = [f"/F1 {size:.4f} Tf", f"1 0 0 1 {x0:.2f} {y_pdf:.4f} Tm"]
    if show_override is not None:
        lines.append(f"({_escape_literal(show_override)}) Tj")
    elif utf16:
        # real UTF-16BE: non-BMP chars become surrogate PAIRS (two 2-byte
        # codes the CMap identity path decodes and _decode_text re-combines)
        # — never clamped (ADVICE r3: min(ord, 0xFFFF) silently mangled
        # astral text and broke the extracted-text round-trip)
        hexes = text.encode("utf-16-be", "surrogatepass").hex().upper()
        lines.append(f"<{hexes}> Tj")
    else:
        lines.append(f"({_escape_literal(text)}) Tj")
    return lines


def make_pdf_bytes(
    spans: list[dict],
    width: float = DEFAULT_PAGE_WIDTH,
    height: float = DEFAULT_PAGE_HEIGHT,
    compress: bool = False,
    use_tj_every: int = 0,
    stream_filter: str | None = None,
    encrypt: bool | str = False,
    font_encoding: str | None = None,
    differences: dict[int, str] | None = None,
    keylen_after_cf: bool = False,
    encrypt_metadata: bool = True,
    use_form: bool = False,
    inline_image: bool = False,
    links: list[dict] | None = None,
    cid_cmap: str | None = None,
    outline: list[dict] | None = None,
    attachments: list[dict] | None = None,
) -> bytes:
    """Assemble a real single/multi-page CLASSIC-dialect PDF from top-down
    span dicts: uncompressed dicts, classic xref table, literal strings.
    ``use_tj_every=k`` writes every k-th span as a split TJ array
    (kerning-path coverage). ``stream_filter`` selects the content-stream
    encoding: None/"flate" (``compress=True`` is the legacy alias),
    "lzw", "rl", "ahx", "a85+flate" (the chained form old distillers
    emitted for 7-bit-safe channels). ``encrypt=True`` (or ``"rc4"``)
    applies the standard security handler (R3/V2, RC4-128) with EMPTY user
    and owner passwords — the viewer-opens-silently form; ``encrypt="aes"``
    emits the crypt-filter era's R4/V4 /AESV2 form (AES-128-CBC,
    IV-prefixed streams, deterministic per-object IV for fixture
    reproducibility). Encryption wraps the stream AFTER the filter
    encoding, per spec. ``font_encoding`` ("winansi"/"macroman"/
    "standard") writes a simple Type1 font with that /Encoding name and
    encodes span text through the Annex D table; ``differences``
    ({code: glyphname}) writes the /Encoding-dict form with a
    /Differences array over the base. ``cid_cmap`` (e.g. "90ms-RKSJ-H")
    writes a /Subtype /Type0 font whose /Encoding is that predefined
    non-Unicode CJK CMap and shows span text as literal strings in the
    CMap's national encoding (§9.7.5.2 Table 118) — the realistic CJK
    crawl-PDF form that carries NO /ToUnicode. ``keylen_after_cf`` reorders the
    V4 encrypt dict so the crypt-filter's /Length 16 precedes the
    top-level /Length 128 (real-writer ordering); ``encrypt_metadata=
    False`` emits /EncryptMetadata false (R4 key derivation appends
    FFFFFFFF). ``use_form`` routes each page's LAST span through a
    /Subtype /Form XObject with an identity /Matrix invoked by ``Do``
    (the stamped-overlay family — extracted text identical by
    construction; plain streams, so incompatible with ``encrypt``).
    ``inline_image`` plants a BI/ID/EI inline image whose binary payload
    contains unbalanced parens and a fake Tj before each page's text —
    a tokenizer that does not skip it whole garbles the page. ``links``
    ({page, x0, y0, x1, y1, uri} dicts, top-down coords) writes /Annots
    link annotations (/Subtype /Link /A << /S /URI >>, §12.5.6.5) on
    their pages. ``outline`` ({title, page, level} dicts in PRE-ORDER)
    writes a document outline tree (§12.3.3): /Outlines root wired into
    the catalog, sibling /Prev-/Next chains, /First-/Last child spans
    with open /Count, /Dest [page /Fit] targets; ASCII titles as literal
    strings, non-ASCII as BOM'd UTF-16BE hex strings (§7.9.2.2).
    """
    import hashlib

    if use_form and encrypt:
        raise ValueError("use_form writes plain form streams; no encrypt")
    if links and encrypt:
        raise ValueError("links write plain URI strings; no encrypt")
    if outline and encrypt:
        raise ValueError("outline writes plain title strings; no encrypt")
    if attachments and encrypt:
        raise ValueError("attachments write plain streams; no encrypt")

    if stream_filter is None and compress:
        stream_filter = "flate"
    enc_table: list[str] | None = None
    font_extra = ""
    if font_encoding or differences:
        from deepseek_ocr_api_rs_spark.extraction import pdf_encodings as _pe

        base_name = {
            "winansi": "WinAnsiEncoding",
            "macroman": "MacRomanEncoding",
            "standard": "StandardEncoding",
        }[font_encoding or "standard"]
        enc_table = _pe.base_encoding_table(base_name)
        assert enc_table is not None
        if differences:
            diff_body = " ".join(
                f"{c} /{n}" for c, n in sorted(differences.items())
            )
            enc_table = _pe.apply_differences(enc_table, diff_body.encode())
            font_extra = (
                f" /Encoding << /BaseEncoding /{base_name} "
                f"/Differences [{diff_body}] >>"
            )
        else:
            font_extra = f" /Encoding /{base_name}"
    enc_key = None
    enc_aes = encrypt == "aes"
    enc_v5 = encrypt == "aes256"
    enc_id0 = bytes.fromhex("0123456789abcdeffedcba987654321f")
    enc_p = -44
    v5_entries = ""
    if enc_v5:
        # PDF 2.0 /V 5 /R 6: random file key wrapped via Algorithm 8/9
        # (deterministic salts/key for fixture reproducibility)
        import struct as _struct

        from deepseek_ocr_api_rs_spark.extraction.aes import (
            cbc_encrypt_nopad,
            ecb_encrypt_block,
        )

        enc_key = hashlib.sha256(b"fixture aes-256 file key").digest()
        u_vsalt, u_ksalt = b"uvsalt#1", b"uksalt#2"
        o_vsalt, o_ksalt = b"ovsalt#3", b"oksalt#4"
        u_val = _hash_2b(b"", u_vsalt) + u_vsalt + u_ksalt
        ue_val = cbc_encrypt_nopad(_hash_2b(b"", u_ksalt), bytes(16), enc_key)
        o_val = _hash_2b(b"", o_vsalt, u_val) + o_vsalt + o_ksalt
        oe_val = cbc_encrypt_nopad(
            _hash_2b(b"", o_ksalt, u_val), bytes(16), enc_key
        )
        perms_clear = (
            _struct.pack("<i", enc_p) + b"\xff\xff\xff\xffTadbfixd"
        )
        perms_val = ecb_encrypt_block(enc_key, perms_clear[:16])
        v5_entries = (
            f"/O <{o_val.hex()}> /U <{u_val.hex()}> "
            f"/OE <{oe_val.hex()}> /UE <{ue_val.hex()}> "
            f"/Perms <{perms_val.hex()}>"
        )
    elif encrypt:
        # Algorithm 3 with empty owner+user passwords (R3/R4, 128-bit)
        h = hashlib.md5(_PAD).digest()
        for _ in range(50):
            h = hashlib.md5(h).digest()
        key_o = h[:16]
        o_val = _rc4(key_o, _PAD)
        for i in range(1, 20):
            o_val = _rc4(bytes(b ^ i for b in key_o), o_val)
        enc_r = 4 if enc_aes else 3
        enc_key = _std_encryption_key(
            o_val, enc_p, enc_id0, enc_r, 16, encrypt_metadata=encrypt_metadata
        )
        u_val = _expected_u(enc_key, enc_id0, enc_r) + b"\x00" * 16
    by_page: dict[int, list[dict]] = {}
    for s in spans:
        by_page.setdefault(int(s["page"]), []).append(s)
    n_pages = (max(by_page) + 1) if by_page else 1

    # the decoy's binary payload: unbalanced parens, a fake Tj, control
    # and high bytes — anything short of a whole-object skip garbles it
    _II_DECOY = (
        "BI /W 2 /H 2 /BPC 8 /CS /RGB ID ((<( (fake) Tj \xfe\x00\x89ab EI"
    )

    cid_codec = _PREDEF_CMAP_CODECS.get(
        cid_cmap.encode("latin-1") if cid_cmap else b""
    )
    if cid_cmap and cid_codec is None:
        raise ValueError(f"unknown predefined CMap {cid_cmap!r}")

    def span_ops_for(s: dict, idx: int) -> list[str]:
        text = str(s["text"])
        if cid_codec is not None:
            # geometry from the CHARACTER count (s untouched); payload =
            # the CMap's national-encoding bytes as latin-1 str so the
            # literal-string escape path is byte-transparent
            return _span_ops(
                s,
                height,
                show_override=text.encode(cid_codec).decode("latin-1"),
            )
        if enc_table is not None:
            from deepseek_ocr_api_rs_spark.extraction import (
                pdf_encodings as _pe,
            )

            text = _pe.encode_with_table(text, enc_table).decode("latin-1")
            s = dict(s, text=text)
        ops = _span_ops(s, height)
        if use_tj_every and idx % use_tj_every == 0 and len(text) > 2:
            cut = len(text) // 2
            a, b = _escape_literal(text[:cut]), _escape_literal(text[cut:])
            ops[-1] = f"[({a}) 0 ({b})] TJ"
        return ops

    def page_spans_split(page: int) -> tuple[list[dict], list[dict]]:
        """(page-stream spans, form-stream spans) — the last nonempty
        span moves into the form when use_form is set."""
        ss = [s for s in by_page.get(page, []) if str(s["text"])]
        if use_form and ss:
            return ss[:-1], ss[-1:]
        return ss, []

    def content_for(page: int) -> bytes:
        body, form_part = page_spans_split(page)
        lines = []
        if inline_image:
            lines.append(_II_DECOY)
        lines.append("BT")
        for i, s in enumerate(body):
            # bytes-as-latin1 so the literal-string escape/encode path
            # below is byte-transparent (len is preserved: one char →
            # one code, so span geometry round-trips too)
            lines.extend(span_ops_for(s, i))
        lines.append("ET")
        if form_part:
            lines.append("/Fm1 Do")
        return "\n".join(lines).encode("latin-1")

    def form_content_for(page: int) -> bytes:
        _, form_part = page_spans_split(page)
        lines = ["BT"]
        for i, s in enumerate(form_part):
            lines.extend(span_ops_for(s, i))
        lines.append("ET")
        return "\n".join(lines).encode("latin-1")

    # object numbering: 1 catalog, 2 pages, 3 font,
    # 4..3+n pages, 4+n..3+2n content streams, then (use_form) one form
    # stream per page that has spans
    first_page = 4
    first_content = first_page + n_pages
    form_pages = [p for p in range(n_pages) if page_spans_split(p)[1]]
    first_form = first_content + n_pages
    form_num = {p: first_form + i for i, p in enumerate(form_pages)}
    links_by_page: dict[int, list[dict]] = {}
    for ln in links or []:
        links_by_page.setdefault(int(ln["page"]), []).append(ln)
    first_annot = first_form + len(form_pages)
    annot_num: dict[int, list[int]] = {}
    nxt = first_annot
    for p in sorted(links_by_page):
        annot_num[p] = list(range(nxt, nxt + len(links_by_page[p])))
        nxt += len(links_by_page[p])
    n_annots = nxt - first_annot
    objects: dict[int, bytes] = {}
    kids = " ".join(f"{first_page + p} 0 R" for p in range(n_pages))
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} "
        f"/MediaBox [0 0 {width:g} {height:g}] >>"
    ).encode("latin-1")
    if cid_cmap:
        objects[3] = (
            f"<< /Type /Font /Subtype /Type0 /BaseFont /SyntheticCJK "
            f"/Encoding /{cid_cmap} >>"
        ).encode("latin-1")
    else:
        objects[3] = (
            f"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            f"{font_extra} >>"
        ).encode("latin-1")
    for p in range(n_pages):
        xres = (
            f" /XObject << /Fm1 {form_num[p]} 0 R >>" if p in form_num else ""
        )
        annots = ""
        if p in annot_num:
            refs = " ".join(f"{a} 0 R" for a in annot_num[p])
            annots = f" /Annots [{refs}]"
        objects[first_page + p] = (
            f"<< /Type /Page /Parent 2 0 R /Contents {first_content + p} 0 R "
            f"/Resources << /Font << /F1 3 0 R >>{xres} >>{annots} >>"
        ).encode("latin-1")

    for p, nums in annot_num.items():
        for ln, num in zip(links_by_page[p], nums):
            # /Rect is bottom-up device coords: flip the top-down span box
            ry0 = height - float(ln["y1"])
            ry1 = height - float(ln["y0"])
            uri = _escape_literal(str(ln["uri"]))
            objects[num] = (
                f"<< /Type /Annot /Subtype /Link /Rect "
                f"[{float(ln['x0']):g} {ry0:g} {float(ln['x1']):g} {ry1:g}] "
                f"/Border [0 0 0] /A << /S /URI /URI ({uri}) >> >>"
            ).encode("latin-1")
    catalog_extras = ""
    if outline:
        first_outline = first_annot + n_annots
        root_num = first_outline
        item_nums = [first_outline + 1 + i for i in range(len(outline))]
        parent: list[int] = [-1] * len(outline)  # -1 = the /Outlines root
        lvl_stack: list[tuple[int, int]] = []  # (level, item index)
        for i, it in enumerate(outline):
            lv = int(it.get("level", 0))
            while lvl_stack and lvl_stack[-1][0] >= lv:
                lvl_stack.pop()
            parent[i] = lvl_stack[-1][1] if lvl_stack else -1
            lvl_stack.append((lv, i))
        children: dict[int, list[int]] = {}
        for i, pi in enumerate(parent):
            children.setdefault(pi, []).append(i)

        def _odesc(i: int) -> int:  # open /Count = all descendants
            return sum(1 + _odesc(c) for c in children.get(i, []))

        def _otitle(t: str) -> str:
            if all(ord(ch) < 128 for ch in t):
                return f"({_escape_literal(t)})"
            return "<" + (b"\xfe\xff" + t.encode("utf-16-be")).hex().upper() + ">"

        for i, it in enumerate(outline):
            sibs = children[parent[i]]
            pos = sibs.index(i)
            prev_s = f" /Prev {item_nums[sibs[pos - 1]]} 0 R" if pos else ""
            next_s = (
                f" /Next {item_nums[sibs[pos + 1]]} 0 R"
                if pos + 1 < len(sibs)
                else ""
            )
            kids_i = children.get(i, [])
            first_s = (
                f" /First {item_nums[kids_i[0]]} 0 R "
                f"/Last {item_nums[kids_i[-1]]} 0 R /Count {_odesc(i)}"
                if kids_i
                else ""
            )
            par_num = root_num if parent[i] == -1 else item_nums[parent[i]]
            pg = first_page + int(it.get("page", 0))
            objects[item_nums[i]] = (
                f"<< /Title {_otitle(str(it['title']))} /Parent {par_num} 0 R"
                f"{prev_s}{next_s}{first_s} /Dest [{pg} 0 R /Fit] >>"
            ).encode("latin-1")
        top = children.get(-1, [])
        objects[root_num] = (
            (
                f"<< /Type /Outlines /First {item_nums[top[0]]} 0 R "
                f"/Last {item_nums[top[-1]]} 0 R /Count {_odesc(-1)} >>"
            ).encode("latin-1")
            if top
            else b"<< /Type /Outlines /Count 0 >>"
        )
        catalog_extras += f" /Outlines {root_num} 0 R"
    att_streams: list[tuple[int, str, bytes]] = []
    if attachments:
        first_att = (
            first_annot + n_annots + (1 + len(outline) if outline else 0)
        )
        node_num = first_att
        fs_nums = [first_att + 1 + 2 * i for i in range(len(attachments))]
        st_nums = [first_att + 2 + 2 * i for i in range(len(attachments))]
        def _str_tok(t: str) -> str:
            # §7.9.2.2: ASCII as escaped literal, else BOM'd UTF-16BE hex
            if all(ord(ch) < 128 for ch in t):
                return f"({_escape_literal(t)})"
            return (
                "<" + (b"\xfe\xff" + t.encode("utf-16-be")).hex().upper()
                + ">"
            )

        order = sorted(
            range(len(attachments)),
            key=lambda i: str(attachments[i]["name"]),
        )
        pairs = " ".join(
            f"{_str_tok(str(attachments[i]['name']))} {fs_nums[i]} 0 R"
            for i in order
        )
        objects[node_num] = f"<< /Names [{pairs}] >>".encode("latin-1")
        for i, att in enumerate(attachments):
            desc = att.get("desc", "")
            desc_s = (
                f" /Desc {_str_tok(str(desc))}" if desc else ""
            )
            nm = _str_tok(str(att["name"]))
            objects[fs_nums[i]] = (
                f"<< /Type /Filespec /F {nm} /UF {nm}"
                f"{desc_s} /EF << /F {st_nums[i]} 0 R >> >>"
            ).encode("latin-1")
            att_streams.append(
                (st_nums[i], str(att.get("mime", "")), bytes(att["data"]))
            )
        catalog_extras += f" /Names << /EmbeddedFiles {node_num} 0 R >>"
    if catalog_extras:
        objects[1] = (
            f"<< /Type /Catalog /Pages 2 0 R{catalog_extras} >>"
        ).encode("latin-1")
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    for p in range(n_pages):
        num = first_content + p
        raw = content_for(p)
        if stream_filter == "flate":
            payload = zlib.compress(raw, 9)
            head = f"<< /Length {len(payload)} /Filter /FlateDecode >>"
        elif stream_filter == "lzw":
            payload = lzw_encode(raw)
            head = f"<< /Length {len(payload)} /Filter /LZWDecode >>"
        elif stream_filter == "rl":
            payload = runlength_encode(raw)
            head = f"<< /Length {len(payload)} /Filter /RunLengthDecode >>"
        elif stream_filter == "ahx":
            payload = raw.hex().encode("ascii") + b">"
            head = f"<< /Length {len(payload)} /Filter /ASCIIHexDecode >>"
        elif stream_filter == "a85+flate":
            # decode order: ASCII85 first, then Flate (PDF 32000 §7.4.1)
            payload = ascii85_encode(zlib.compress(raw, 9))
            head = (
                f"<< /Length {len(payload)} "
                f"/Filter [/ASCII85Decode /FlateDecode] >>"
            )
        else:
            payload = raw
            head = f"<< /Length {len(payload)} >>"
        if enc_key is not None:
            if enc_aes or enc_v5:
                from deepseek_ocr_api_rs_spark.extraction.aes import cbc_encrypt

                iv = hashlib.md5(b"iv%d" % num).digest()
                stream_key = (
                    enc_key  # V5: the file key directly, no per-object step
                    if enc_v5
                    else _object_key(enc_key, num, aes=True)
                )
                payload = cbc_encrypt(stream_key, iv, payload)
            else:
                payload = _rc4(_object_key(enc_key, num), payload)
            head = re.sub(
                rb"/Length \d+", b"/Length %d" % len(payload), head.encode()
            ).decode()
        offsets[num] = len(out)
        out += (
            f"{num} 0 obj\n{head}\nstream\n".encode()
            + payload
            + b"\nendstream\nendobj\n"
        )
    for p in form_pages:
        num = form_num[p]
        raw = form_content_for(p)
        offsets[num] = len(out)
        out += (
            f"{num} 0 obj\n<< /Type /XObject /Subtype /Form "
            f"/Matrix [1 0 0 1 0 0] /BBox [0 0 {width:g} {height:g}] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Length {len(raw)} >>\nstream\n".encode()
            + raw
            + b"\nendstream\nendobj\n"
        )
    for num, mime, data in att_streams:
        if compress:
            payload = zlib.compress(data, 9)
            filt = " /Filter /FlateDecode"
        else:
            payload, filt = data, ""
        subtype = (
            " /Subtype /" + "".join(
                ch if (ch.isalnum() or ch in "-+.") else f"#{ord(ch):02X}"
                for ch in mime
            )
            if mime
            else ""
        )
        offsets[num] = len(out)
        out += (
            f"{num} 0 obj\n<< /Type /EmbeddedFile{subtype} "
            f"/Length {len(payload)}{filt} "
            f"/Params << /Size {len(data)} >> >>\nstream\n".encode()
            + payload
            + b"\nendstream\nendobj\n"
        )
    n_objs = (
        first_form + len(form_pages) + n_annots
        + (1 + len(outline) if outline else 0)
        + (1 + 2 * len(attachments) if attachments else 0)
    )
    trailer_extra = ""
    if enc_key is not None:
        enc_num = n_objs
        n_objs += 1
        offsets[enc_num] = len(out)
        if enc_v5:
            enc_dict = (
                "<< /Filter /Standard /V 5 /R 6 /Length 256 "
                "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
                "/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
                f"/P {enc_p} {v5_entries} >>"
            )
        elif enc_aes:
            cf = (
                "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
                "/Length 16 >> >> /StmF /StdCF /StrF /StdCF"
            )
            meta = "" if encrypt_metadata else " /EncryptMetadata false"
            if keylen_after_cf:
                enc_dict = (
                    f"<< /Filter /Standard /V 4 /R 4 {cf} /Length 128"
                    f"{meta} /P {enc_p} /O <{o_val.hex()}> "
                    f"/U <{u_val.hex()}> >>"
                )
            else:
                enc_dict = (
                    f"<< /Filter /Standard /V 4 /R 4 /Length 128 {cf}"
                    f"{meta} /P {enc_p} /O <{o_val.hex()}> "
                    f"/U <{u_val.hex()}> >>"
                )
        else:
            enc_dict = (
                "<< /Filter /Standard /V 2 /R 3 /Length 128 "
                f"/P {enc_p} /O <{o_val.hex()}> /U <{u_val.hex()}> >>"
            )
        out += f"{enc_num} 0 obj\n{enc_dict}\nendobj\n".encode()
        trailer_extra = (
            f" /Encrypt {enc_num} 0 R"
            f" /ID [<{enc_id0.hex()}> <{enc_id0.hex()}>]"
        )
    xref_pos = len(out)
    out += f"xref\n0 {n_objs}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, n_objs):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {n_objs} /Root 1 0 R{trailer_extra} >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n"
    ).encode()
    return bytes(out)


def _png_up_encode(raw: bytes, columns: int) -> bytes:
    """Forward PNG Up filter over rows of ``columns`` bytes (pad the last
    row with spaces) — the predictor-12 encoding third-party writers apply
    to xref streams and occasionally to content streams."""
    if len(raw) % columns:
        raw = raw + b" " * (columns - len(raw) % columns)
    out = bytearray()
    prev = bytes(columns)
    for r in range(0, len(raw), columns):
        row = raw[r : r + columns]
        out.append(2)  # Up
        out += bytes((row[i] - prev[i]) % 256 for i in range(columns))
        prev = row
    return bytes(out)


_TOUNICODE_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CMapName /Adobe-Identity-UCS def
/CMapType 2 def
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
2 beginbfchar
<0041> <0041>
<20AC> <20AC>
endbfchar
1 beginbfrange
<0000> <FFFF> <0000>
endbfrange
endcmap
CMapName currentdict /CMap defineresource pop
end
end"""


def make_pdf_bytes_modern(
    spans: list[dict],
    width: float = DEFAULT_PAGE_WIDTH,
    height: float = DEFAULT_PAGE_HEIGHT,
    predictor_columns: int = 24,
    decoy: bool = True,
    tounicode: bool = True,
) -> bytes:
    """Assemble the PDF 1.5+ dialect a modern third-party writer emits —
    every feature the classic writer does NOT use:

    - catalog / pages / font / page dicts live inside a Flate-compressed
      /Type /ObjStm object stream (no top-level dict objects at all);
    - content streams are FlateDecode + /DecodeParms /Predictor 12 (PNG Up
      row filter) with INDIRECT /Length (a separate bare-int object);
    - text is shown as hex UTF-16BE strings through an /Identity-H font
      with a /ToUnicode CMap (bfchar + identity bfrange);
    - the cross-reference is a /Type /XRef STREAM (W [1 4 2], predictor 12)
      with type-2 entries for the ObjStm members — there is no classic
      xref table and no ``trailer`` keyword;
    - ``decoy=True`` plants a stale same-numbered page object AFTER the
      real ObjStm: a parser that only regex-scans picks the decoy (broken
      /Contents ref) — only xref-driven resolution extracts the text.
    """
    by_page: dict[int, list[dict]] = {}
    for s in spans:
        by_page.setdefault(int(s["page"]), []).append(s)
    n_pages = (max(by_page) + 1) if by_page else 1

    # numbering: 1 catalog, 2 pages, 3 font, 4..3+n page dicts (all in the
    # ObjStm), U ToUnicode, then per page (content, length-int) pairs,
    # S objstm, X xref stream
    first_page = 4
    obj_u = first_page + n_pages
    first_content = obj_u + 1
    obj_s = first_content + 2 * n_pages
    obj_x = obj_s + 1
    size = obj_x + 1

    kids = " ".join(f"{first_page + p} 0 R" for p in range(n_pages))
    in_objstm: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (
            2,
            (
                f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} "
                f"/MediaBox [0 0 {width:g} {height:g}] >>"
            ).encode("latin-1"),
        ),
        (
            3,
            (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /Synthetic "
                f"/Encoding /Identity-H"
                + (f" /ToUnicode {obj_u} 0 R" if tounicode else "")
                + " >>"
            ).encode("latin-1"),
        ),
    ]
    for p in range(n_pages):
        in_objstm.append(
            (
                first_page + p,
                (
                    f"<< /Type /Page /Parent 2 0 R /Contents "
                    f"{first_content + 2 * p} 0 R "
                    f"/Resources << /Font << /F1 3 0 R >> >> >>"
                ).encode("latin-1"),
            )
        )

    out = bytearray(b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}

    # ToUnicode CMap stream (plain Flate, direct length). tounicode=False
    # (r6, the CJK-generator family): the font relies on its predefined
    # /Identity-H CMap alone — the obj_u slot becomes a null object so
    # the numbering/xref layout is identical either way, and extracted
    # text is unchanged by construction (identity decode == the CMap's
    # identity bfrange).
    offsets[obj_u] = len(out)
    if tounicode:
        cmap_z = zlib.compress(_TOUNICODE_CMAP, 9)
        out += (
            f"{obj_u} 0 obj\n<< /Length {len(cmap_z)} /Filter /FlateDecode >>"
            f"\nstream\n".encode()
            + cmap_z
            + b"\nendstream\nendobj\n"
        )
    else:
        out += f"{obj_u} 0 obj\nnull\nendobj\n".encode()

    # content streams: predictor-12 Flate, indirect /Length
    for p in range(n_pages):
        lines = ["BT"]
        for s in by_page.get(p, []):
            lines.extend(_span_ops(s, height, utf16=True))
        lines.append("ET")
        raw = "\n".join(lines).encode("latin-1")
        filtered = _png_up_encode(raw, predictor_columns)
        payload = zlib.compress(filtered, 9)
        cnum = first_content + 2 * p
        lnum = cnum + 1
        offsets[cnum] = len(out)
        out += (
            f"{cnum} 0 obj\n<< /Length {lnum} 0 R /Filter /FlateDecode "
            f"/DecodeParms << /Predictor 12 /Columns {predictor_columns} >> >>"
            f"\nstream\n".encode()
            + payload
            + b"\nendstream\nendobj\n"
        )
        offsets[lnum] = len(out)
        out += f"{lnum} 0 obj\n{len(payload)}\nendobj\n".encode()

    # the ObjStm holding every dict object
    parts: list[bytes] = []
    pairs: list[str] = []
    off = 0
    for num, body in in_objstm:
        pairs.append(f"{num} {off}")
        parts.append(body + b"\n")
        off += len(body) + 1
    objstm_payload = (" ".join(pairs) + "\n").encode("latin-1") + b"".join(parts)
    first = len((" ".join(pairs) + "\n").encode("latin-1"))
    objstm_z = zlib.compress(objstm_payload, 9)
    offsets[obj_s] = len(out)
    out += (
        f"{obj_s} 0 obj\n<< /Type /ObjStm /N {len(in_objstm)} /First {first} "
        f"/Length {len(objstm_z)} /Filter /FlateDecode >>\nstream\n".encode()
        + objstm_z
        + b"\nendstream\nendobj\n"
    )

    if decoy:
        # stale copy of page-dict object 4 pointing at a missing content
        # ref: a regex-only scanner takes it (later occurrence wins) and
        # loses the page; the xref type-2 entry restores the real one
        out += (
            b"4 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 999 0 R >>\n"
            b"endobj\n"
        )

    # xref STREAM: W [1 4 2], predictor 12, type-2 entries for objstm members
    xref_pos = len(out)
    member_index = {num: i for i, (num, _) in enumerate(in_objstm)}
    rows = bytearray()
    for num in range(size):
        if num == 0:
            rows += b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
        elif num in member_index:
            rows += (
                b"\x02" + obj_s.to_bytes(4, "big")
                + member_index[num].to_bytes(2, "big")
            )
        elif num == obj_x:
            rows += b"\x01" + xref_pos.to_bytes(4, "big") + b"\x00\x00"
        else:
            rows += b"\x01" + offsets[num].to_bytes(4, "big") + b"\x00\x00"
    xref_z = zlib.compress(_png_up_encode(bytes(rows), 7), 9)
    out += (
        f"{obj_x} 0 obj\n<< /Type /XRef /Size {size} /W [1 4 2] "
        f"/Index [0 {size}] /Root 1 0 R /Length {len(xref_z)} "
        f"/Filter /FlateDecode "
        f"/DecodeParms << /Predictor 12 /Columns 7 >> >>\nstream\n".encode()
        + xref_z
        + b"\nendstream\nendobj\n"
    )
    out += f"startxref\n{xref_pos}\n%%EOF\n".encode()
    return bytes(out)


def make_pdf_with_images(
    pages_images: "list[list[dict]]",
    width: float = DEFAULT_PAGE_WIDTH,
    height: float = DEFAULT_PAGE_HEIGHT,
) -> bytes:
    """Assemble a classic-dialect PDF embedding image XObjects (§8.9.5) —
    the fixture side of extract_pdf_images. ``pages_images`` is one list
    of image dicts per page; each dict: ``{"name": "Im1", "kind": ...,
    "pixels": np.uint8 array}`` with kinds:

    - ``jpeg``      (h,w,3) → /DCTDecode via the real baseline encoder
    - ``jpeg_a85``  (h,w,3) → [/ASCII85Decode /DCTDecode] chained form
    - ``gray``      (h,w)   → /DeviceGray /FlateDecode
    - ``rgb``       (h,w,3) → /DeviceRGB /FlateDecode
    - ``rgb_pred``  (h,w,3) → /DeviceRGB Flate + /Predictor 12 (PNG Up),
      the layout predictor-era writers emit for image data too
    - ``mask1``     (h,w) of 0/1 → /ImageMask true, 1-bit packed rows
    - ``ccitt``     dict carries ``width``/``height``/``data`` — raw
      /CCITTFaxDecode bytes, the documented-unsupported fixture

    Every image is also invoked from the page's content stream via
    ``cm``+``Do``, exercising the span walker's image-Do skip (a
    text-free fixture still returns None from parse_real_pdf — its
    documented no-spans signal — without garbling)."""
    import zlib as _z

    import numpy as np

    from deepseek_ocr_api_rs_spark.extraction.jpeg import encode_jpeg_rgb

    objects: dict[int, bytes] = {}
    page_refs: list[int] = []
    next_num = 3
    for imgs in pages_images:
        page_num = next_num
        content_num = page_num + 1
        next_num = content_num + 1
        names: list[tuple[str, int, int, int]] = []  # name, obj, w, h
        for i, spec in enumerate(imgs):
            kind = spec["kind"]
            name = spec.get("name", f"Im{i + 1}")
            inum = next_num
            next_num += 1
            if kind == "ccitt":
                w, h = int(spec["width"]), int(spec["height"])
                payload = bytes(spec["data"])
                head = (
                    f"<< /Type /XObject /Subtype /Image /Width {w} "
                    f"/Height {h} /ColorSpace /DeviceGray "
                    f"/BitsPerComponent 1 /Filter /CCITTFaxDecode "
                    f"/Length {len(payload)} >>"
                )
            else:
                px = np.ascontiguousarray(spec["pixels"], dtype=np.uint8)
                h, w = px.shape[0], px.shape[1]
                if kind == "jpeg":
                    payload = encode_jpeg_rgb(px)
                    extra = "/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode"
                elif kind == "jpeg_a85":
                    # the 7-bit-safe transport chain: A85 decodes first,
                    # then the image codec (§7.4.1 filter order)
                    payload = ascii85_encode(encode_jpeg_rgb(px))
                    extra = (
                        "/ColorSpace /DeviceRGB /BitsPerComponent 8 "
                        "/Filter [/ASCII85Decode /DCTDecode]"
                    )
                elif kind == "gray":
                    payload = _z.compress(px.tobytes())
                    extra = "/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode"
                elif kind == "rgb":
                    payload = _z.compress(px.tobytes())
                    extra = "/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode"
                elif kind == "rgb_pred":
                    payload = _z.compress(
                        _png_up_encode(px.tobytes(), 3 * w)
                    )
                    extra = (
                        "/ColorSpace /DeviceRGB /BitsPerComponent 8 "
                        "/Filter /FlateDecode /DecodeParms "
                        f"<< /Predictor 12 /Colors 3 /Columns {w} >>"
                    )
                elif kind == "mask1":
                    payload = _z.compress(
                        np.packbits(px & 1, axis=1).tobytes()
                    )
                    extra = "/ImageMask true /BitsPerComponent 1 /Filter /FlateDecode"
                else:
                    raise ValueError(kind)
                head = (
                    f"<< /Type /XObject /Subtype /Image /Width {w} "
                    f"/Height {h} {extra} /Length {len(payload)} >>"
                )
            objects[inum] = head.encode() + b"\nstream\n" + payload + b"\nendstream"
            names.append((name, inum, w, h))
        ops = "\n".join(
            f"q {w} 0 0 {h} {20 + 10 * i} {40 + 10 * i} cm /{nm} Do Q"
            for i, (nm, _o, w, h) in enumerate(names)
        ).encode()
        objects[content_num] = (
            f"<< /Length {len(ops)} >>\nstream\n".encode()
            + ops
            + b"\nendstream"
        )
        xdict = " ".join(f"/{nm} {o} 0 R" for nm, o, _w, _h in names)
        objects[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {width:g} "
            f"{height:g}] /Resources << /XObject << {xdict} >> >> "
            f"/Contents {content_num} 0 R >>"
        ).encode()
        page_refs.append(page_num)
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    kids = " ".join(f"{n} 0 R" for n in page_refs)
    objects[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_refs)} >>"
    ).encode()

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    xref_off = len(out)
    size = max(objects) + 1
    out += f"xref\n0 {size}\n".encode() + b"0000000000 65535 f \n"
    for n in range(1, size):
        out += f"{offsets.get(n, 0):010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {size} /Root 1 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF\n".encode()
    )
    return bytes(out)
