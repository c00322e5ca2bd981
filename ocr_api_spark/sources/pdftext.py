"""Minimal uncompressed-PDF text layer (the S4/S5 stand-in for
pdfplumber, which is absent from this container).

The reference reads PDFs two ways:
- E1 (app.py:3199-3212): per-page ``page.extract_text()`` concatenated
  with a trailing newline per page, OCR fallback when empty;
- E3 (app.py:3926-3941): ``page.within_bbox((x, y-10, x+w+7,
  y+h-15)).extract_text()`` with a wider retry box ``(x, y-10, x+w+50,
  y+h-5)`` when the first clip is empty.

This module implements those two surfaces over PDF 1.4 content
streams: BT/ET text objects, Tf sizing, Td/TD/Tm/T*/TL positioning,
Tj/TJ/' show ops, literal and hex strings.  Streams may be stored
raw, ``/FlateDecode`` (stdlib zlib, including PNG predictors via the
shared unfilter in kernels/png.py), ``/LZWDecode`` (full 9-12-bit
early-change variant), or ``/ASCIIHexDecode`` — every real-world
*text* content stream; DCT/JBIG2/JPX raster filters are image data,
not text, and raise ``MiniPdfError``.  PDF 1.5 ``/ObjStm`` object
streams expand (modern writers pack page/catalog dicts there), and
generation numbers are accepted everywhere.  Stream bodies are sliced
by ``/Length`` (direct or indirect) rather than regex-scanned, so
compressed bytes that happen to contain ``endstream``/``endobj``
cannot truncate the parse.
``write_minimal_pdf`` emits the same subset (optionally
Flate-compressed), so fixtures round-trip bit-deterministically.

Geometry conventions (pdfplumber-compatible): bboxes are (x0, top, x1,
bottom) with ``top`` measured DOWN from the page top; PDF device space
is bottom-up, so top = page_height - y.  A show op becomes a word box
of height ``size`` and width ``0.5 * size * len(text)`` (fixed-advance
approximation — the writer and parser share it, making within_bbox
exact for generated fixtures).  ``within_bbox`` keeps words fully
inside the box (pdfplumber strict semantics); ``extract_text`` orders
lines top-down, words left-to-right, single-space joined.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass


class MiniPdfError(Exception):
    pass


CHAR_WIDTH_FACTOR = 0.5  # fixed-advance width approximation per glyph
# LZW code space tops out at 12 bits; module-level so the table-full /
# clear-code boundary is testable at a small cap without 7 MB inputs
_LZW_MAX_CODE = 4095
# decompression bound for untrusted streams: a 64 MB TEXT content
# stream is already absurd; a zlib/LZW bomb must not OOM the executor
_MAX_STREAM_BYTES = 64 * 1024 * 1024


@dataclass
class Span:
    x0: float
    top: float
    size: float
    text: str

    @property
    def x1(self) -> float:
        return self.x0 + CHAR_WIDTH_FACTOR * self.size * len(self.text)

    @property
    def bottom(self) -> float:
        return self.top + self.size


_ESCAPES = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}


def _read_literal_string(data: bytes, i: int) -> tuple[str, int]:
    """data[i] == '(' — parse a PDF literal string, return (text, next_i)."""
    out = []
    depth = 1
    i += 1
    while i < len(data) and depth:
        c = data[i : i + 1]
        if c == b"\\":
            nxt = data[i + 1 : i + 2]
            if nxt in (b"\n", b"\r"):  # line continuation: swallow the EOL
                i += 2
                if nxt == b"\r" and data[i : i + 1] == b"\n":
                    i += 1
                continue
            if nxt and nxt in b"01234567":  # octal escape, up to 3 OCTAL digits
                # (bytes.isdigit would admit 8/9 and blow up int(_, 8))
                j = i + 1
                oct_digits = b""
                while j < len(data) and len(oct_digits) < 3 and data[j : j + 1] in b"01234567":
                    oct_digits += data[j : j + 1]
                    j += 1
                out.append(chr(int(oct_digits, 8)))
                i = j
                continue
            out.append(_ESCAPES.get(nxt, nxt.decode("latin-1")))
            i += 2
            continue
        if c == b"(":
            depth += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                i += 1
                break
        out.append(c.decode("latin-1"))
        i += 1
    return "".join(out), i


_TOKEN_RE = re.compile(
    rb"(\()|(<[0-9A-Fa-f\s]*>)|(/[^\s/\[\]()<>]+)|(\[)|(\])|(-?\d*\.?\d+)|(BT|ET|Tf|Td|TD|Tm|TL|T\*|Tj|TJ|')|(BI\b)"
)
# EI must come after the ID keyword: inline-image binary bytes between
# BI..ID are dict tokens, but the sample data after ID can spell
# anything — including a whitespace-delimited 'EI' — so the skip
# anchors on ID first and prefers a whitespace-delimited EI (the
# conventional form).  Whitespace before EI is conventional but NOT
# required by the spec, so when no such terminator exists the abutting
# form \bEI is the fallback — dropping it entirely would silently eat
# every text span after an abutting-EI image (review r4).
_INLINE_IMG_ID_RE = re.compile(rb"\bID[\s]")
_INLINE_IMG_END_RE = re.compile(rb"(?<=[\s])EI(?=\s|$)")
# no \b on the fallback: the abutting byte may itself be a word
# character (e.g. ...0x41 'A' + EI), where a word-boundary anchor
# would find nothing and the skip would eat the rest of the stream
_INLINE_IMG_END_FALLBACK_RE = re.compile(rb"EI(?=\s|$)")


def _skip_inline_image(stream: bytes, i: int) -> int:
    """``i`` is just past a ``BI`` token: return the offset just past
    the inline image's ``EI``, or the end of the stream when none
    closes it.  Its binary body can spell anything (fake strings or
    operators), so both content-stream tokenizers skip it wholesale."""
    idm = _INLINE_IMG_ID_RE.search(stream, i)
    start = idm.end() if idm else i
    em = _INLINE_IMG_END_RE.search(stream, start)
    if em is None:  # spec-legal EI abutting the image data
        em = _INLINE_IMG_END_FALLBACK_RE.search(stream, start)
    return em.end() if em else len(stream)


def _tokenize_spans(
    stream: bytes, page_height: float, origin_x: float = 0.0, origin_y: float = 0.0
) -> list[Span]:
    """Walk one content stream, emitting a Span per show op.  Span
    coordinates are reported relative to the MediaBox origin (top-down),
    so text geometry agrees with the raster path on offset boxes."""
    spans: list[Span] = []
    size = 12.0
    leading = 0.0
    line_x = line_y = 0.0  # text line matrix origin
    x = y = 0.0  # current text position
    stack: list = []  # operand stack (numbers / strings / arrays)
    in_text = False
    in_array: list | None = None

    def show(text: str) -> None:
        if text:
            spans.append(
                Span(
                    x0=x - origin_x,
                    top=origin_y + page_height - y,
                    size=size,
                    text=text,
                )
            )

    i = 0
    while i < len(stream):
        m = _TOKEN_RE.search(stream, i)
        if not m:
            break
        i = m.end()
        if m.group(8):  # BI: inline image, skipped past ID → EI
            i = _skip_inline_image(stream, i)
            stack.clear()
            continue
        if m.group(1):  # literal string
            text, i = _read_literal_string(stream, m.start())
            (in_array if in_array is not None else stack).append(text)
        elif m.group(2):  # hex string
            hx = re.sub(rb"\s", b"", m.group(2)[1:-1])
            if len(hx) % 2:
                hx += b"0"
            text = bytes.fromhex(hx.decode("ascii")).decode("latin-1")
            (in_array if in_array is not None else stack).append(text)
        elif m.group(3):  # name (e.g. /F1) — operand, keep as marker
            stack.append(m.group(3).decode("latin-1"))
        elif m.group(4):  # [
            in_array = []
        elif m.group(5):  # ]
            stack.append(in_array or [])
            in_array = None
        elif m.group(6):  # number
            (in_array if in_array is not None else stack).append(float(m.group(6)))
        else:
            op = m.group(7)
            if op == b"BT":
                in_text = True
                line_x = line_y = x = y = 0.0
                stack.clear()
            elif op == b"ET":
                in_text = False
                stack.clear()
            elif not in_text:
                stack.clear()
            elif op == b"Tf":
                # operands may include the font name; only a number sets size
                size = stack[-1] if stack and isinstance(stack[-1], float) else size
                stack.clear()
            elif op == b"TL":
                leading = stack[-1] if stack and isinstance(stack[-1], float) else leading
                stack.clear()
            elif op in (b"Td", b"TD"):
                if len(stack) >= 2 and isinstance(stack[-1], float) and isinstance(stack[-2], float):
                    tx, ty = stack[-2], stack[-1]
                    if op == b"TD":
                        leading = -ty
                    line_x += tx
                    line_y += ty
                    x, y = line_x, line_y
                stack.clear()
            elif op == b"Tm":
                if len(stack) >= 6 and isinstance(stack[-1], float) and isinstance(stack[-2], float):
                    line_x, line_y = stack[-2], stack[-1]
                    x, y = line_x, line_y
                stack.clear()
            elif op == b"T*":
                line_y -= leading
                x, y = line_x, line_y
                stack.clear()
            elif op == b"Tj":
                if stack and isinstance(stack[-1], str):
                    show(stack[-1])
                    x += CHAR_WIDTH_FACTOR * size * len(stack[-1])
                stack.clear()
            elif op == b"'":
                line_y -= leading
                x, y = line_x, line_y
                if stack and isinstance(stack[-1], str):
                    show(stack[-1])
                    x += CHAR_WIDTH_FACTOR * size * len(stack[-1])
                stack.clear()
            elif op == b"TJ":
                if stack and isinstance(stack[-1], list):
                    for item in stack[-1]:
                        if isinstance(item, str):
                            show(item)
                            x += CHAR_WIDTH_FACTOR * size * len(item)
                        else:  # kerning adjustment, thousandths of size
                            x -= float(item) / 1000.0 * size
                stack.clear()
    return spans


class PdfPage:
    """pdfplumber-shaped page: ``extract_text`` + ``within_bbox``."""

    def __init__(self, spans: list[Span], width: float, height: float):
        self.spans = spans
        self.width = width
        self.height = height

    def within_bbox(self, bbox: tuple[float, float, float, float]) -> "PdfPage":
        x0, top, x1, bottom = bbox
        kept = [
            s
            for s in self.spans
            if s.x0 >= x0 and s.x1 <= x1 and s.top >= top and s.bottom <= bottom
        ]
        return PdfPage(kept, self.width, self.height)

    def extract_text(self) -> str | None:
        if not self.spans:
            return None
        lines: dict[float, list[Span]] = {}
        for s in self.spans:
            key = round(s.top, 1)
            lines.setdefault(key, []).append(s)
        out = []
        for top in sorted(lines):
            words = sorted(lines[top], key=lambda s: s.x0)
            out.append(" ".join(w.text for w in words))
        return "\n".join(out)


# generation numbers accepted on every reference/def: incremental-
# update writers emit gen > 0 and our scanner keeps the LAST definition
_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+\d+\s+obj")
_STREAM_KW_RE = re.compile(rb"stream(\r\n|\n|\r)")
_ENDSTREAM_RE = re.compile(rb"endstream")
# all four coordinates, sign included: the box may have a nonzero
# (even negative) origin — width/height are EXTENTS, not corners
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s*\]"
)
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
# (?!\d) pins the number's end: without it, '/Length 10 0 R' backtracks
# to group '1', sneaks past the not-a-reference lookahead, and silently
# truncates the stream to 1 byte (round-3 review finding, reproduced)
_LENGTH_DIRECT_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")
_LENGTH_REF_RE = re.compile(rb"/Length\s+(\d+)\s+\d+\s+R")
_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_PREDICTOR_RE = re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = re.compile(rb"/Columns\s+(\d+)")
_COLORS_RE = re.compile(rb"/Colors\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")
_EARLYCHANGE_RE = re.compile(rb"/EarlyChange\s+(\d+)")
_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RE = re.compile(rb"/First\s+(\d+)")
_KIDS_RE = re.compile(rb"/Kids\s*\[((?:\s*\d+\s+\d+\s+R)*)\s*\]")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")


def _length_of(header: bytes, data: bytes) -> int | None:
    """Resolve the /Length entry of a stream dict — direct integer or an
    indirect reference looked up anywhere in the file (the referenced
    length object is a bare integer, safe to regex)."""
    # indirect form checked FIRST: belt and braces with the (?!\d) pin
    rm = _LENGTH_REF_RE.search(header)
    if not rm:
        dm = _LENGTH_DIRECT_RE.search(header)
        if dm:
            return int(dm.group(1))
    if rm:
        # last definition wins, consistent with _scan_objects: in an
        # incrementally-updated PDF the superseding length object is
        # appended after the original (ADVICE r3)
        lm = None
        for lm in re.finditer(
            rb"(?<![\d])" + rm.group(1) + rb"\s+\d+\s+obj\s*(\d+)\s*endobj", data
        ):
            pass
        if lm:
            return int(lm.group(1))
    return None


def _scan_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """num → (header/dict bytes, raw stream payload or None).  Stream
    bodies are sliced by /Length when available so binary (compressed)
    payloads containing ``endstream``/``endobj`` can't truncate the
    scan; regex-to-endstream is only the no-Length fallback."""
    objects: dict[int, tuple[bytes, bytes | None]] = {}
    pos = 0
    while True:
        hm = _OBJ_HEAD_RE.search(data, pos)
        if not hm:
            break
        num = int(hm.group(1))
        body_start = hm.end()
        sm = _STREAM_KW_RE.search(data, body_start)
        em = data.find(b"endobj", body_start)
        if sm and (em == -1 or sm.start() < em):
            header = data[body_start : sm.start()]
            payload_start = sm.end()
            length = _length_of(header, data)
            if length is not None and payload_start + length <= len(data):
                payload = data[payload_start : payload_start + length]
                tail = _ENDSTREAM_RE.search(data, payload_start + length)
            else:
                tail = _ENDSTREAM_RE.search(data, payload_start)
                if not tail:
                    break
                payload = data[payload_start : tail.start()].rstrip(b"\r\n")
            if not tail:
                break
            objects[num] = (header, payload)
            em = data.find(b"endobj", tail.end())
            pos = (em + 6) if em != -1 else tail.end()
        else:
            if em == -1:
                objects[num] = (data[body_start:], None)
                break
            objects[num] = (data[body_start:em], None)
            pos = em + 6
    return objects


def lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """PDF/TIFF-variant LZW (T.81's cousin in the PDF 1.1 era and a
    spec-complete filter here): MSB-first variable-width codes from 9
    bits, 256=clear / 257=EOD, width bumps at table sizes 511/1023/2047
    (one code early when EarlyChange=1, the PDF default)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # clear table
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise MiniPdfError("bad LZW stream: first code out of range")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) <= _LZW_MAX_CODE:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) <= _LZW_MAX_CODE:  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise MiniPdfError("bad LZW stream: code out of range")
            out += entry
            if len(out) > _MAX_STREAM_BYTES:
                raise MiniPdfError("LZW stream exceeds the size bound")
            prev = entry
            # the decoder runs one table entry behind the encoder, which
            # is exactly why EarlyChange exists: bump one code early
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """The matching fixture writer, so decode is testable by round-trip."""
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    acc = nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(256)  # leading clear, as most PDF writers emit
    seq = b""
    for byte in bytes(data):
        cand = seq + bytes([byte])
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        if next_code <= _LZW_MAX_CODE:
            # next_code == _LZW_MAX_CODE+1 would be unemittable in 12
            # bits regardless of EarlyChange (round-3 review finding)
            table[cand] = next_code
            next_code += 1
            if next_code + early_change - 1 >= (1 << width) and width < 12:
                width += 1
        else:  # table full: clear, as the PDF spec requires of encoders
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        seq = bytes([byte])
    if seq:
        emit(table[seq])
    emit(257)  # EOD
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _decode_stream(header: bytes, raw: bytes) -> bytes:
    """Apply the /Filter chain.  FlateDecode is stdlib zlib (with PNG
    predictors via kernels/png.unfilter_scanlines); LZWDecode and
    ASCIIHexDecode are implemented here; DCT/JBIG2/JPX raster codecs
    raise MiniPdfError (they are image data, not text streams)."""
    fm = _FILTER_RE.search(header)
    if not fm:
        return raw

    def unpredict(data: bytes) -> bytes:
        pm = _PREDICTOR_RE.search(header)
        pred = int(pm.group(1)) if pm else 1
        if pred >= 10:  # PNG row predictors share the image unfilter
            from ocr_api_spark.kernels.png import PngError, unfilter_scanlines

            cols = int(m.group(1)) if (m := _COLUMNS_RE.search(header)) else 1
            colors = int(m.group(1)) if (m := _COLORS_RE.search(header)) else 1
            bpc = int(m.group(1)) if (m := _BPC_RE.search(header)) else 8
            row_bytes = (cols * colors * bpc + 7) // 8
            bpp = max(1, colors * bpc // 8)
            try:
                return unfilter_scanlines(data, row_bytes, bpp)
            except PngError as e:
                raise MiniPdfError(f"bad predictor data: {e}") from e
        if pred > 1:
            raise MiniPdfError(f"unsupported /Predictor {pred}")
        return data

    data = raw
    for name in _NAME_RE.findall(fm.group(1)):
        if name == b"FlateDecode":
            import zlib

            try:
                d = zlib.decompressobj()
                data = d.decompress(data, _MAX_STREAM_BYTES)
                if d.unconsumed_tail:  # inflate bomb: bounded, then reject
                    raise MiniPdfError("Flate stream exceeds the size bound")
            except zlib.error as e:
                raise MiniPdfError(f"bad Flate stream: {e}") from e
            data = unpredict(data)
        elif name == b"LZWDecode":
            ec = int(m.group(1)) if (m := _EARLYCHANGE_RE.search(header)) else 1
            data = unpredict(lzw_decode(data, early_change=ec))
        elif name == b"ASCIIHexDecode":
            hx = re.sub(rb"[\s>]", b"", data)
            if len(hx) % 2:
                hx += b"0"
            try:
                data = bytes.fromhex(hx.decode("ascii"))
            except (ValueError, UnicodeDecodeError) as e:
                raise MiniPdfError(f"bad ASCIIHex stream: {e}") from e
        else:
            raise MiniPdfError(f"unsupported stream filter /{name.decode('ascii')}")
    return data


def _expand_object_streams(objects: dict[int, tuple[bytes, bytes | None]]) -> None:
    """PDF 1.5+ object streams: an object with ``/Type /ObjStm`` packs N
    dictionary objects inside its (usually Flate) stream — modern
    writers put page/catalog dicts there, which a header-scan alone
    never sees.  The stream starts with N ``objnum offset`` pairs
    (offsets relative to /First); contained objects may not themselves
    carry streams, so they join the map as plain bodies.  Top-level
    definitions win on conflicts."""
    for _num, (hdr, raw) in list(objects.items()):
        if raw is None or b"/ObjStm" not in hdr:
            continue
        nm = _OBJSTM_N_RE.search(hdr)
        fm = _OBJSTM_FIRST_RE.search(hdr)
        if not nm or not fm:
            continue
        try:
            data = _decode_stream(hdr, raw)
        except MiniPdfError:
            continue  # an unreadable ObjStm degrades, not poisons
        n, first = int(nm.group(1)), int(fm.group(1))
        head = data[:first].split()
        if len(head) < 2 * n:
            continue
        try:
            pairs = [(int(head[2 * i]), int(head[2 * i + 1])) for i in range(n)]
        except ValueError:
            continue
        for idx, (onum, off) in enumerate(pairs):
            end = pairs[idx + 1][1] if idx + 1 < n else len(data) - first
            if off < 0 or end < off:
                continue
            objects.setdefault(onum, (data[first + off : first + end], None))


def _page_order(objects: dict[int, tuple[bytes, bytes | None]], page_nums: list[int]) -> list[int]:
    """Document order from the page tree: walk /Kids depth-first from
    the /Pages node(s) (ADVICE r2 — object-number order scrambles
    corpora whose writers number pages out of order).  Falls back to
    object-number order when no tree resolves."""
    roots = [
        n
        for n, (hdr, _) in objects.items()
        if b"/Type" in hdr and b"/Pages" in hdr and _KIDS_RE.search(hdr)
    ]
    page_set = set(page_nums)
    referenced = {
        int(r)
        for n in roots
        for r in _REF_RE.findall(_KIDS_RE.search(objects[n][0]).group(1))
    }
    top = [n for n in roots if n not in referenced] or roots
    ordered: list[int] = []
    seen: set[int] = set()
    # an explicit stack, not recursion: a tree may nest deeper than
    # Python's recursion limit.  Kids go on reversed, so they pop in order.
    stack = sorted(top, reverse=True)
    while stack:
        num = stack.pop()
        if num in seen:  # cycle guard
            continue
        seen.add(num)
        if num in page_set:
            ordered.append(num)
            continue
        entry = objects.get(num)
        km = _KIDS_RE.search(entry[0]) if entry is not None else None
        if km:
            stack += [int(ref) for ref in reversed(_REF_RE.findall(km.group(1)))]
    if set(ordered) == page_set:
        return ordered
    # incomplete tree: keep what the tree ordered, append strays by number
    return ordered + sorted(page_set - set(ordered))


def parse_pdf(data: bytes) -> list[PdfPage]:
    """All pages, in /Kids document order (object-number fallback).
    Every parse-time failure on untrusted bytes surfaces as
    ``MiniPdfError`` — callers route that to the OCR fallback instead
    of failing the Spark task (fuzz-tested)."""
    try:
        return _parse_pdf(data)
    except MiniPdfError:
        raise
    except Exception as e:  # any parse failure on untrusted bytes
        raise MiniPdfError(f"malformed PDF: {type(e).__name__}: {e}") from e


def _pdf_pages(data: bytes) -> tuple[dict, Iterator[tuple]]:
    """The object map and a lazy iterator of ``(num, page dict,
    (x0, y0, x1, y1) MediaBox, content object or None)`` in document
    order — the page walk the text and raster readers share.  Lazy, so
    a reader's per-page errors surface in page order: the MediaBox is
    checked only when its page is reached."""
    if not data.startswith(b"%PDF"):
        raise MiniPdfError("not a PDF payload")
    objects = _scan_objects(data)
    _expand_object_streams(objects)
    page_nums = [
        num
        for num, (hdr, _) in sorted(objects.items())
        if b"/Type" in hdr and b"/Page" in hdr and b"/Pages" not in hdr
    ]

    def walk(order: list[int]):
        for num in order:
            hdr, _ = objects[num]
            mb = _MEDIABOX_RE.search(hdr)
            if mb:
                box = tuple(float(mb.group(i)) for i in range(1, 5))
            else:  # US Letter when the page dict names no box
                box = (0.0, 0.0, 612.0, 792.0)
            if box[2] - box[0] <= 0 or box[3] - box[1] <= 0:
                raise MiniPdfError("degenerate /MediaBox")
            cm = _CONTENTS_RE.search(hdr)
            yield num, hdr, box, objects.get(int(cm.group(1))) if cm else None

    return objects, walk(_page_order(objects, page_nums))


def _parse_pdf(data: bytes) -> list[PdfPage]:
    pages = []
    for _num, _hdr, (bx0, by0, bx1, by1), content in _pdf_pages(data)[1]:
        width, height = bx1 - bx0, by1 - by0
        spans: list[Span] = []
        if content is not None and content[1] is not None:
            stream = _decode_stream(*content)
            try:
                spans = _tokenize_spans(stream, height, origin_x=bx0, origin_y=by0)
            except Exception as e:
                # a malformed-but-real PDF must be a MiniPdfError, not a
                # poison pill: callers route MiniPdfError to the OCR
                # fallback / None clip instead of failing the Spark task
                raise MiniPdfError(
                    f"unparseable content stream: {type(e).__name__}: {e}"
                ) from e
        pages.append(PdfPage(spans, width, height))
    return pages


def pdf_text(data: bytes) -> str:
    """E1 shape (app.py:3202-3206): per-page extract_text, '\\n' after
    each non-empty page."""
    text = ""
    for page in parse_pdf(data):
        page_text = page.extract_text()
        if page_text:
            text += page_text + "\n"
    return text


def clip_text(page: PdfPage, x: float, y: float, w: float, h: float) -> str | None:
    """E3 clip with the reference's exact padding + retry boxes
    (app.py:3938-3941): (x, y-10, x+w+7, y+h-15), then
    (x, y-10, x+w+50, y+h-5) when empty."""
    clipped = page.within_bbox((x, y - 10, x + w + 7, y + h - 15)).extract_text()
    if not clipped:
        clipped = page.within_bbox((x, y - 10, x + w + 50, y + h - 5)).extract_text()
    return clipped


def pdf_from_text(
    text: str, words_per_line: int = 6, size: float = 12.0, compress: bool = False
) -> bytes:
    """Deterministic document→PDF lay-out: ``words_per_line`` words per
    line, 16-pt leading from top 72.  Shared by the Spark query and the
    driver-side oracle so PDF write→parse round-trips are comparable.
    ``compress=True`` emits /FlateDecode content streams (zlib level 6,
    deterministic), exercising the compressed parse path."""
    words = [w for w in text.split(" ") if w]
    spans = []
    for i in range(0, len(words), words_per_line):
        line = " ".join(words[i : i + words_per_line])
        spans.append((72.0, 72.0 + 16.0 * (i // words_per_line), size, line))
    return write_minimal_pdf([spans], compress=compress)


# --- fixture writer -----------------------------------------------------------


def write_minimal_pdf(
    pages: list[list[tuple[float, float, float, str]]],
    page_width: float = 612.0,
    page_height: float = 792.0,
    compress: bool = False,
) -> bytes:
    """Emit a PDF 1.4.  Each page is a list of (x, top, size, text)
    tuples in the same top-down coordinates the parser reports — write
    → parse round-trips exactly.  ``compress=True`` stores content
    streams with /FlateDecode (deterministic zlib level 6)."""

    def esc(t: str) -> str:
        return t.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    objs: list[bytes] = []
    n_pages = len(pages)
    page_obj_ids = [3 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{pid} 0 R" for pid in page_obj_ids)
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i, spans in enumerate(pages):
        content_id = page_obj_ids[i] + 1
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_width} {page_height}] "
                f"/Contents {content_id} 0 R /Resources << /Font << /F1 << /Type /Font "
                f"/Subtype /Type1 /BaseFont /Helvetica >> >> >> >>"
            ).encode()
        )
        parts = []
        for x, top, size, text in spans:
            y = page_height - top
            parts.append(f"BT /F1 {size} Tf {x} {y} Td ({esc(text)}) Tj ET")
        # PDF literal strings are byte strings; non-latin-1 text degrades
        # deterministically (same replacement on writer and parser side)
        content = "\n".join(parts).encode("latin-1", errors="replace")
        if compress:
            import zlib

            content = zlib.compress(content, 6)
        objs.append(_stream_obj(content, tail=" /Filter /FlateDecode" if compress else ""))
    return _serialize(objs)


def _stream_obj(payload: bytes, head: str = "", tail: str = "") -> bytes:
    """A stream object's body: its dict (``head`` and ``tail`` are the
    entries before and after /Length), then the payload."""
    return (
        f"<< {head}/Length {len(payload)}{tail} >>\nstream\n".encode()
        + payload
        + b"\nendstream"
    )


def _serialize(objs: list[bytes]) -> bytes:
    """A PDF 1.4 file of ``objs`` numbered from 1: header, objects,
    cross-reference table, trailer with object 1 as the catalog."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\nstartxref\n{xref_pos}\n%%EOF\n"
    ).encode()
    return bytes(out)
