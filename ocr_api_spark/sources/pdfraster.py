"""PDF → raster pages, on the repo's own codec stack (closes S3).

The reference converts PDFs to images with poppler (``convert_from_bytes``
at 300 dpi, app.py:419-443) before the OCR branch.  Its real inputs are
scanned documents — each page is one embedded image XObject placed over
the full page — so rasterization here means: walk the pages through
the text reader's object layer (``sources/pdftext._pdf_pages``: object
scan, object streams, page-tree order, MediaBox), decode each page's
image XObjects with the pure-numpy codecs (``kernels/jpeg.py`` for
/DCTDecode, zlib/LZW via the shared stream decoder for raw samples),
and composite them onto a white page canvas at the requested dpi.

``convert_pdf_to_image`` replicates the reference's endpoint logic
exactly (app.py:419-443): 1 page → that page's raster; 2 pages →
vertical merge on a white canvas sized (max width, sum of heights),
page 2 pasted at (0, height_1); anything else → None (reject).

Pixel conventions match the rest of the repo (cv2-style): canvases are
H×W×3 uint8 **BGR**; grayscale XObjects broadcast to BGR on paste.
Placement resampling is nearest-neighbor over pixel centers —
deterministic, vectorized, and exact (identity) when the placed size
equals the source size, which is the round-trip case the fixtures and
the driver gate pin byte-for-byte.

Untrusted-bytes policy is the same as the text parser: every failure is
a ``MiniPdfError`` (callers route it to a 'bad_pdf' status, never a
poison pill), and decoded sample counts are capped before allocation.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

from ocr_api_spark.sources.pdftext import (
    MiniPdfError,
    _BPC_RE,
    _FILTER_RE,
    _NAME_RE,
    _decode_stream,
    _pdf_pages,
    _read_literal_string,
    _serialize,
    _skip_inline_image,
    _stream_obj,
    lzw_encode,
)

_RESOURCES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")
_PARENT_RE = re.compile(rb"/Parent\s+(\d+)\s+\d+\s+R")
_XOBJ_DICT_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.S)
_NAME_REF_RE = re.compile(rb"/([^\s/\[\]()<>]+)\s+(\d+)\s+\d+\s+R")
_WIDTH_RE = re.compile(rb"/Width\s+(\d+)")
_HEIGHT_RE = re.compile(rb"/Height\s+(\d+)")
_CS_RE = re.compile(rb"/ColorSpace\s*/([A-Za-z0-9]+)")

_MAX_SAMPLES = 64_000_000  # decoded image samples (w*h*channels)
_MAX_CANVAS_PIXELS = 64_000_000  # per-page canvas, dpi-derived


def _decode_image_xobject(header: bytes, raw: bytes) -> np.ndarray:
    """One /Subtype /Image stream → uint8 pixels (2-D gray or H×W×3
    BGR).  /DCTDecode routes to the JPEG codec; everything else goes
    through the shared filter chain (Flate incl. PNG predictors, LZW,
    ASCIIHex) and is reshaped from raw samples."""
    wm, hm = _WIDTH_RE.search(header), _HEIGHT_RE.search(header)
    if not wm or not hm:
        raise MiniPdfError("image XObject without /Width or /Height")
    width, height = int(wm.group(1)), int(hm.group(1))
    if width == 0 or height == 0:
        raise MiniPdfError("zero-dimension image XObject")
    bpc = int(m.group(1)) if (m := _BPC_RE.search(header)) else 8
    cs = (m.group(1).decode("ascii") if (m := _CS_RE.search(header)) else "DeviceGray")
    channels = {"DeviceRGB": 3, "DeviceGray": 1}.get(cs)
    if channels is None:
        raise MiniPdfError(f"unsupported image /ColorSpace /{cs}")
    if width * height * channels > _MAX_SAMPLES:
        raise MiniPdfError(f"image {width}x{height}x{channels} exceeds the sample cap")

    fm = _FILTER_RE.search(header)
    names = _NAME_RE.findall(fm.group(1)) if fm else []
    if names and names[-1] == b"DCTDecode":
        if len(names) > 1:
            raise MiniPdfError("filter chains before /DCTDecode are unsupported")
        from ocr_api_spark.kernels.jpeg import JpegError, decode_jpeg

        try:
            arr = decode_jpeg(raw)
        except JpegError as e:
            raise MiniPdfError(f"bad /DCTDecode image: {e}") from e
        if arr.shape[0] != height or arr.shape[1] != width:
            raise MiniPdfError("JPEG geometry disagrees with the image dict")
        return arr

    data = _decode_stream(header, raw)  # full chain incl. predictors
    if bpc == 8:
        expected = height * width * channels
        if len(data) < expected:
            raise MiniPdfError("image stream inflates short of its geometry")
        arr = np.frombuffer(data[:expected], dtype=np.uint8).reshape(
            height, width, channels
        )
        # PDF sample order is RGB; the repo's pixel convention is BGR
        return arr[:, :, ::-1].copy() if channels == 3 else arr[:, :, 0].copy()
    if bpc == 1 and channels == 1:
        # 1-bit gray — the classic CCITT-era document scan, minus the
        # fax codecs (those raise): row-padded to whole bytes, MSB first
        row_bytes = (width + 7) // 8
        expected = height * row_bytes
        if len(data) < expected:
            raise MiniPdfError("image stream inflates short of its geometry")
        bits = np.unpackbits(
            np.frombuffer(data[:expected], dtype=np.uint8).reshape(height, row_bytes),
            axis=1,
        )[:, :width]
        return (bits * 255).astype(np.uint8)
    raise MiniPdfError(f"unsupported image depth {bpc} for /{cs}")


def _resample_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Pixel-center nearest-neighbor: exact identity at equal size."""
    h, w = img.shape[0], img.shape[1]
    if (h, w) == (out_h, out_w):
        return img
    rows = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
    cols = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
    return img[rows][:, cols]


def _interp_placements(stream: bytes) -> list[tuple[str, tuple[float, ...]]]:
    """Minimal content-stream interpreter for the image branch: track
    the CTM through q/Q/cm and emit (xobject_name, ctm) per Do.  Text
    ops just push operands that the next operator pops-by-clearing —
    only the graphics-state subset matters here.

    Literal strings and BI..ID..EI inline images are skipped wholesale
    (ADVICE r4): a text-bearing page whose string content contains a
    standalone ``Q`` (e.g. ``(Mr. Q) Tj``) would otherwise pop the CTM
    stack mid-stream — misplacing images or tripping the
    non-axis-aligned raise and degrading the document to bad_pdf.  The
    escape/nesting rules are the sibling text tokenizer's
    (pdftext._read_literal_string, pdftext._skip_inline_image)."""

    ident = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

    def mul(m: tuple, n: tuple) -> tuple:
        # row-vector convention: point → m → n (cm prepends onto the CTM)
        a1, b1, c1, d1, e1, f1 = m
        a2, b2, c2, d2, e2, f2 = n
        return (
            a1 * a2 + b1 * c2,
            a1 * b2 + b1 * d2,
            c1 * a2 + d1 * c2,
            c1 * b2 + d1 * d2,
            e1 * a2 + f1 * c2 + e2,
            e1 * b2 + f1 * d2 + f2,
        )

    ctm = ident
    stack: list[tuple] = []
    operands: list = []
    placements: list[tuple[str, tuple[float, ...]]] = []
    tok_re = re.compile(
        rb"(/[^\s/\[\]()<>]+)|([-+]?\d*\.?\d+)|(\b(?:q|Q|cm|Do)\b)|(\()|(\bBI\b)"
    )
    i = 0
    while i < len(stream):
        tok = tok_re.search(stream, i)
        if not tok:
            break
        i = tok.end()
        if tok.group(4):  # literal string: skip past it, escapes and all
            _, i = _read_literal_string(stream, tok.start(4))
            continue
        if tok.group(5):  # BI..ID..EI inline image: skip wholesale
            i = _skip_inline_image(stream, i)
            operands = []
            continue
        if tok.group(1):
            operands.append(tok.group(1)[1:].decode("latin-1"))
        elif tok.group(2):
            operands.append(float(tok.group(2)))
        else:
            op = tok.group(3)
            if op == b"q":
                stack.append(ctm)
            elif op == b"Q":
                ctm = stack.pop() if stack else ident
            elif op == b"cm":
                nums = [v for v in operands if isinstance(v, float)][-6:]
                if len(nums) == 6:
                    ctm = mul(tuple(nums), ctm)
            elif op == b"Do":
                names = [v for v in operands if isinstance(v, str)]
                if names:
                    placements.append((names[-1], ctm))
            operands = []
    return placements


def rasterize_pdf_pages(data: bytes, dpi: int = 300) -> list[np.ndarray]:
    """Every page as a white-backed H×W×3 BGR canvas at ``dpi``, with
    each image XObject the content stream places (axis-aligned ``cm``
    only — rotated/skewed CTMs raise) resampled into its rect.  The
    scanned-document case — one full-page image per page — reproduces
    the embedded pixels exactly at the embedding dpi."""
    try:
        return _rasterize(data, dpi)
    except MiniPdfError:
        raise
    except Exception as e:  # any parse failure on untrusted bytes
        raise MiniPdfError(f"malformed PDF: {type(e).__name__}: {e}") from e


def _xobjects_of(objects: dict, page_num: int, hdr: bytes) -> dict[str, int]:
    """The page's /XObject name→ref map, resolving the three spellings
    real writers use (review r4): /Resources inline in the page dict,
    /Resources as an indirect reference, and /Resources inherited from
    an ancestor /Pages node (scanner output very commonly puts one
    shared resource dict on the root Pages)."""
    seen: set[int] = set()
    num: int | None = page_num
    body: bytes | None = hdr
    while body is not None:
        search_in = [body]
        rm = _RESOURCES_REF_RE.search(body)
        if rm and int(rm.group(1)) in objects:
            search_in.append(objects[int(rm.group(1))][0])
        for src in search_in:
            xm = _XOBJ_DICT_RE.search(src)
            if xm:
                return {
                    name.decode("latin-1"): int(ref)
                    for name, ref in _NAME_REF_RE.findall(xm.group(1))
                }
        pm = _PARENT_RE.search(body)
        if not pm:
            break
        num = int(pm.group(1))
        if num in seen or num not in objects:  # cycle / dangling parent
            break
        seen.add(num)
        body = objects[num][0]
    return {}


def _rasterize(data: bytes, dpi: int) -> list[np.ndarray]:
    objects, page_iter = _pdf_pages(data)
    scale = dpi / 72.0
    pages: list[np.ndarray] = []
    for num, hdr, (mb_x0, mb_y0, mb_x1, mb_y1), content in page_iter:
        cw = max(1, round((mb_x1 - mb_x0) * scale))
        ch = max(1, round((mb_y1 - mb_y0) * scale))
        if cw * ch > _MAX_CANVAS_PIXELS:
            raise MiniPdfError(f"page canvas {cw}x{ch} exceeds the pixel cap")
        canvas = np.full((ch, cw, 3), 255, dtype=np.uint8)

        xobjects = _xobjects_of(objects, num, hdr)
        if content is not None and xobjects:
            stream = _decode_stream(*content) if content[1] is not None else b""
            for name, ctm in _interp_placements(stream):
                ref = xobjects.get(name)
                if ref is None or ref not in objects:
                    continue
                x_hdr, x_raw = objects[ref]
                if b"/Image" not in x_hdr or x_raw is None:
                    continue  # form XObjects are out of scope (text path)
                a, b, c, d, e, f = ctm
                if b != 0.0 or c != 0.0 or a <= 0.0 or d <= 0.0:
                    raise MiniPdfError("unsupported (non-axis-aligned) image CTM")
                img = _decode_image_xobject(x_hdr, x_raw)
                # unit square → placement rect, in MediaBox-origin
                # device coordinates; PDF y-up, canvas row 0 = top
                x0 = round((e - mb_x0) * scale)
                x1 = round((e + a - mb_x0) * scale)
                y0 = round((mb_y1 - f - d) * scale)
                y1 = round((mb_y1 - f) * scale)
                if x1 <= x0 or y1 <= y0:
                    continue
                placed = _resample_nearest(img, y1 - y0, x1 - x0)
                if placed.ndim == 2:
                    placed = np.repeat(placed[..., None], 3, axis=2)
                # clip to the canvas (content may bleed off-page)
                sy, sx = max(0, -y0), max(0, -x0)
                ty0, tx0 = max(0, y0), max(0, x0)
                ty1, tx1 = min(ch, y1), min(cw, x1)
                if ty1 > ty0 and tx1 > tx0:
                    canvas[ty0:ty1, tx0:tx1] = placed[
                        sy : sy + (ty1 - ty0), sx : sx + (tx1 - tx0)
                    ]
        pages.append(canvas)
    return pages


def merge_pages(images: list[np.ndarray]) -> np.ndarray | None:
    """The reference endpoint's page policy (app.py:424-443): 1 page →
    its raster; 2 pages → vertical merge on a white (255,255,255)
    canvas sized (max width, h1+h2) with page 2 pasted at (0, h1); 0 or
    >2 pages → None (the endpoint's reject path returns False)."""
    if len(images) == 1:
        return images[0]
    if len(images) == 2:
        img1, img2 = images
        new_w = max(img1.shape[1], img2.shape[1])
        merged = np.full((img1.shape[0] + img2.shape[0], new_w, 3), 255, dtype=np.uint8)
        merged[: img1.shape[0], : img1.shape[1]] = img1
        merged[img1.shape[0] :, : img2.shape[1]] = img2
        return merged
    return None


def convert_pdf_to_image(data: bytes, dpi: int = 300) -> np.ndarray | None:
    """The reference's ``convert_pdf_to_image`` (app.py:419-443), on the
    repo's own raster stack."""
    return merge_pages(rasterize_pdf_pages(data, dpi=dpi))


# --- fixture writer -----------------------------------------------------------


def write_image_pdf(
    images: list[np.ndarray],
    dpi: int = 300,
    codec: str = "jpeg",
    quality: int = 85,
) -> bytes:
    """Scanned-document PDF fixture: one full-page image XObject per
    page, MediaBox sized so rasterizing at the same ``dpi`` returns the
    embedded geometry exactly.  ``codec``: 'jpeg' (/DCTDecode via the
    repo's encoder — decode round-trips bit-identically since the
    decoder is the same T.81 math), 'flate' (raw samples), or 'lzw'.
    Images follow the repo convention: 2-D gray or H×W×3 BGR uint8."""
    from ocr_api_spark.kernels.jpeg import encode_jpeg

    objs: list[bytes] = []
    n = len(images)
    page_ids = [3 + 3 * i for i in range(n)]
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    for i, img in enumerate(images):
        arr = np.asarray(img, dtype=np.uint8)
        if arr.ndim not in (2, 3) or (arr.ndim == 3 and arr.shape[2] != 3):
            raise MiniPdfError(f"unsupported fixture image shape {arr.shape}")
        h, w = arr.shape[0], arr.shape[1]
        wpt, hpt = w * 72.0 / dpi, h * 72.0 / dpi
        gray = arr.ndim == 2
        cs = "/DeviceGray" if gray else "/DeviceRGB"
        if codec == "jpeg":
            payload = encode_jpeg(arr, quality=quality)
            filt = "/DCTDecode"
        elif codec in ("flate", "lzw"):
            samples = (arr[..., None] if gray else arr[:, :, ::-1]).tobytes()
            payload = (
                zlib.compress(samples, 6) if codec == "flate" else lzw_encode(samples)
            )
            filt = "/FlateDecode" if codec == "flate" else "/LZWDecode"
        else:
            raise MiniPdfError(f"unknown fixture codec {codec!r}")
        page_id, content_id, img_id = page_ids[i], page_ids[i] + 1, page_ids[i] + 2
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {wpt:.4f} {hpt:.4f}] "
                f"/Contents {content_id} 0 R /Resources << /XObject "
                f"<< /Im0 {img_id} 0 R >> >> >>"
            ).encode()
        )
        objs.append(_stream_obj(f"q {wpt:.4f} 0 0 {hpt:.4f} 0 0 cm /Im0 Do Q".encode()))
        objs.append(
            _stream_obj(
                payload,
                head=f"/Type /XObject /Subtype /Image /Width {w} /Height {h} "
                f"/ColorSpace {cs} /BitsPerComponent 8 /Filter {filt} ",
            )
        )

    return _serialize(objs)
