"""Multimodal payload operators (image/PDF branch plumbing).

The reference's image ops (SURVEY.md §2.6 I1-I13) need OpenCV /
pdf2image / OCR engines that are not in this container, so the *decode*
step is stubbed behind import gates — but the Spark-side plumbing is
real: binary payload columns with typed metadata, Arrow-batched
``mapInPandas`` with a per-executor singleton decoder, deterministic
fake features for tests, and the token-table masking path (which is
pure geometry and fully implemented via the kernel).

Schema contract for opaque payloads:
    payload: binary, payload_kind: string ('image'|'pdf'|'audio'|...),
    meta: struct<width:int, height:int, mime:string>
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ocr_api_spark.kernels.masking import mask_aadhaar_regions, order_tokens_reading, tokens_to_text

FEATURE_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("payload_kind", StringType(), True),
        StructField("n_bytes", IntegerType(), True),
        StructField("feature", ArrayType(FloatType()), True),
        StructField("decode_status", StringType(), True),
    ]
)


class _Decoder:
    """Per-executor singleton (the reference reconstructs its OCR model
    per request, app.py:2163 — this is the fix).

    Backends, in order:
    - ``numpy``: payloads that parse as ``.npy`` arrays (H×W or H×W×C
      uint8) — the decoded-pixel interchange format.
    - ``cv2.imdecode`` where OpenCV is installed (production): the
      ~20-50x fast path for PNG/JPEG bytes, same pixel conventions.
    - ``png``/``jpeg``: the pure-numpy codecs (``kernels/png.py``:
      zlib inflate + row unfiltering, all depths + Adam7;
      ``kernels/jpeg.py``: T.81 baseline + progressive) — the tested
      fallback in this container, decoding to the same cv2 BGR/BGRA
      convention ``cv2.imdecode`` yields in the reference flow
      (app.py:419-443, 5099).
    All pixel paths run the REAL preprocessing kernels
    (``kernels/image.py``: alpha flatten → grayscale → the PAN pre-OCR
    chain) and emit real image statistics as the feature vector.
    - ``fake``: anything else yields a deterministic md5-derived
      feature, so opaque test payloads still flow through the same
      batch shape."""

    _instance = None

    @classmethod
    def get(cls):
        if cls._instance is None:
            cls._instance = cls()
        return cls._instance

    def __init__(self) -> None:
        try:  # pragma: no cover - not present in this container
            import cv2  # noqa: F401

            self.has_cv2 = True
        except ImportError:
            self.has_cv2 = False

    @staticmethod
    def _try_npy(payload: bytes):
        import io

        import numpy as np

        if payload is None or not payload.startswith(b"\x93NUMPY"):
            return None
        try:
            arr = np.load(io.BytesIO(payload), allow_pickle=False)
        except Exception:
            return None
        if arr.ndim not in (2, 3) or arr.dtype != np.uint8 or arr.size == 0:
            return None
        return arr

    @staticmethod
    def _try_jpeg(payload: bytes):
        import numpy as np

        if payload is None or not payload.startswith(b"\xff\xd8"):
            return None
        from ocr_api_spark.kernels.jpeg import JpegError, decode_jpeg

        try:
            arr = decode_jpeg(payload)
        except JpegError:
            return None
        if arr.ndim not in (2, 3) or arr.dtype != np.uint8 or arr.size == 0:
            return None
        return arr

    @staticmethod
    def _try_png(payload: bytes):
        import numpy as np

        if payload is None or not payload.startswith(b"\x89PNG\r\n\x1a\n"):
            return None
        from ocr_api_spark.kernels.png import PngError, decode_png

        try:
            arr = decode_png(payload)
        except PngError:
            return None
        if arr.ndim not in (2, 3) or arr.dtype != np.uint8 or arr.size == 0:
            return None
        return arr

    @classmethod
    def _try_cv2(cls, payload: bytes):
        """cv2.imdecode fast path where OpenCV is installed (production
        executors): ~20-50x the pure-numpy codecs on the same bytes,
        same BGR/BGRA/gray conventions.  Absent in this container —
        the numpy codecs below are the tested fallback and the
        determinism reference (skip-if-absent parity test).

        Engine policy is shared with the image kernels (review r5):
        ``OCR_API_SPARK_DISABLE_CV2`` disables this path too, so
        pinning the fleet to the numpy engine pins the DECODER as well
        and ``image_engine()``'s provenance stamp covers both."""
        from ocr_api_spark.kernels.image import _cv2

        cv2 = _cv2()
        if cv2 is None:
            return None
        import numpy as np  # pragma: no cover - cv2 not in this container
        if payload is None or not (
            payload.startswith(b"\x89PNG\r\n\x1a\n") or payload.startswith(b"\xff\xd8")
        ):
            return None
        arr = cv2.imdecode(np.frombuffer(payload, dtype=np.uint8), cv2.IMREAD_UNCHANGED)
        if arr is None or arr.ndim not in (2, 3) or arr.dtype != np.uint8 or arr.size == 0:
            return None
        return arr

    @classmethod
    def _try_pixels(cls, payload: bytes):
        """(array, kind) for any decodable payload — 'numpy' | 'png' |
        'jpeg' — else (None, None).  Arrays follow the cv2 convention
        (2-D gray, BGR, BGRA)."""
        arr = cls._try_npy(payload)
        if arr is not None:
            return arr, "numpy"
        cv2_arr = cls._try_cv2(payload)
        if cv2_arr is not None:  # pragma: no cover - cv2 not in container
            return cv2_arr, "png" if payload.startswith(b"\x89PNG") else "jpeg"
        arr = cls._try_png(payload)
        if arr is not None:
            return arr, "png"
        arr = cls._try_jpeg(payload)
        if arr is not None:
            return arr, "jpeg"
        return None, None

    def decode(self, payload: bytes) -> tuple[list[float], str]:
        if payload is None:
            return [], "empty"
        arr, kind = self._try_pixels(payload)
        if arr is not None:
            import numpy as np

            from ocr_api_spark.kernels import image as im
            from ocr_api_spark.kernels.signature import otsu_threshold

            # payload convention: decoded pixels are BGR/BGRA (what
            # cv2.imdecode yields in the reference flow, app.py:5099);
            # preprocess_image is the RGB-input chain, so flip for it
            arr = im.alpha_flatten(arr)  # I12: BGRA -> white-composited BGR
            gray = im.bgr_to_gray(arr)
            rgb = arr[..., ::-1] if arr.ndim == 3 else np.repeat(arr[..., None], 3, 2)
            binary = im.preprocess_image(rgb)
            h, w = gray.shape
            feature = [
                float(h),
                float(w),
                float(arr.shape[2] if arr.ndim == 3 else 1),
                float(gray.mean()),
                float(gray.std()),
                float((binary == 0).mean()),  # foreground (ink) ratio
                1.0 if float(gray[:2].mean()) > 200 else 0.0,  # light top border
                float(otsu_threshold(gray)),
            ]
            return feature, kind
        # deterministic 8-dim fake feature: md5 bytes scaled to [0, 1)
        digest = hashlib.md5(payload).digest()
        return [b / 255.0 for b in digest[:8]], "fake"


def image_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """``mapInPandas`` feature extraction over binary payloads — the
    batch shape, schema, and singleton pattern are the production path;
    only the decode math is a stand-in."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = _Decoder.get()
        for pdf in batches:
            feats, statuses, sizes = [], [], []
            for payload in pdf[payload_col]:
                f, s = dec.decode(payload)
                feats.append(f)
                statuses.append(s)
                sizes.append(len(payload) if payload is not None else 0)
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "payload_kind": pdf.get("payload_kind", pd.Series(["image"] * len(pdf))),
                    "n_bytes": sizes,
                    "feature": feats,
                    "decode_status": statuses,
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


PDF_RASTER_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("n_pages", IntegerType(), True),
        StructField("out_h", IntegerType(), True),
        StructField("out_w", IntegerType(), True),
        StructField("raster_status", StringType(), True),
        StructField("image", BinaryType(), True),
    ]
)


def pdf_raster(df: DataFrame, payload_col: str = "payload", dpi: int = 300) -> DataFrame:
    """S3 end-to-end: PDF payloads → page raster via the repo's own
    codec stack (``sources/pdfraster.py``), with the reference's
    1-page / 2-page-vertical-merge / reject logic (app.py:419-443).
    Output pixels travel as ``.npy`` bytes — the decoded-pixel
    interchange the pre-OCR chain consumes — so the scanned-PDF branch
    chains straight into ``preocr_chain``.  Statuses: ``ok``,
    ``reject_pages`` (0 or >2 pages — the endpoint's False), and
    ``bad_pdf`` (MiniPdfError: corrupt/unsupported bytes, never a
    poison pill)."""
    import io

    import numpy as np

    from ocr_api_spark.sources.pdfraster import merge_pages, rasterize_pdf_pages
    from ocr_api_spark.sources.pdftext import MiniPdfError

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            out = {k: [] for k in ("url", "n_pages", "out_h", "out_w", "raster_status", "image")}
            for url, payload in zip(pdf_batch["url"], pdf_batch[payload_col]):
                out["url"].append(url)
                try:
                    if payload is None:
                        raise MiniPdfError("NULL payload")
                    pages = rasterize_pdf_pages(bytes(payload), dpi=dpi)
                    merged = merge_pages(pages)
                except MiniPdfError:
                    out["n_pages"].append(None)
                    out["out_h"].append(None)
                    out["out_w"].append(None)
                    out["raster_status"].append("bad_pdf")
                    out["image"].append(None)
                    continue
                out["n_pages"].append(len(pages))
                if merged is None:
                    out["out_h"].append(None)
                    out["out_w"].append(None)
                    out["raster_status"].append("reject_pages")
                    out["image"].append(None)
                    continue
                buf = io.BytesIO()
                np.save(buf, merged, allow_pickle=False)
                out["out_h"].append(int(merged.shape[0]))
                out["out_w"].append(int(merged.shape[1]))
                out["raster_status"].append("ok")
                out["image"].append(buf.getvalue())
            yield pd.DataFrame(out)

    return df.mapInPandas(run, PDF_RASTER_SCHEMA)


PREOCR_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("osd_angle", IntegerType(), True),
        StructField("out_h", IntegerType(), True),
        StructField("out_w", IntegerType(), True),
        StructField("chain_status", StringType(), True),
        StructField("processed", BinaryType(), True),
    ]
)


def preocr_chain(df: DataFrame, payload_col: str = "payload", osd_fn=None) -> DataFrame:
    """The passport/DL pre-OCR chain (reference app.py:5681-5695, the E4
    lifecycle): OSD angle detect with the preprocess-retry cascade
    (S10/C5) → ``correct_rotation`` (I5) → ``upscale_image`` ×2 (I2) →
    ``enhance_contrast_and_sharpen`` (I6 CLAHE + unsharp).  All REAL
    numpy kernels over ``.npy`` image payloads; undecodable payloads
    pass through with ``chain_status='undecodable'``.

    ``osd_fn(img) -> str`` is the injectable OSD text source (a
    Tesseract subprocess in production).  Default None reproduces
    ``detect_osd_angle``'s default-0 fallback when Tesseract is absent.
    Per-executor decode state goes through the ``_Decoder`` singleton;
    the output image travels as ``.npy`` bytes, one Arrow crossing in,
    one out."""
    import io

    import numpy as np

    from ocr_api_spark.kernels import image as im

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = osd_fn if osd_fn is not None else (lambda _img: None)
        for pdf in batches:
            out = {k: [] for k in ("url", "osd_angle", "out_h", "out_w", "chain_status", "processed")}
            for url, payload in zip(pdf["url"], pdf[payload_col]):
                out["url"].append(url)
                arr, _kind = _Decoder._try_pixels(payload)
                if arr is None:
                    out["osd_angle"].append(None)
                    out["out_h"].append(None)
                    out["out_w"].append(None)
                    out["chain_status"].append("undecodable")
                    out["processed"].append(None)
                    continue
                arr = im.alpha_flatten(arr)
                # full retry cascade for grayscale; for color the retry's
                # preprocess_for_osd would raise (the reference's CLAHE-on-
                # color quirk), so color gets the parse-with-default-0 path
                if arr.ndim == 2:
                    img, angle = im.osd_angle_with_retry(arr, fn)
                else:
                    # mirror the grayscale cascade's failure handling: the
                    # reference swallows TesseractError and proceeds with
                    # angle 0 (app.py OSD call sites); without this a single
                    # poison color image would fail the whole Spark task
                    try:
                        angle = im.parse_osd_rotate(fn(arr))
                    except im.OsdError:
                        angle = 0
                    img = arr
                img = im.correct_rotation(img, angle)
                img = im.upscale_image(img, 2.0)
                img = im.enhance_contrast_and_sharpen(
                    img if img.ndim == 3 else np.repeat(img[..., None], 3, 2)
                )
                buf = io.BytesIO()
                np.save(buf, img, allow_pickle=False)
                out["osd_angle"].append(angle)
                out["out_h"].append(int(img.shape[0]))
                out["out_w"].append(int(img.shape[1]))
                out["chain_status"].append("ok")
                out["processed"].append(buf.getvalue())
            yield pd.DataFrame(out)

    return df.mapInPandas(run, PREOCR_SCHEMA)


SIGNATURE_SCHEMA = StructType(
    [
        StructField("is_background_white", StringType()),
        StructField("is_horizontal", StringType()),
        StructField("needs_rotation", StringType()),
        StructField("is_straight_line", StringType()),
    ]
)


def with_signature_verdicts(df: DataFrame, img_col: str = "img") -> DataFrame:
    """Signature-format classification (reference /api/verify-signature-
    format, app.py:4895+; kernels I7-I10) over a typed grayscale image
    column ``array<array<int>>``.  The binary→array decode lives behind
    the multimodal ``_Decoder`` gate; this operator takes decoded arrays
    so the geometry path is fully real and hermetically testable."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    from ocr_api_spark.kernels.signature import classify_signature

    @pandas_udf(SIGNATURE_SCHEMA)
    def sig_udf(imgs: pd.Series) -> pd.DataFrame:
        rows = []
        for img in imgs:
            if img is None:
                rows.append({k.name: None for k in SIGNATURE_SCHEMA.fields})
                continue
            arr = np.asarray(img.tolist() if hasattr(img, "tolist") else list(img), dtype=np.uint8)
            verdict = classify_signature(arr)
            rows.append({k: str(v) for k, v in verdict.items()})
        return pd.DataFrame(rows, columns=[f.name for f in SIGNATURE_SCHEMA.fields])

    return df.withColumn("signature", sig_udf(F.col(img_col)))


MASK_SCHEMA = ArrayType(
    StructType(
        [
            StructField("x_min", IntegerType()),
            StructField("y_min", IntegerType()),
            StructField("x_max", IntegerType()),
            StructField("y_max", IntegerType()),
        ]
    )
)


def with_mask_regions(df: DataFrame, tokens_col: str = "tokens", h_col: str = "img_h", w_col: str = "img_w") -> DataFrame:
    """Aadhaar-mask rectangles from the OCR token table (kernel I11) —
    pure geometry, fully real."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf(MASK_SCHEMA)
    def mask_udf(tokens: pd.Series, hs: pd.Series, ws: pd.Series) -> pd.Series:
        out = []
        for toks, h, w in zip(tokens, hs, ws):
            if toks is None:
                out.append([])
                continue
            triples = [(t["text"], t["conf"], t["box"]) for t in toks]
            out.append(mask_aadhaar_regions(triples, int(h), int(w)))
        return pd.Series(out)

    return df.withColumn("mask_regions", mask_udf(F.col(tokens_col), F.col(h_col), F.col(w_col)))


def with_masked_image_b64(
    df: DataFrame, payload_col: str = "payload", tokens_col: str = "tokens"
) -> DataFrame:
    """The S13 sink, end-to-end: decode the image payload (.npy, PNG,
    or JPEG), compute the Aadhaar mask rectangles from the OCR token
    table (I11), black them out in the pixels (app.py:5775), and emit
    the masked image as **base64 JPEG** — exactly what the reference
    returns (app.py:4888-4893, ``cv2.imencode('.jpg')`` + b64), now
    that ``kernels/jpeg.py`` provides the encoder.  Undecodable
    payloads yield NULL."""
    import base64

    from pyspark.sql.pandas.functions import pandas_udf

    from ocr_api_spark.kernels import image as im
    from ocr_api_spark.kernels.jpeg import encode_jpeg
    from ocr_api_spark.kernels.masking import apply_mask_regions

    @pandas_udf(StringType())
    def mask_b64(payloads: pd.Series, tokens: pd.Series) -> pd.Series:
        out = []
        for payload, toks in zip(payloads, tokens):
            arr, _kind = _Decoder._try_pixels(payload)
            if arr is None:
                out.append(None)
                continue
            arr = im.alpha_flatten(arr)  # JPEG has no alpha channel
            if toks is None:
                toks = []
            triples = [(t["text"], t["conf"], t["box"]) for t in toks]
            regions = mask_aadhaar_regions(triples, int(arr.shape[0]), int(arr.shape[1]))
            masked = apply_mask_regions(arr, regions)
            out.append(base64.b64encode(encode_jpeg(masked, quality=90)).decode("ascii"))
        return pd.Series(out)

    return df.withColumn("masked_image_b64", mask_b64(F.col(payload_col), F.col(tokens_col)))


def with_token_text(df: DataFrame, tokens_col: str = "tokens", conf_threshold: float = 0.0) -> DataFrame:
    """Reading-order sort + confidence-thresholded merge → the OCR-text
    IR (kernel I13/S7 analog)."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf(StringType())
    def text_udf(tokens: pd.Series) -> pd.Series:
        out = []
        for toks in tokens:
            if toks is None:
                out.append(None)
                continue
            triples = [(t["text"], t["conf"], t["box"]) for t in toks]
            out.append(tokens_to_text(order_tokens_reading(triples), conf_threshold))
        return pd.Series(out)

    return df.withColumn("token_text", text_udf(F.col(tokens_col)))
