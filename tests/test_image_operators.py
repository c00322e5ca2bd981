"""Spark-side image-branch tests: the numpy decode backend in
``_Decoder`` and the full pre-OCR chain operator (S10/C5 + I1-I6 wired
behind ``mapInPandas``), driven with real ``.npy`` image payloads."""

from __future__ import annotations

import io

import numpy as np
import pytest


@pytest.fixture(scope="module")
def session():
    from ocr_api_spark.plans.session import build_session

    return build_session(app_name="image-op-tests", master="local[4]", shuffle_partitions=4)


def _npy_bytes(arr: np.ndarray) -> bytes:
    buf = io.BytesIO()
    np.save(buf, arr, allow_pickle=False)
    return buf.getvalue()


@pytest.fixture(scope="module")
def payload_df(session):
    rng = np.random.default_rng(13)
    rows = [
        ("u1", _npy_bytes(rng.integers(0, 256, (40, 60, 3), dtype=np.uint8)), "image"),
        ("u2", _npy_bytes(rng.integers(0, 256, (30, 50), dtype=np.uint8)), "image"),
        ("u3", _npy_bytes(rng.integers(0, 256, (10, 10, 4), dtype=np.uint8)), "image"),
        ("u4", b"\x00opaque-not-npy", "image"),
        ("u5", None, "image"),
    ]
    return session.createDataFrame(rows, "url string, payload binary, payload_kind string")


def test_image_features_numpy_backend(session, payload_df):
    from ocr_api_spark.operators.multimodal import image_features

    out = {r["url"]: r for r in image_features(payload_df).collect()}
    assert out["u1"]["decode_status"] == "numpy"
    assert out["u2"]["decode_status"] == "numpy"
    assert out["u3"]["decode_status"] == "numpy"  # BGRA -> alpha-flattened
    assert out["u4"]["decode_status"] == "fake"
    assert out["u5"]["decode_status"] == "empty"
    # real stats: (h, w, channels, mean, std, ink_ratio, light_top, otsu)
    f1 = out["u1"]["feature"]
    assert f1[0] == 40.0 and f1[1] == 60.0 and f1[2] == 3.0
    assert 0.0 < f1[3] < 255.0 and 0.0 <= f1[5] <= 1.0
    f3 = out["u3"]["feature"]
    assert f3[2] == 3.0  # alpha flattened to 3 channels


def test_image_features_deterministic(session, payload_df):
    from ocr_api_spark.operators.multimodal import image_features

    a = sorted(map(tuple, image_features(payload_df).collect()))
    b = sorted(map(tuple, image_features(payload_df).collect()))
    assert a == b


def test_preocr_chain_angles_and_shapes(session, payload_df):
    from ocr_api_spark.operators.multimodal import preocr_chain

    # OSD stub: claims everything is rotated 90°
    out = {r["url"]: r for r in preocr_chain(payload_df, osd_fn=lambda _: "Rotate: 90").collect()}

    r1 = out["u1"]  # 40×60 color -> parse-only path, rotate -90, ×2
    assert r1["chain_status"] == "ok" and r1["osd_angle"] == 90
    assert (r1["out_h"], r1["out_w"]) == (120, 80)  # swapped by rotation, then ×2

    r2 = out["u2"]  # 30×50 gray -> retry-capable path
    assert r2["osd_angle"] == 90 and (r2["out_h"], r2["out_w"]) == (100, 60)

    assert out["u4"]["chain_status"] == "undecodable"
    assert out["u5"]["chain_status"] == "undecodable"

    # processed payload round-trips as .npy and is the enhanced 3-channel image
    arr = np.load(io.BytesIO(r1["processed"]), allow_pickle=False)
    assert arr.shape == (120, 80, 3) and arr.dtype == np.uint8


def test_preocr_chain_default_angle_zero(session, payload_df):
    from ocr_api_spark.operators.multimodal import preocr_chain

    out = {r["url"]: r for r in preocr_chain(payload_df).collect()}
    assert out["u1"]["osd_angle"] == 0
    assert (out["u1"]["out_h"], out["u1"]["out_w"]) == (80, 120)  # no rotation, ×2


def test_preocr_chain_retry_uses_preprocessed_image(session):
    """A flaky OSD source on a grayscale payload triggers the
    preprocess-retry cascade; the upscaled-by-retry image flows on
    (reference app.py:5681-5691 reassigns img_front)."""
    from ocr_api_spark.operators.multimodal import preocr_chain
    from ocr_api_spark.plans.session import build_session

    session = build_session(app_name="image-op-tests", master="local[4]", shuffle_partitions=4)
    rng = np.random.default_rng(5)
    df = session.createDataFrame(
        [("g1", _npy_bytes(rng.integers(0, 256, (20, 30), dtype=np.uint8)), "image")],
        "url string, payload binary, payload_kind string",
    )

    class Flaky:
        """Raise on the first call per image size (pre-retry), succeed after."""

        def __call__(self, img):
            from ocr_api_spark.kernels.image import OsdError

            if img.shape[0] < 40:  # original 20×30 -> fail; preprocessed 40×60 -> ok
                raise OsdError("low-res")
            return "Rotate: 180"

    row = preocr_chain(df, osd_fn=Flaky()).collect()[0]
    assert row["osd_angle"] == 180
    # preprocess_for_osd doubled 20×30 to 40×60; 180° keeps dims; ×2 -> 80×120
    assert (row["out_h"], row["out_w"]) == (80, 120)


def test_png_payloads_flow_through_image_features_and_preocr(session):
    """Real PNG bytes (not .npy) decode via the pure-numpy codec and run
    the same preprocessing chain, with decode_status='png'."""
    from ocr_api_spark.kernels.png import encode_png
    from ocr_api_spark.operators.multimodal import image_features, preocr_chain

    rng = np.random.default_rng(21)
    gray = rng.integers(0, 256, (24, 36), dtype=np.uint8)
    bgr = rng.integers(0, 256, (20, 30, 3), dtype=np.uint8)
    bgra = rng.integers(0, 256, (12, 16, 4), dtype=np.uint8)
    df = session.createDataFrame(
        [
            ("p1", encode_png(gray, filter_types=4), "image"),
            ("p2", encode_png(bgr, filter_types=1), "image"),
            ("p3", encode_png(bgra, filter_types=2), "image"),
            ("p4", b"\x89PNG\r\n\x1a\ntruncated-garbage", "image"),
        ],
        "url string, payload binary, payload_kind string",
    )
    feats = {r["url"]: r for r in image_features(df).collect()}
    assert feats["p1"]["decode_status"] == "png"
    assert feats["p2"]["decode_status"] == "png"
    assert feats["p3"]["decode_status"] == "png"
    assert feats["p4"]["decode_status"] == "fake"  # undecodable PNG falls back
    assert (feats["p1"]["feature"][0], feats["p1"]["feature"][1]) == (24.0, 36.0)
    assert feats["p3"]["feature"][2] == 3.0  # BGRA alpha-flattened

    # identical pixels as .npy must yield the identical feature vector
    from ocr_api_spark.operators.multimodal import _Decoder  # noqa: F401

    npy_df = session.createDataFrame(
        [("n1", _npy_bytes(gray), "image")],
        "url string, payload binary, payload_kind string",
    )
    npy_feat = image_features(npy_df).collect()[0]["feature"]
    assert npy_feat == feats["p1"]["feature"]

    chain = {r["url"]: r for r in preocr_chain(df, osd_fn=lambda _: "Rotate: 90").collect()}
    assert chain["p1"]["chain_status"] == "ok" and chain["p1"]["osd_angle"] == 90
    # 90° swaps dims, then ×2 upscale
    assert (chain["p1"]["out_h"], chain["p1"]["out_w"]) == (72, 48)
    assert chain["p4"]["chain_status"] == "undecodable"


def test_preocr_chain_poison_color_image_defaults_to_zero(session, payload_df):
    """An OSD source that raises on a COLOR image must not fail the Spark
    task: the reference swallows TesseractError and continues with angle 0
    (color images skip the CLAHE retry, which would itself raise)."""
    from ocr_api_spark.kernels.image import OsdError
    from ocr_api_spark.operators.multimodal import preocr_chain

    def poison(_img):
        raise OsdError("boom")

    out = {r["url"]: r for r in preocr_chain(payload_df, osd_fn=poison).collect()}
    assert out["u1"]["chain_status"] == "ok" and out["u1"]["osd_angle"] == 0
    assert out["u2"]["chain_status"] == "ok" and out["u2"]["osd_angle"] == 0


def test_e4_passport_lifecycle_end_to_end(session):
    """E4 (reference /api/extract-passport-info, app.py:5634-5726) across
    the whole new chain: .npy image payload → OSD gate + rotate +
    upscale + CLAHE/unsharp (preocr_chain) → OCR token table (engine
    stubbed at the token interface) → reading-order text → passport
    field extraction.  Every stage but the OCR engine subprocess runs
    the real kernels."""
    from pyspark.sql import functions as F

    from ocr_api_spark.operators.extract import with_extraction
    from ocr_api_spark.operators.multimodal import preocr_chain, with_token_text

    rng = np.random.default_rng(17)
    df = session.createDataFrame(
        [("p1", _npy_bytes(rng.integers(0, 256, (60, 90), dtype=np.uint8)), "image")],
        "url string, payload binary, payload_kind string",
    )
    pre = preocr_chain(df, osd_fn=lambda _: "Rotate: 90")
    row = pre.collect()[0]
    assert row["chain_status"] == "ok" and row["osd_angle"] == 90

    # OCR engine interface: the processed image would go to Paddle; here
    # the token table (text, conf, box) is the engine's contract
    lines = [
        "REPUBLIC OF INDIA", "Passport No.", "M1234567",
        "Surname", "SHARMA", "Given Name(s)", "RAHUL",
    ]
    tokens = [
        {"text": t, "conf": 0.95, "box": [[5, 20 * i], [200, 20 * i], [200, 20 * i + 15], [5, 20 * i + 15]]}
        for i, t in enumerate(lines)
    ]
    toks_df = session.createDataFrame(
        [("p1", tokens)],
        "url string, tokens array<struct<text:string,conf:float,box:array<array<int>>>>",
    )
    staged = pre.join(toks_df, "url")
    texted = with_token_text(staged, conf_threshold=0.5)
    passport_rows = texted.withColumn("text", F.col("token_text")).withColumn("doc_type", F.lit("passport"))
    out = with_extraction(passport_rows).select("url", "extraction.status", "extraction.passport.*").collect()[0]
    assert out["status"] == "Completed"
    assert out["passport_number"] == "M1234567"
    assert out["surname"] == "SHARMA"
    assert out["given_name"] == "RAHUL"


def test_preocr_chain_composes_with_structured_streaming(session, tmp_path):
    """The pre-OCR chain is mapInPandas over a schema — it runs
    unchanged on a stream (new image files = new arrivals), checkpointed
    and exactly-once like the text pipeline."""
    import pandas as pd

    from ocr_api_spark.operators.multimodal import preocr_chain

    rng = np.random.default_rng(23)
    stream_dir = tmp_path / "img_stream"
    stream_dir.mkdir()
    pd.DataFrame(
        {
            "url": ["s1", "s2"],
            "payload": [
                _npy_bytes(rng.integers(0, 256, (20, 30), dtype=np.uint8)),
                b"\x00not-npy",
            ],
            "payload_kind": ["image", "image"],
        }
    ).to_parquet(str(stream_dir / "batch0.parquet"), index=False)

    schema = session.read.parquet(str(stream_dir)).schema
    stream = session.readStream.schema(schema).format("parquet").load(str(stream_dir))
    q = (
        preocr_chain(stream)
        .writeStream.format("memory")
        .queryName("preocr_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["url"]: r for r in session.sql("select * from preocr_stream").collect()}
    assert rows["s1"]["chain_status"] == "ok" and rows["s1"]["osd_angle"] == 0
    assert rows["s2"]["chain_status"] == "undecodable"


def test_masked_image_b64_sink(session):
    """S13 end-to-end: Aadhaar token -> mask rectangles -> pixels
    blacked out -> base64 payload that round-trips to the masked image
    (reference /api/mask-aadhaar, app.py:5784+)."""
    import base64

    from ocr_api_spark.operators.multimodal import with_masked_image_b64

    img = np.full((100, 240), 200, np.uint8)
    tokens = [
        {"text": "1234 5678 9012", "conf": 0.99,
         "box": [[20, 40], [140, 40], [140, 60], [20, 60]]},
        {"text": "hello", "conf": 0.9, "box": [[0, 0], [10, 0], [10, 12], [0, 12]]},
    ]
    df = session.createDataFrame(
        [("m1", _npy_bytes(img), tokens), ("m2", b"not-npy", tokens)],
        "url string, payload binary, tokens array<struct<text:string,conf:float,box:array<array<int>>>>",
    )
    out = {r["url"]: r["masked_image_b64"] for r in with_masked_image_b64(df).collect()}
    assert out["m2"] is None
    # the payload is now REAL base64 JPEG (reference app.py:4888-4893);
    # decode with our own baseline decoder and allow lossy-compression
    # tolerance away from the hard mask edges
    from ocr_api_spark.kernels.jpeg import decode_jpeg

    jpeg_bytes = base64.b64decode(out["m1"])
    assert jpeg_bytes.startswith(b"\xff\xd8")
    masked = decode_jpeg(jpeg_bytes)
    assert masked.shape == img.shape
    # mask covers the first 8/12ths of the box width: (140-20)//12*8 = 80,
    # corners INCLUSIVE (cv2.rectangle thickness=-1 fills both endpoints);
    # sample interiors (JPEG ringing lives at the block boundaries)
    assert masked[45:56, 30:90].max() <= 16  # blacked out
    assert masked[45:56, 110:135].min() >= 180  # last 4 digits visible
    assert masked[5:10, 2:8].min() >= 180  # non-aadhaar token untouched


def test_pdf_raster_operator_statuses(session):
    """S3 operator plumbing: ok / reject_pages / bad_pdf rows flow
    through one mapInPandas batch; the .npy image output chains into
    the pre-OCR decoder."""
    import numpy as np

    from ocr_api_spark.operators.multimodal import _Decoder, pdf_raster
    from ocr_api_spark.sources.pdfraster import write_image_pdf

    img = np.arange(20 * 28 * 3, dtype=np.uint8).reshape(20, 28, 3) % 251
    rows = [
        ("one", bytearray(write_image_pdf([img], codec="flate"))),
        ("two", bytearray(write_image_pdf([img, img[:10]], codec="jpeg"))),
        ("rej", bytearray(write_image_pdf([img, img, img], codec="flate"))),
        ("bad", bytearray(b"\x00\x01 definitely not a pdf")),
    ]
    df = session.createDataFrame(rows, "url string, payload binary")
    out = {r["url"]: r for r in pdf_raster(df).collect()}
    assert out["one"]["raster_status"] == "ok"
    assert (out["one"]["out_h"], out["one"]["out_w"]) == (20, 28)
    arr = _Decoder._try_npy(bytes(out["one"]["image"]))
    assert arr is not None and np.array_equal(arr, img)
    assert out["two"]["raster_status"] == "ok"
    assert out["two"]["n_pages"] == 2 and out["two"]["out_h"] == 30
    assert out["rej"]["raster_status"] == "reject_pages" and out["rej"]["image"] is None
    assert out["bad"]["raster_status"] == "bad_pdf" and out["bad"]["n_pages"] is None


def test_cv2_fast_path_parity_when_installed():
    """Where OpenCV exists (production executors), _Decoder routes
    PNG/JPEG bytes through cv2.imdecode; lossless PNG must decode
    pixel-identical to the numpy codec, and JPEG within IDCT rounding.
    Skips in containers without cv2 (this one)."""
    import importlib
    import os

    import numpy as np
    import pytest

    cv2 = pytest.importorskip("cv2")

    from ocr_api_spark.kernels import image as im
    from ocr_api_spark.kernels.jpeg import decode_jpeg, encode_jpeg
    from ocr_api_spark.kernels.png import encode_png
    from ocr_api_spark.operators.multimodal import _Decoder

    # the decoder shares the image kernels' engine switch (review r5);
    # conftest pins the numpy engine for golden stability, so observe
    # the cv2 branch by reloading with the switch cleared
    old = os.environ.pop("OCR_API_SPARK_DISABLE_CV2", None)
    try:
        importlib.reload(im)
        img = np.random.default_rng(5).integers(0, 256, (64, 96, 3), dtype=np.uint8)
        png_arr, kind = _Decoder._try_pixels(encode_png(img))
        assert kind == "png" and np.array_equal(png_arr, img)

        jb = encode_jpeg(img, quality=90)
        jpg_arr, kind = _Decoder._try_pixels(jb)
        assert kind == "jpeg" and jpg_arr.shape == img.shape
        ours = decode_jpeg(jb)
        assert np.abs(jpg_arr.astype(int) - ours.astype(int)).mean() < 3.0  # IDCT rounding only
        # and the kill switch really does reach the decoder
        os.environ["OCR_API_SPARK_DISABLE_CV2"] = "1"
        importlib.reload(im)
        assert np.array_equal(_Decoder._try_pixels(jb)[0], ours)
    finally:
        if old is not None:
            os.environ["OCR_API_SPARK_DISABLE_CV2"] = old
        else:
            os.environ.pop("OCR_API_SPARK_DISABLE_CV2", None)
        importlib.reload(im)


def test_pdf_raster_chains_into_preocr(session):
    """The reference endpoint's full PDF branch, distributed: PDF bytes
    -> pdf_raster (S3) -> .npy interchange -> preocr_chain (S10/C5 +
    I1-I6) in two mapInPandas stages."""
    import numpy as np
    from pyspark.sql import functions as F

    from ocr_api_spark.operators.multimodal import pdf_raster, preocr_chain
    from ocr_api_spark.sources.pdfraster import write_image_pdf

    img = np.random.default_rng(9).integers(0, 256, (24, 32), dtype=np.uint8)
    pdf = write_image_pdf([img, img], codec="jpeg")  # 2-page vertical merge
    df = session.createDataFrame([("doc1", bytearray(pdf))], "url string, payload binary")
    rastered = pdf_raster(df).where("raster_status = 'ok'").select("url", F.col("image").alias("payload"))
    out = preocr_chain(rastered).collect()
    assert len(out) == 1
    row = out[0]
    assert row["chain_status"] == "ok"
    # merged page is 48x32, x2 upscale -> 96x64
    assert (row["out_h"], row["out_w"]) == (96, 64)


def test_pdf_raster_null_payload_is_bad_pdf(session):
    """Review r4: a NULL payload row must emit bad_pdf, not poison the
    task with a TypeError."""
    import numpy as np

    from ocr_api_spark.operators.multimodal import pdf_raster
    from ocr_api_spark.sources.pdfraster import write_image_pdf

    img = np.random.default_rng(22).integers(0, 256, (8, 8, 3), dtype=np.uint8)
    df = session.createDataFrame(
        [("ok", bytearray(write_image_pdf([img], codec="flate"))), ("null", None)],
        "url string, payload binary",
    )
    out = {r["url"]: r["raster_status"] for r in pdf_raster(df).collect()}
    assert out == {"ok": "ok", "null": "bad_pdf"}


def test_engine_pin_propagates_to_tasks(session):
    """ADVICE r5: the driver's image-engine resolution must reach every
    task.  The ENGINE_PROP local property ships with each task; a
    worker told "cv2" that has no OpenCV must raise (fail loudly), a
    worker told "numpy" must dispatch numpy even if its env override is
    cleared."""
    from ocr_api_spark.kernels.image import ENGINE_PROP

    sc = session.sparkContext

    def probe(batches):
        import os

        import pandas as pd

        # the conftest env pin would mask the task property — drop it
        # INSIDE the worker so the property is the only pin in effect
        os.environ.pop("OCR_API_SPARK_DISABLE_CV2", None)
        try:
            from ocr_api_spark.kernels.image import image_engine

            for b in batches:
                try:
                    engine = image_engine()
                    err = ""
                except RuntimeError as e:
                    engine, err = "raised", str(e)[:60]
                yield pd.DataFrame({"n": b["id"], "engine": engine, "err": err})
        finally:
            os.environ["OCR_API_SPARK_DISABLE_CV2"] = "1"

    df = session.range(4).repartition(2)
    try:
        sc.setLocalProperty(ENGINE_PROP, "numpy")
        out = set(
            r["engine"]
            for r in df.mapInPandas(probe, "n long, engine string, err string").collect()
        )
        assert out == {"numpy"}

        # driver said cv2, this fleet has none: divergence must be loud
        sc.setLocalProperty(ENGINE_PROP, "cv2")
        out = set(
            r["engine"]
            for r in df.mapInPandas(probe, "n long, engine string, err string").collect()
        )
        assert out == {"raised"}

        # review r6: a worker-local env override must NOT silently beat
        # a driver "cv2" stamp — the property outranks the env var, so
        # even with OCR_API_SPARK_DISABLE_CV2 still set (conftest; NOT
        # popped here) the worker attempts cv2 and raises loudly
        def probe_env_kept(batches):
            import pandas as pd

            from ocr_api_spark.kernels.image import image_engine

            for b in batches:
                try:
                    engine = image_engine()
                except RuntimeError:
                    engine = "raised"
                yield pd.DataFrame({"n": b["id"], "engine": engine, "err": ""})

        out = set(
            r["engine"]
            for r in df.mapInPandas(probe_env_kept, "n long, engine string, err string").collect()
        )
        assert out == {"raised"}
    finally:
        sc.setLocalProperty(ENGINE_PROP, None)


def test_run_extraction_stamps_engine_property(session, tmp_path):
    """run_extraction resolves the engine driver-side and stamps it as
    the task-local property for the whole run."""
    from ocr_api_spark.kernels.image import ENGINE_PROP
    from ocr_api_spark.plans.pipeline import run_extraction
    from ocr_api_spark.sources.pages import write_pages

    d = str(tmp_path / "pages")
    paths = write_pages(d, n_rows=40, seed=7)
    out = str(tmp_path / "out")
    stats = run_extraction(session, paths["pages"], paths["claims"], out, n_buckets=4, n_salts=2)
    assert stats["image_engine"] == "numpy"  # conftest pins numpy
    assert session.sparkContext.getLocalProperty(ENGINE_PROP) == "numpy"
