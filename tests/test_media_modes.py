"""Multimodal media ops + analysis modes (T8-T10) tests."""

from __future__ import annotations

import pytest

from ollama_ocr_spark.corpus import build_image, image_dims, receipt_fields
from ollama_ocr_spark.functions.media import (
    MediaDecodeUnavailable,
    decode_image,
    image_metadata,
    jpeg_dimensions,
    png_dimensions,
    sample_frames,
)
from ollama_ocr_spark.operators.extract import synthesize_stage
from ollama_ocr_spark.operators.maintenance import latest_capture
from ollama_ocr_spark.operators.media import (
    image_features_stage,
    image_metadata_stage,
)
from ollama_ocr_spark.operators.modes import (
    analyze_stage,
    multi_step_stage,
    structured_stage,
)


# ---------------------------------------------------------- pure media ----

def test_header_dimension_parsers():
    jpg = build_image(8)     # doc_id%20==8 → jpeg
    png = build_image(18)    # → png
    assert jpeg_dimensions(jpg) == image_dims(8)
    assert png_dimensions(png) == image_dims(18)
    assert image_metadata(jpg)[0] == "jpeg"
    assert image_metadata(png)[0] == "png"
    assert image_metadata(b"<html>") == (None, None, None)
    assert image_metadata(None) == (None, None, None)


def test_decode_stubs_raise_clearly():
    from ollama_ocr_spark.functions.media import resize_image

    with pytest.raises(MediaDecodeUnavailable):
        decode_image(build_image(8))
    with pytest.raises(MediaDecodeUnavailable):
        resize_image(build_image(8), 64, 64)
    with pytest.raises(MediaDecodeUnavailable):
        sample_frames(b"\x00\x00\x00\x18ftypmp42")


# ------------------------------------------------------------- spark ------

def _pages(documents_smoke):
    return latest_capture(synthesize_stage(documents_smoke))


def test_image_metadata_stage(spark, documents_smoke):
    out = image_metadata_stage(_pages(documents_smoke)).filter(
        "format IS NOT NULL"
    )
    rows = out.collect()
    assert len(rows) == 50  # k=8 archetype
    for r in rows:
        assert r["format"] in ("jpeg", "png")
        assert r["width"] >= 100 and r["height"] >= 80


def test_image_features_deterministic(spark, documents_smoke):
    imgs = _pages(documents_smoke).filter("url LIKE '%.jpg'")
    a = {r["url"]: r["feature"] for r in image_features_stage(imgs).collect()}
    b = {r["url"]: r["feature"] for r in image_features_stage(imgs).collect()}
    assert a == b
    vec = next(iter(a.values()))
    assert len(vec) == 8
    # real byte-level features: dims/1024, aspect, size, text density,
    # char-class ratios, format flag — spot-check one url's vector against
    # a direct kernel call on the same payload
    from ollama_ocr_spark.corpus import build_image
    from ollama_ocr_spark.operators.media import image_features

    url, got = next((u, v) for u, v in a.items() if "-8." in u)
    doc_row = {r["doc_id"]: r["text"]
               for r in documents_smoke.filter("doc_id = 8").collect()}
    import numpy as np

    want = np.asarray(image_features(build_image(8, doc_row[8])),
                      dtype=np.float32)
    assert np.array_equal(np.asarray(got, dtype=np.float32), want)
    assert want[7] == 1.0  # doc 8 is the JPEG slot
    assert want[2] > 0.0  # aspect ratio populated from the real header


def test_structured_stage_fields(spark, documents_smoke):
    out = structured_stage(_pages(documents_smoke)).filter("error IS NULL")
    rows = out.collect()
    assert len(rows) == 50  # k=5 archetype
    for r in rows:
        doc_id = int(r["url"].rsplit("-", 1)[1].split(".")[0])
        expected = receipt_fields(doc_id)
        assert r["store_name"] == expected["store_name"]
        assert r["total_cents"] == expected["total_cents"]
        assert r["n_items"] == expected["n_items"]


def test_structured_stage_form_and_price_tag(spark, documents_smoke):
    from ollama_ocr_spark.corpus import form_fields, price_tag_fields

    pages = _pages(documents_smoke)
    forms = structured_stage(pages, data_type="form").filter(
        "error IS NULL").collect()
    assert len(forms) == 50  # k=2 table archetype carries Form JSON-LD
    for r in forms:
        doc_id = int(r["url"].rsplit("-", 1)[1].split(".")[0])
        expected = form_fields(doc_id)
        assert r["form_name"] == expected["form_name"]
        assert r["n_fields"] == expected["n_fields"]
        assert r["contact_email"] == expected["contact_email"]

    tags = structured_stage(pages, data_type="price_tag").filter(
        "error IS NULL").collect()
    assert len(tags) == 50  # k=3 list archetype carries PriceTag JSON-LD
    for r in tags:
        doc_id = int(r["url"].rsplit("-", 1)[1].split(".")[0])
        expected = price_tag_fields(doc_id)
        assert r["product_name"] == expected["product_name"]
        assert r["price_cents"] == expected["price_cents"]
        assert r["sku"] == expected["sku"]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="Unsupported data type"):
        structured_stage(pages, data_type="invoice")


_HOSTILE_LD = [
    # (mode, JSON-LD record, the field whose value does not fit its column)
    ("receipt", {"@type": "Receipt", "store_name": "S", "total_cents": "12.50"},
     "total_cents"),
    ("receipt", {"@type": "Receipt", "store_name": "S", "n_items": 99999999999},
     "n_items"),
    ("receipt", {"@type": "Receipt", "store_name": ["a"], "total_cents": 7},
     "store_name"),
    ("receipt", {"@type": "Receipt", "store_name": "S", "total_cents": True},
     "total_cents"),
    ("receipt", {"@type": "Receipt", "store_name": "S", "total_cents": 1.5},
     "total_cents"),
    ("form", {"@type": "Form", "form_name": "F", "n_fields": "3"}, "n_fields"),
    ("form", {"@type": "Form", "form_name": "F", "contact_email": 5},
     "contact_email"),
    ("price_tag", {"@type": "PriceTag", "product_name": "P",
                   "price_cents": 2 ** 63}, "price_cents"),
    ("price_tag", {"@type": "PriceTag", "product_name": "P",
                   "sku": {"a": 1}}, "sku"),
    ("multi", {"@type": "Receipt", "total_cents": "12.50"}, "total_cents"),
    ("multi", {"@type": "Receipt", "total_cents": True}, "total_cents"),
    ("multi", {"@type": "Receipt", "total_cents": 1.5}, "total_cents"),
    ("multi", {"@type": "Receipt", "total_cents": -2 ** 63 - 1},
     "total_cents"),
]


@pytest.mark.parametrize("mode, record, bad", _HOSTILE_LD,
                         ids=lambda v: v if isinstance(v, str) else None)
def test_hostile_jsonld_value_is_a_null_and_an_error(spark, mode, record, bad):
    """A JSON-LD value that does not fit its typed column (wrong JSON type,
    out of range, a fraction) becomes NULL plus a fixed-message error on
    its own row; it must not fail the Arrow batch or be coerced."""
    import json

    good = {"@type": "Receipt", "store_name": "ok", "total_cents": 250}
    html = "<html><body><p>x</p>{}</body></html>"
    ld = '<script type="application/ld+json">{}</script>'
    pages = spark.createDataFrame(
        [("u-bad", html.format(ld.format(json.dumps(record))).encode()),
         ("u-good", html.format(ld.format(json.dumps(good))).encode())],
        "url string, html binary",
    )
    if mode == "multi":
        rows = {r["url"]: r for r in multi_step_stage(pages).collect()}
        assert rows["u-bad"]["has_receipt"] is True
        assert rows["u-bad"]["total_cents"] is None
        assert rows["u-bad"]["step_errors"] == (
            f"receipt: invalid structured field: {bad}")
        assert rows["u-good"]["total_cents"] == 250
        assert rows["u-good"]["step_errors"] is None
        return
    rows = {r["url"]: r for r in structured_stage(pages, mode).collect()}
    assert rows["u-bad"][bad] is None
    assert rows["u-bad"]["error"] == f"invalid structured field: {bad}"
    for name, value in record.items():
        if name not in ("@type", bad):
            assert rows["u-bad"][name] == value
    if mode == "receipt":
        assert rows["u-good"]["total_cents"] == 250
        assert rows["u-good"]["error"] is None


def test_analyze_and_multistep_share_semantics(spark, documents_smoke):
    pages = _pages(documents_smoke)
    meta = {r["url"]: r for r in analyze_stage(pages).collect()}
    multi = {r["url"]: r for r in multi_step_stage(pages).collect()}
    html_urls = [u for u in meta if u.endswith(".html") and "page-" not in u]
    assert html_urls
    for u in html_urls:
        assert meta[u]["title"] == multi[u]["title"]
        assert multi[u]["has_receipt"] == ("receipt-" in u)
    # memo archetype is the unstructured class; its doc_id%20==14 sub-slot
    # carries raw text/plain payloads and classifies as 'text'
    import re

    def _did(u):
        return int(re.search(r"-(\d+)\.", u).group(1))

    memos = [u for u in html_urls if "memo-" in u]
    assert memos
    for u in memos:
        expected = "text" if _did(u) % 20 == 14 else "plain"
        assert meta[u]["doc_class"] == expected
    assert any(_did(u) % 20 == 14 for u in memos)
    # the text sub-slot still extracts its full text through the multi path
    for u in memos:
        if _did(u) % 20 == 14:
            assert multi[u]["chars"] > 0 and multi[u]["step_errors"] is None


def test_mp4_mvhd_not_fooled_by_embedded_tag_bytes():
    """The moov scan walks child boxes by size header — the 4-byte
    sequence 'mvhd' occurring inside an unrelated child's DATA (udta
    strings, codec blobs) must not be parsed as the movie header."""
    from ollama_ocr_spark.functions.media import build_mp4, mp4_metadata

    base = build_mp4(timescale=600, duration=1200)
    ftyp, moov = base[:24], base[24:]
    mvhd_box = moov[8:]  # the real, well-formed child
    junk_body = b"ABmvhd" + b"\x00\x00\x02\x58" * 6  # decoy tag + numbers
    junk_box = (8 + len(junk_body)).to_bytes(4, "big") + b"free" + junk_body
    children = junk_box + mvhd_box
    new_moov = (8 + len(children)).to_bytes(4, "big") + b"moov" + children
    assert mp4_metadata(ftyp + new_moov) == ("isom", 2.0)
    # and the plain fixture still reads back exactly
    assert mp4_metadata(base) == ("isom", 2.0)


from ollama_ocr_spark.functions.media import build_mp4 as _mp4_bytes
from ollama_ocr_spark.functions.media import build_wav as _wav_bytes


def test_audio_video_header_parsers():
    from ollama_ocr_spark.functions.media import mp4_metadata, wav_metadata

    # duration from the DECLARED data-chunk size (body itself not needed)
    assert wav_metadata(_wav_bytes()) == (2, 44100, 2.0)
    assert wav_metadata(_wav_bytes(channels=1, rate=8000, seconds=3)) == (
        1, 8000, 3.0)
    assert wav_metadata(b"RIFFxxxxAVI ") is None
    assert mp4_metadata(_mp4_bytes()) == ("isom", 2.5)  # 1500/600
    assert mp4_metadata(b"\x00\x00\x00\x08free") is None


def test_mp4_timing_integer_exact():
    from ollama_ocr_spark.functions.media import build_mp4, mp4_timing

    assert mp4_timing(build_mp4(timescale=600, duration=1500)) == (600, 1500)
    assert mp4_timing(build_mp4(timescale=90000, duration=7)) == (90000, 7)
    assert mp4_timing(_wav_bytes()) is None
    assert mp4_timing(b"not media") is None
    assert mp4_timing(None) is None
    # a zero timescale carries no usable timing — None, not a div-by-zero
    assert mp4_timing(build_mp4(timescale=0, duration=100)) is None


def test_fit_box_integer_plan():
    from ollama_ocr_spark.operators.media import fit_box

    assert fit_box(400, 200, 128, 128) == (128, 64)    # wide: width-limited
    assert fit_box(100, 330, 128, 128) == (38, 128)    # tall: height-limited
    assert fit_box(128, 128, 128, 128) == (128, 128)   # exact
    assert fit_box(100, 80, 128, 128) == (128, 102)    # upscale to fill
    assert fit_box(4000, 1, 128, 128) == (128, 1)      # floor never zero
    assert fit_box(1, 4000, 128, 128) == (1, 128)


def test_resize_stage_plan_and_stub(spark, documents_smoke):
    from ollama_ocr_spark.corpus import image_dims
    from ollama_ocr_spark.operators.media import fit_box, resize_images_stage

    # run over ALL latest pages (repartitioned: multiple Arrow batches/
    # tasks): non-image payloads must drop, the 50 k=8 images survive
    out = resize_images_stage(_pages(documents_smoke).repartition(4))
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        doc_id = int(r["url"].rsplit("-", 1)[1].split(".")[0])
        assert (r["src_w"], r["src_h"]) == image_dims(doc_id)
        ow, oh = fit_box(r["src_w"], r["src_h"], 128, 128)
        assert (r["out_w"], r["out_h"]) == (ow, oh)
        assert 128 in (ow, oh)  # the limiting side lands ON the box
        assert r["plan_bytes"] == ow * oh * 3
        want = f"resized://{r['src_w']}x{r['src_h']}->{ow}x{oh}"
        assert bytes(r["resized"]) == want.encode("ascii")


def test_resize_kernel_swap_seam(spark):
    """Production pixel-resample drop-in: registering a kernel changes
    ONLY the resized bytes — dims, plan, schema unchanged (the
    OCR_KERNELS contract applied to MEDIA_KERNELS)."""
    from ollama_ocr_spark.operators.media import (
        MEDIA_KERNELS, register_media_kernel, resize_images_stage)

    df = spark.createDataFrame(
        [("u/i.jpg", build_image(8))], "url string, html binary"
    )
    before = resize_images_stage(df).collect()[0]
    default = MEDIA_KERNELS["resize_pixels"]
    try:
        register_media_kernel(
            "resize_pixels",
            lambda p, sw, sh, ow, oh: b"PIXELS:%dx%d" % (ow, oh),
        )
        # the stage captures the registered kernel at PLAN-BUILD time —
        # rebuild the plan after registering
        after = resize_images_stage(df).collect()[0]
    finally:
        register_media_kernel("resize_pixels", default)
    assert bytes(after["resized"]) == b"PIXELS:%dx%d" % (
        after["out_w"], after["out_h"])
    assert (after["src_w"], after["src_h"], after["out_w"],
            after["out_h"], after["plan_bytes"]) == (
        before["src_w"], before["src_h"], before["out_w"],
        before["out_h"], before["plan_bytes"])
    restored = resize_images_stage(df).collect()[0]
    assert bytes(restored["resized"]) == bytes(before["resized"])


def test_sample_frames_stage_rejects_nonpositive_step(spark):
    """step_ticks is interpolated into engine SQL: 0 divides, a negative
    value plans a descending sequence with wrong frames — both must be
    refused at plan-build time."""
    import pytest

    from ollama_ocr_spark.operators.media import sample_frames_stage

    df = spark.createDataFrame([("u", b"x")], ["url", "html"])
    for bad in (0, -300):
        with pytest.raises(ValueError, match="step_ticks"):
            sample_frames_stage(df, step_ticks=bad)


def test_sample_frames_stage_plan(spark):
    from ollama_ocr_spark.operators.media import sample_frames_stage

    df = spark.createDataFrame(
        [
            ("v1", _mp4_bytes(timescale=600, duration=1500)),
            ("v2", _mp4_bytes(timescale=600, duration=300)),
            ("v0", _mp4_bytes(timescale=600, duration=0)),  # no frames,
            # and no descending-sequence blowup (F.sequence(1,0) trap)
            ("a", _wav_bytes()),
            ("junk", b"not media"),
            ("none", None),
        ],
        "url string, html binary",
    )
    rows = sample_frames_stage(df, step_ticks=300).collect()
    by_url: dict[str, list] = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    assert set(by_url) == {"v1", "v2"}  # audio/junk/none/zero-dur: no rows
    v1 = sorted(by_url["v1"], key=lambda r: r["frame_idx"])
    assert [r["ts_ticks"] for r in v1] == [0, 300, 600, 900, 1200]
    assert [r["ts_ms"] for r in v1] == [0, 500, 1000, 1500, 2000]
    assert [r["frame_idx"] for r in v1] == [0, 1, 2, 3, 4]
    assert bytes(v1[2]["frame"]) == b"frame://v1@600"
    assert [r["ts_ticks"] for r in by_url["v2"]] == [0]

    # a kernel= override (the ffmpeg drop-in) changes only the bytes
    rows2 = sample_frames_stage(
        df, step_ticks=300, kernel=lambda u, t: b"GRAB!%d" % t
    ).collect()
    assert {bytes(r["frame"]) for r in rows2 if r["url"] == "v2"} == {
        b"GRAB!0"}
    assert len(rows2) == len(rows)


def test_media_metadata_stage_dispatch(spark):
    from ollama_ocr_spark.operators.media import media_metadata_stage

    rows = [
        ("u/a.wav", _wav_bytes()),
        ("u/v.mp4", _mp4_bytes()),
        ("u/p.png", b"\x89PNG\r\n\x1a\n" + (7).to_bytes(4, "big") * 0
         + (13).to_bytes(4, "big") + b"IHDR"
         + (320).to_bytes(4, "big") + (200).to_bytes(4, "big")
         + b"\x08\x02\x00\x00\x00" + b"\x00" * 4),
        ("u/t.html", b"<html><p>x</p></html>"),
        ("u/none", None),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: r for r in media_metadata_stage(df).collect()}
    assert got["u/a.wav"]["media_type"] == "audio"
    assert (got["u/a.wav"]["channels"], got["u/a.wav"]["sample_rate"]) == (2, 44100)
    assert got["u/v.mp4"]["media_type"] == "video"
    assert got["u/v.mp4"]["duration_secs"] == 2.5
    assert got["u/p.png"]["media_type"] == "image"
    assert (got["u/p.png"]["width"], got["u/p.png"]["height"]) == (320, 200)
    assert got["u/t.html"]["media_type"] is None
    assert got["u/none"]["media_type"] is None and got["u/none"]["bytes"] == 0
