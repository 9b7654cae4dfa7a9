"""Multimodal plumbing (stubbed decode over real Arrow batches) and
Structured Streaming incremental triple emission."""

import os

import pytest
from pyspark.sql import functions as F

from ont_d2rq_spark.operators import multimodal as MM
from ont_d2rq_spark.pipeline import docs as P

SF = "/root/testdata/sf0.001"


def test_decode_media_plumbing(spark):
    docs = P.synthesize_interleaved(spark, SF)
    media = MM.media_refs_from_docs(docs)
    n_media = media.count()
    assert n_media > 0
    meta = MM.decode_media(media)
    assert meta.schema == MM.MEDIA_META_SCHEMA
    rows = meta.collect()
    assert len(rows) == n_media
    r = rows[0]
    assert r["n_bytes"] > 0 and r["width"] >= 16 and len(r["feature"]) == 8
    assert abs(sum(r["feature"]) - 1.0) < 1e-6  # L1 normalized
    # deterministic stub: same ref → same decode
    again = {x["media_ref"]: (x["width"], x["height"]) for x in meta.collect()}
    assert again[r["media_ref"]] == (r["width"], r["height"])


def test_decode_batch_vectorized_matches_scalar_reference():
    """The numpy-vectorized batch kernel must reproduce the scalar stub
    semantics byte-for-byte (incl. empty content)."""
    import pandas as pd

    contents = [b"abc#image", b"", b"\x00\xff" * 7, bytes(range(200))]
    pdf = pd.DataFrame(
        {
            "media_ref": [f"m{i}" for i in range(len(contents))],
            "kind": ["image"] * len(contents),
            "content": contents,
        }
    )
    (out,) = list(MM.decode_media_batch(iter([pdf])))
    for i, c in enumerate(contents):
        w, h = MM._fake_decode(c)
        assert (out["width"][i], out["height"][i]) == (w, h)
        assert list(out["hist"][i]) == MM._fake_hist(c)
        assert [round(float(x), 6) for x in out["feature"][i]] == [
            round(x, 6) for x in MM._fake_feature(c)
        ]
        assert out["n_bytes"][i] == len(c)
    # empty batch round-trips
    empty = pdf.iloc[0:0]
    (eout,) = list(MM.decode_media_batch(iter([empty])))
    assert len(eout) == 0


@pytest.mark.skipif(not MM.HAVE_PIL, reason="PIL not installed (stub-only container)")
def test_decode_media_pil_branch(spark):
    """Capability-flag path: with PIL present, decode_media reads real
    image headers; undecodable bytes fall back to the stub."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("L", (40, 30), color=128).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame(
        [("img1", "image", png), ("fake1", "image", b"not-an-image")],
        "media_ref string, kind string, content binary",
    )
    rows = {r["media_ref"]: r for r in MM.decode_media(df).collect()}
    assert (rows["img1"]["width"], rows["img1"]["height"]) == (40, 30)
    assert sum(rows["img1"]["hist"]) == 40 * 30  # one bucket per pixel
    w, h = MM._fake_decode(b"not-an-image")
    assert (rows["fake1"]["width"], rows["fake1"]["height"]) == (w, h)


def test_pil_flag_matches_environment():
    """HAVE_PIL is a live probe of the environment, not a constant."""
    import importlib.util

    assert MM.HAVE_PIL == (importlib.util.find_spec("PIL") is not None)


def test_resize_plan(spark):
    """Aspect-preserving fit: longest side capped, aspect ratio kept
    (within integer floor), never upscaled."""
    meta = spark.createDataFrame(
        [("a", 100, 50), ("b", 30, 20), ("c", 64, 640)],
        "media_ref string, width int, height int",
    )
    out = {r["media_ref"]: r for r in MM.resize_plan(meta, max_side=64).collect()}
    assert (out["a"]["out_width"], out["a"]["out_height"], out["a"]["scaled"]) == (64, 32, True)
    assert (out["b"]["out_width"], out["b"]["out_height"], out["b"]["scaled"]) == (30, 20, False)
    assert (out["c"]["out_width"], out["c"]["out_height"]) == (6, 64)  # floor(6.4)


def test_sample_frames_plumbing(spark):
    """Frame sampling: Arrow-batched mapInPandas, deterministic stub
    extractor, one row per sampled frame, schema pinned."""
    vids = spark.createDataFrame(
        [("v1", b"0123456789" * 3), ("v2", b"ab")],
        "media_ref string, content binary",
    )
    frames = MM.sample_frames(vids, every_ms=500)
    assert frames.schema == MM.FRAME_SCHEMA
    rows = frames.collect()
    by_ref = {}
    for r in rows:
        by_ref.setdefault(r["media_ref"], []).append(r)
    # v1: 30 bytes → 3000 ms 'duration' → frames at 0,500,...,2500 = 6
    assert len(by_ref["v1"]) == 6
    assert sorted(r["frame_ts_ms"] for r in by_ref["v1"]) == [0, 500, 1000, 1500, 2000, 2500]
    # v2: 2 bytes → 200 ms → one frame at t=0
    assert len(by_ref["v2"]) == 1 and by_ref["v2"][0]["frame_bytes"] == b"ab"
    # deterministic: indices contiguous from 0
    assert sorted(r["frame_index"] for r in by_ref["v1"]) == list(range(6))


def test_streaming_doc_mentions(spark, tmp_path):
    """The doc-pipeline mention stage runs unchanged on a STREAM of
    interleaved documents (source-agnostic transforms: same pandas UDF,
    same explode) — incremental KG extraction for doc appends."""
    docs = P.synthesize_interleaved(spark, SF)
    src = str(tmp_path / "docs_src")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    mentions_stream = P.detect_mentions(stream)
    out = str(tmp_path / "mentions_out")
    q = (
        mentions_stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    expect = P.detect_mentions(docs)
    assert got.count() == expect.count()
    assert got.exceptAll(expect).isEmpty()


def test_dedup_within_watermark(spark, tmp_path):
    """Bounded-state streaming dedup: duplicate triple identities inside
    the watermark horizon are emitted once (the streaming analogue of
    the batch dump's global DISTINCT)."""
    import datetime as dt

    from ont_d2rq_spark.streaming.incremental import dedup_within_watermark

    T = dt.datetime
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        ("s1", "p", "o1", None, None, False, T(2020, 1, 1, 10, 0)),
        ("s1", "p", "o1", None, None, False, T(2020, 1, 1, 10, 1)),  # duplicate identity
        ("s1", "p", "o1", None, None, False, T(2020, 1, 1, 10, 2)),  # duplicate identity
        ("s2", "p", "o2", None, None, False, T(2020, 1, 1, 10, 3)),
        # "1"@en and "1"@de are two triples; so are an IRI and a typed
        # literal of the same lexical form, and an IRI and a plain literal
        ("s3", "p", "1", None, "en", True, T(2020, 1, 1, 10, 4)),
        ("s3", "p", "1", None, "de", True, T(2020, 1, 1, 10, 5)),
        ("s4", "p", "o4", None, None, False, T(2020, 1, 1, 10, 6)),
        ("s4", "p", "o4", XSD_INT, None, True, T(2020, 1, 1, 10, 7)),
        ("s5", "p", "o5", None, None, False, T(2020, 1, 1, 10, 8)),
        ("s5", "p", "o5", None, None, True, T(2020, 1, 1, 10, 9)),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_datatype string, obj_lang string, "
        "is_literal boolean, ets timestamp",
    )
    src = str(tmp_path / "in")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        dedup_within_watermark(stream, "ets", "1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["subj"], r["obj"], r["obj_datatype"], r["obj_lang"], r["is_literal"])
        for r in spark.sql("select * from dedup_out").collect()
    }
    assert got == {
        ("s1", "o1", None, None, False),
        ("s2", "o2", None, None, False),
        ("s3", "1", None, "en", True),
        ("s3", "1", None, "de", True),
        ("s4", "o4", None, None, False),
        ("s4", "o4", XSD_INT, None, True),
        ("s5", "o5", None, None, False),
        ("s5", "o5", None, None, True),
    }
    assert spark.sql("select count(*) n from dedup_out").first()["n"] == 8


def test_streaming_incremental_triples(spark, tmp_path):
    """File-source stream over the customer table → same triples as the
    batch compiler, via availableNow trigger."""
    from ont_d2rq_spark.examples import tpch_mapping
    from ont_d2rq_spark.graph import VirtualGraph
    from ont_d2rq_spark.streaming.incremental import (
        incremental_triples,
        write_stream_parquet,
    )

    m = tpch_mapping(SF)
    batch_df = spark.read.parquet(f"{SF}/customer.parquet")
    stream_src = str(tmp_path / "src")
    batch_df.write.mode("overwrite").parquet(stream_src)
    stream = spark.readStream.schema(batch_df.schema).parquet(stream_src)

    triples = incremental_triples(spark, m, "customer", stream)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = write_stream_parquet(triples, out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    g = VirtualGraph(m, spark)
    expect = g.find(p="http://example.org/name").filter(
        F.col("subj").contains("/customer/")
    )
    got_names = got.filter(F.col("pred") == "http://example.org/name")
    assert got_names.count() == expect.count()
    assert got_names.exceptAll(expect).isEmpty()


# ---------------------------------------------------------------------------
# r5: pure-stdlib PNG decode — the real-kernel path lives WITHOUT PIL
# ---------------------------------------------------------------------------


def _png_chunk(typ, data):
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _mk_png(width, height, scanlines, color_type=0):
    """Minimal PNG writer for tests: ``scanlines`` is a list of
    (filter_byte, raw_bytes) pairs — raw bytes are the FILTERED data,
    so filter semantics are exercised exactly."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = b"".join(bytes([f]) + bytes(line) for f, line in scanlines)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def test_png_decode_filters():
    """All five PNG scanline filters reconstruct exactly (gray 8-bit):
    rows encoded with None/Sub/Up/Average/Paeth against known pixels."""
    import numpy as np

    # target image 4x5 (w=4, h=5), pixel value = 10*y + x
    target = np.array([[10 * y + x for x in range(4)] for y in range(5)])
    lines = []
    prev = np.zeros(4, dtype=np.int64)
    for y, f in enumerate([0, 1, 2, 3, 4]):
        cur = target[y]
        if f == 0:
            enc = cur
        elif f == 1:  # Sub
            enc = (cur - np.concatenate(([0], cur[:-1]))) % 256
        elif f == 2:  # Up
            enc = (cur - prev) % 256
        elif f == 3:  # Average
            enc = [
                (cur[x] - ((int(cur[x - 1]) if x else 0) + int(prev[x])) // 2) % 256
                for x in range(4)
            ]
        else:  # Paeth
            enc = []
            for x in range(4):
                a = int(cur[x - 1]) if x else 0
                b, c = int(prev[x]), (int(prev[x - 1]) if x else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((cur[x] - pr) % 256)
        lines.append((f, list(np.asarray(enc, dtype=np.int64) % 256)))
        prev = cur
    png = _mk_png(4, 5, lines)
    got = MM._png_decode(png)
    assert got is not None
    w, h, gray = got
    assert (w, h) == (4, 5)
    assert list(gray) == [10 * y + x for y in range(5) for x in range(4)]


def test_png_decode_rgb_luma():
    """RGB PNGs decode via integer ITU-R 601 luma."""
    # 2x1 RGB: pure red and pure white
    line = [255, 0, 0, 255, 255, 255]
    png = _mk_png(2, 1, [(0, line)], color_type=2)
    w, h, gray = MM._png_decode(png)
    assert (w, h) == (2, 1)
    assert list(gray) == [255 * 299 // 1000, 255]


def test_decode_media_real_kernel_without_pil(spark):
    """decode_media decodes a real PNG without PIL (stdlib zlib path)
    while non-PNG bytes in the same batch keep the stub semantics."""
    rows_png = [(0, [128] * 40)] * 30
    png = _mk_png(40, 30, rows_png)
    df = spark.createDataFrame(
        [("img1", "image", png), ("fake1", "image", b"not-an-image")],
        "media_ref string, kind string, content binary",
    )
    rows = {r["media_ref"]: r for r in MM.decode_media(df).collect()}
    assert (rows["img1"]["width"], rows["img1"]["height"]) == (40, 30)
    assert sum(rows["img1"]["hist"]) == 40 * 30
    assert rows["img1"]["hist"][128 // 32] == 40 * 30  # all pixels one bucket
    w, h = MM._fake_decode(b"not-an-image")
    assert (rows["fake1"]["width"], rows["fake1"]["height"]) == (w, h)


def test_png_decode_rejects_garbage():
    assert MM._png_decode(b"not-a-png") is None
    assert MM._png_decode(b"\x89PNG\r\n\x1a\ntruncated") is None


def test_png_decode_roundtrip_property():
    """Property test (hypothesis): any 8-bit image round-trips through
    the test encoder (random per-row filter types, random pixels,
    gray or RGB) and _png_decode reconstructs the exact pixels."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 7),
        color=st.sampled_from([0, 2]),
        data=st.data(),
    )
    def prop(w, h, color, data):
        ch = 1 if color == 0 else 3
        px = np.array(
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch
                )
            ),
            dtype=np.int64,
        ).reshape(h, w * ch)
        fts = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
        # encode with the chosen filter per scanline
        lines = []
        prev = np.zeros(w * ch, dtype=np.int64)
        for y in range(h):
            cur, f = px[y], fts[y]
            if f == 0:
                enc = cur.copy()
            elif f == 1:
                left = np.concatenate((np.zeros(ch, dtype=np.int64), cur[:-ch]))
                enc = (cur - left) % 256
            elif f == 2:
                enc = (cur - prev) % 256
            elif f == 3:
                enc = np.array(
                    [
                        (cur[x] - ((int(cur[x - ch]) if x >= ch else 0) + int(prev[x])) // 2) % 256
                        for x in range(w * ch)
                    ]
                )
            else:
                enc = []
                for x in range(w * ch):
                    a = int(cur[x - ch]) if x >= ch else 0
                    b, c = int(prev[x]), (int(prev[x - ch]) if x >= ch else 0)
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    enc.append((cur[x] - pr) % 256)
                enc = np.array(enc)
            lines.append((f, list(np.asarray(enc) % 256)))
            prev = cur
        png = _mk_png(w, h, lines, color_type=color)
        got = MM._png_decode(png)
        assert got is not None
        gw, gh, gray = got
        assert (gw, gh) == (w, h)
        if color == 0:
            expect = px.reshape(-1)
        else:
            rgb = px.reshape(h, w, 3)
            expect = (
                (rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000
            ).reshape(-1)
        assert list(gray) == list(expect)

    prop()


def test_png_decode_avg_paeth_512_budget():
    """A 512x512 RGB PNG of alternating Average/Paeth scanlines decodes
    EXACTLY and under a wall budget — pins the list-based sequential
    unfilter loops (r6: these two filters have no prefix-scan form, so
    they are per-scanline python-int loops; measured ~0.25 s here, the
    5 s budget is ~20x headroom so a loaded CI box never flakes, while
    the original per-element-numpy implementation at ~0.9 s would
    still pass only 5x under — a regression to per-pixel numpy or an
    accidental O(n^2) shows up immediately)."""
    import time

    import numpy as np

    w = h = 512
    ch = 3
    stride = w * ch
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(h, stride), dtype=np.int64)
    lines = []
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        line, f = px[y], 3 if y % 2 == 0 else 4
        left = np.concatenate([np.zeros(ch, dtype=np.int64), line[:-ch]])
        if f == 3:
            flt = (line - (left + prev) // 2) % 256
        else:
            upleft = np.concatenate([np.zeros(ch, dtype=np.int64), prev[:-ch]])
            p = left + prev - upleft
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - upleft)
            pr = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            flt = (line - pr) % 256
        lines.append((f, flt.astype(np.uint8).tobytes()))
        prev = line
    png = _mk_png(w, h, lines, color_type=2)

    t0 = time.perf_counter()
    got = MM._png_decode(png)
    wall = time.perf_counter() - t0
    assert got is not None
    gw, gh, gray = got
    rgb = px.reshape(h, w, ch)
    want = (rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000
    assert (gw, gh) == (w, h)
    assert np.array_equal(np.asarray(gray).reshape(h, w), want)
    assert wall < 5.0, f"Average/Paeth unfilter took {wall:.2f}s on 512x512"
