"""Round-4 semantics pins: ADVICE fixes (ktruss zero-support
survivors, changelog base-vs-log seq ties) plus the round's new
operators as they land."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b, "t", 1.0) for a, b in pairs],
        "src string, dst string, type string, weight double",
    )


def test_ktruss_k2_keeps_triangle_free_edges_support0(spark):
    from vector_graph_native_database__spark.operators.analytics import (
        ktruss_peel,
    )

    # a triangle plus a pendant path: every edge is a 2-truss (k−2 = 0
    # triangles required), so k=2 must return ALL edges, pendants with
    # support 0 — the identity the round-3 inner join silently broke.
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    got = {
        (r["a"], r["b"]): r["support"]
        for r in ktruss_peel(_edges(spark, pairs), k=2, rounds=2).collect()
    }
    assert got == {
        ("a", "b"): 1,
        ("a", "c"): 1,
        ("b", "c"): 1,
        ("c", "d"): 0,
        ("d", "e"): 0,
    }


def test_bm25_topk_indexed_equals_cold(spark, sf_dir):
    from vector_graph_native_database__spark.registry import searchq

    cold = searchq.q_bm25_topk(spark, sf_dir).collect()
    staged = searchq.q_bm25_topk_indexed(spark, sf_dir).collect()
    assert [tuple(r) for r in cold] == [tuple(r) for r in staged]
    assert len(cold) > 0


def test_changelog_apply_seq_tie_log_beats_base(spark):
    from vector_graph_native_database__spark.operators.cdc import (
        changelog_apply,
    )

    base = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "k string, v double"
    )
    # seq 0 ties the synthetic base seq — the changelog row must win
    # deterministically (source priority), including a seq-0 delete.
    log = spark.createDataFrame(
        [("a", 10.0, 0, "U"), ("b", 0.0, 0, "D")],
        "k string, v double, seq long, op string",
    )
    got = {
        r["k"]: r["v"]
        for r in changelog_apply(base, log, ["k"]).collect()
    }
    assert got == {"a": 10.0}


def _png_bytes(w, h, color_type=2):
    """Minimal valid PNG via stdlib zlib/struct (no PIL needed)."""
    import struct
    import zlib

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x7f" * (w * channels) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _gif_bytes(w, h):
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 20


def _bmp_bytes(w, h, bits=24):
    import struct

    dib = struct.pack("<IiiHH", 40, w, h, 1, bits) + b"\x00" * 20
    return b"BM" + struct.pack("<IHHI", 54, 0, 0, 54) + dib


def _jpeg_bytes(w, h, channels=3):
    import struct

    sof0 = struct.pack(">BBHHB", 8, 0, 0, 0, 0)  # placeholder
    sof0 = struct.pack(">BHHB", 8, h, w, channels) + b"\x01\x11\x00" * channels
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    return (
        b"\xff\xd8"
        + app0
        + b"\xff\xc0"
        + struct.pack(">H", 2 + len(sof0))
        + sof0
        + b"\xff\xd9"
    )


def _wav_bytes(n_channels=2, rate=44100, n_frames=1000):
    import io
    import wave

    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x00" * n_channels * n_frames)
    return bio.getvalue()


def test_sniff_image_meta_real_formats():
    from vector_graph_native_database__spark.multimodal import (
        sniff_image_meta,
    )

    assert sniff_image_meta(_png_bytes(320, 200)) == (320, 200, 3)
    assert sniff_image_meta(_png_bytes(7, 9, color_type=6)) == (7, 9, 4)
    assert sniff_image_meta(_gif_bytes(100, 50)) == (100, 50, 3)
    assert sniff_image_meta(_bmp_bytes(640, 480)) == (640, 480, 3)
    assert sniff_image_meta(_jpeg_bytes(1920, 1080)) == (1920, 1080, 3)
    assert sniff_image_meta(b"not an image at all") is None


def test_decode_image_meta_real_and_auto_backends(spark):
    from vector_graph_native_database__spark.multimodal import (
        decode_image_meta,
    )

    rows = [
        ("png", bytearray(_png_bytes(33, 44))),
        ("gif", bytearray(_gif_bytes(12, 34))),
        ("txt", bytearray(b"plain text payload")),
    ]
    df = spark.createDataFrame(rows, "id string, payload binary")

    got = {
        r["id"]: (r["width"], r["height"], r["channels"])
        for r in decode_image_meta(df, backend="auto").collect()
    }
    assert got["png"] == (33, 44, 3)
    assert got["gif"] == (12, 34, 3)
    n = len(b"plain text payload")
    assert got["txt"] == (64 + n % 577, 64 + (n * 31) % 449, 3)

    # real backend: recognized formats decode; unrecognized raises
    real = spark.createDataFrame(rows[:2], "id string, payload binary")
    got_real = {
        r["id"]: (r["width"], r["height"])
        for r in decode_image_meta(real, backend="real").collect()
    }
    assert got_real == {"png": (33, 44), "gif": (12, 34)}

    import pytest as _pytest

    bad = spark.createDataFrame(rows[2:], "id string, payload binary")
    with _pytest.raises(Exception, match="unrecognized image format"):
        decode_image_meta(bad, backend="real").collect()


def test_decode_audio_meta_real_wav(spark):
    from vector_graph_native_database__spark.multimodal import (
        decode_audio_meta,
    )

    rows = [
        ("wav", bytearray(_wav_bytes(2, 44100, 1234))),
        ("txt", bytearray(b"plain text payload!!")),
    ]
    df = spark.createDataFrame(rows, "id string, payload binary")
    got = {
        r["id"]: (r["n_channels"], r["sample_rate"], r["n_samples"])
        for r in decode_audio_meta(df, backend="auto").collect()
    }
    assert got["wav"] == (2, 44100, 1234)
    n = 20
    assert got["txt"] == (1 + n % 2, 16000, n // 2)


def test_decode_image_meta_pil_backend():
    """Real-codec path through PIL itself — skips where PIL is absent
    so the first user with Pillow installed isn't the first test."""
    import pytest as _pytest

    pil = _pytest.importorskip("PIL.Image")
    import io

    from vector_graph_native_database__spark.multimodal.columns import (
        _decode_one,
    )

    buf = _png_bytes(21, 17)
    with pil.open(io.BytesIO(buf)) as im:
        assert (im.width, im.height) == (21, 17)
    assert _decode_one(buf, "real", pil) == (21, 17, 3)


def test_decode_audio_meta_soundfile_backend():
    import pytest as _pytest

    sf = _pytest.importorskip("soundfile")
    from vector_graph_native_database__spark.multimodal.columns import (
        _decode_audio_one,
    )

    assert _decode_audio_one(_wav_bytes(1, 8000, 64), "real", sf) == (
        1,
        8000,
        64,
    )


def test_chunk_dup_stats_cross_and_within_doc(spark):
    from vector_graph_native_database__spark.operators.text_analysis import (
        chunk_dup_stats,
    )

    df = spark.createDataFrame(
        [
            ("d1", "a b c a b c"),          # two identical chunks
            ("d2", "a b c x y z"),          # one cross-doc dup, one unique
            ("d3", "q"),                    # single unique chunk
            ("d4", ""),                     # empty doc -> zeros
        ],
        "id string, text string",
    )
    got = {
        r["id"]: (r["n_chunks"], r["n_dup_chunks"], r["dup_chunk_frac"])
        for r in chunk_dup_stats(df, chunk_tokens=3).collect()
    }
    assert got["d1"] == (2, 2, 1.0)
    assert got["d2"] == (2, 1, 0.5)
    assert got["d3"] == (1, 0, 0.0)
    assert got["d4"] == (0, 0, 0.0)


def test_bpe_first_merges_counts_adjacent_char_pairs(spark):
    from vector_graph_native_database__spark.operators.text_analysis import (
        bpe_first_merges,
    )

    # "abab" -> ab, ba, ab ; "ab" -> ab ; "x" -> none
    df = spark.createDataFrame(
        [("d1", "abab ab x")], "id string, text string"
    )
    got = [
        (r["pair"], r["n_pairs"], r["rnk"])
        for r in bpe_first_merges(df, topn=10).collect()
    ]
    assert got == [("ab", 3, 1), ("ba", 1, 2)]


def test_state_store_single_writer_lock(spark, tmp_path):
    import os
    import time

    from vector_graph_native_database__spark.streaming.ingest import (
        ConcurrentWriterError,
        commit_state,
        read_state,
    )

    sd = str(tmp_path / "state")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    assert commit_state(df, sd) == "v000001"

    # a live lock (young mtime) blocks a second writer
    lock = os.path.join(sd, "_COMMIT_LOCK")
    with open(lock, "w") as f:
        f.write("9999\n")
    import pytest as _pytest

    with _pytest.raises(ConcurrentWriterError, match="single-writer"):
        commit_state(df, sd)

    # a STALE lock (crashed writer) is reclaimed and the commit runs
    old = time.time() - 3600
    os.utime(lock, (old, old))
    assert commit_state(df, sd) == "v000002"
    assert not os.path.exists(lock)  # released after commit
    assert read_state(spark, sd).count() == 1


def test_exact_dedup_normalized_catches_case_and_whitespace(spark):
    from vector_graph_native_database__spark.operators.dedup import (
        exact_dedup_groups,
        exact_dedup_groups_normalized,
    )

    df = spark.createDataFrame(
        [
            ("d1", "Hello  World"),
            ("d2", "hello world"),      # same after normalization
            ("d3", " HELLO\tWORLD "),   # same after normalization
            ("d4", "something else"),
        ],
        "id string, text string",
    )
    # byte-identical hashing sees no duplicates at all
    assert exact_dedup_groups(df).count() == 0
    groups = exact_dedup_groups_normalized(df).collect()
    assert len(groups) == 1
    assert groups[0]["cnt"] == 3 and groups[0]["keeper_id"] == "d1"


def test_chunk_span_dedup_keeps_one_canonical_occurrence(spark):
    from vector_graph_native_database__spark.operators.text_analysis import (
        chunk_span_dedup,
    )

    df = spark.createDataFrame(
        [
            ("d1", "a b c x y z"),   # chunks: "a b c", "x y z"
            ("d2", "a b c q r s"),   # "a b c" duplicates d1's
            ("d3", "x y z"),         # duplicates d1's second chunk
        ],
        "id string, text string",
    )
    got = {
        r["id"]: (r["n_chunks"], r["n_kept"])
        for r in chunk_span_dedup(df, chunk_tokens=3).collect()
    }
    # canonical = lexicographically first (doc, position): d1 keeps
    # both of its chunks; d2 loses "a b c", d3 loses everything
    assert got == {"d1": (2, 2), "d2": (2, 1), "d3": (1, 0)}
