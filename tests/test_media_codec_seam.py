"""Pluggable media codec seam (VERDICT r8 #5).

The stdlib codecs carry a Python-loop constant; production swaps in a
native-backed MediaCodec per session. These tests pin the seam: the
default is the batch-stacked codec, ``set_media_codec`` routes every
pipeline decode/encode through the installed instance (verified with a
counting wrapper), results are identical whenever the installed codec
honors the contract, and the batch codec and its numpy per-item
kernels are byte-identical to the stdlib reference kernel by kernel.
"""

from __future__ import annotations

import pytest

from eventsourcing_spark.pipeline.media_codecs import (
    MediaCodec,
    STDLIB_CODEC,
    decode_png,
    encode_png,
    get_media_codec,
    set_media_codec,
)


@pytest.fixture(autouse=True)
def _restore_codec():
    yield
    set_media_codec(None)


def _counting_codec(marker_dir: str) -> MediaCodec:
    """Wrap every stdlib kernel with a filesystem call marker — the
    shape of a native-backed swap, minus the native library. Markers
    (not a dict) because the kernels run inside Python WORKER processes
    under mapInPandas; a captured dict would mutate only the worker's
    copy. Local mode shares the filesystem, so touched files are the
    observable channel back to the driver."""

    def wrap(name, fn):
        def inner(*a, **kw):
            import os
            import uuid as _uuid

            open(
                os.path.join(marker_dir, f"{name}-{_uuid.uuid4().hex}"),
                "w",
            ).close()
            return fn(*a, **kw)

        return inner

    return MediaCodec(
        name="counting",
        **{
            k: wrap(k, getattr(STDLIB_CODEC, k))
            for k in (
                "decode_png", "encode_png", "resample_nearest",
                "decode_wav", "encode_wav", "decode_avi", "encode_avi",
            )
        },
    )


def _marker_counts(marker_dir: str) -> dict:
    import os

    out: dict = {}
    for n in os.listdir(marker_dir):
        key = n.rsplit("-", 1)[0]
        out[key] = out.get(key, 0) + 1
    return out


def test_runtime_codec_is_batch():
    """The runtime default is the batch-stacked codec, with no fallback
    chain (numpy is a baked dependency, so a broken numpy fails loudly);
    the stdlib codec stays the behavioral reference."""
    from eventsourcing_spark.pipeline.media_codecs_batch import BATCH_CODEC

    c = get_media_codec()
    assert c is BATCH_CODEC and c.name == "batch"
    assert c.decode_png_batch is not None
    assert c.encode_png_batch is not None
    # the stdlib reference stays intact
    assert STDLIB_CODEC.decode_png is decode_png
    assert STDLIB_CODEC.encode_png is encode_png
    assert STDLIB_CODEC.decode_png_batch is None  # no batch kernels


def test_runtime_codec_resolution_is_lazy_and_import_order_proof():
    """r10 ADVICE: the default must not depend on module import order —
    get_media_codec() resolves lazily, so even after a set/reset cycle
    the default is re-derived, never a stale import-time snapshot."""
    import eventsourcing_spark.pipeline.media_codecs as mc

    first = get_media_codec()
    set_media_codec(STDLIB_CODEC)
    assert get_media_codec() is STDLIB_CODEC
    set_media_codec(None)
    assert get_media_codec() is first
    # the lazy cell is re-resolvable from scratch
    mc._ACTIVE_CODEC = None
    assert get_media_codec() is first


def test_set_returns_previous_and_none_resets(tmp_path):
    default = get_media_codec()
    custom = _counting_codec(str(tmp_path))
    prev = set_media_codec(custom)
    assert prev is default
    assert get_media_codec() is custom
    prev2 = set_media_codec(None)
    assert prev2 is custom
    assert get_media_codec() is default


def test_custom_codec_routes_and_matches_stdlib(spark, sf_dir, tmp_path):
    """media_png_decode_stats through a counting codec: every decode
    routes through the installed instance AND the result rows are
    byte-identical to the stdlib run."""
    from eventsourcing_spark.registry import SPARK_QUERIES

    q = SPARK_QUERIES["media_png_decode_stats"]
    baseline = sorted(map(tuple, q(spark, sf_dir).collect()))

    set_media_codec(_counting_codec(str(tmp_path)))
    try:
        swapped = sorted(map(tuple, q(spark, sf_dir).collect()))
    finally:
        set_media_codec(None)
    assert swapped == baseline
    counts = _marker_counts(str(tmp_path))
    # encode fixture + decode stage both routed through the seam
    assert counts.get("encode_png", 0) > 0
    assert counts.get("decode_png", 0) > 0


def test_decode_and_featurize_uses_active_codec(spark, tmp_path):
    """The generic mapInPandas decode path resolves the codec at
    plan-build time — a PNG payload decoded under a counting codec
    bumps the counter."""
    from eventsourcing_spark.pipeline.multimodal import (
        DECODED_SCHEMA,
        decode_and_featurize,
    )

    px = bytes(range(48))
    png = encode_png(px, 8, 6, 1)
    media = spark.createDataFrame(
        [(1, "image", bytearray(png), ("png", 8, 6, 0, 0))],
        "media_id long, kind string, content binary, "
        "metadata struct<format:string,width:int,height:int,"
        "sample_rate:int,duration_ms:int>",
    )
    set_media_codec(_counting_codec(str(tmp_path)))
    try:
        rows = decode_and_featurize(media).collect()
    finally:
        set_media_codec(None)
    counts = _marker_counts(str(tmp_path))
    assert rows[0].width == 8 and rows[0].height == 6
    assert counts.get("decode_png", 0) >= 1
    assert [f.name for f in DECODED_SCHEMA.fields] == list(rows[0].asDict())


def test_broken_codec_surfaces_loudly(spark):
    """A codec violating the contract fails the job rather than
    mis-decoding silently."""

    def boom(data):
        raise RuntimeError("native codec exploded")

    from eventsourcing_spark.pipeline.multimodal import decode_and_featurize

    png = encode_png(bytes(24), 6, 4, 1)
    media = spark.createDataFrame(
        [(1, "image", bytearray(png), ("png", 6, 4, 0, 0))],
        "media_id long, kind string, content binary, "
        "metadata struct<format:string,width:int,height:int,"
        "sample_rate:int,duration_ms:int>",
    )
    set_media_codec(MediaCodec(name="broken", decode_png=boom))
    try:
        with pytest.raises(Exception, match="native codec exploded"):
            decode_and_featurize(media).collect()
    finally:
        set_media_codec(None)


# --------------------------------------------------------------------------
# numpy per-item kernels (the batch codec's small-group and WAV path):
# byte parity with the stdlib reference, and gate-query identity under
# both codecs.
# --------------------------------------------------------------------------
def test_numpy_codec_byte_parity_fuzz():
    """Every numpy per-item kernel must be BYTE-identical to the
    stdlib reference — encodes, decodes (all five PNG filter paths via
    the y%5 cycling), resamples, WAV packing, and the out-of-range
    error contract."""
    import random
    import struct

    from eventsourcing_spark.pipeline import media_codecs as mc
    from eventsourcing_spark.pipeline import media_codecs_np as mn

    rng = random.Random(20260816)
    # small images exercise the adaptive stdlib delegation; the >=48px
    # sizes exercise the true numpy vector paths (above both routing
    # thresholds), so every filter branch of BOTH implementations runs
    for w, h, ch in [(48, 50, 1), (52, 49, 3), (64, 33, 1)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        enc = mc.encode_png(px, w, h, ch)
        assert mn.encode_png_np(px, w, h, ch) == enc
        assert mn.decode_png_np(enc) == mc.decode_png(enc)
    for _ in range(25):
        ch = rng.choice([1, 3])
        w, h = rng.randint(1, 33), rng.randint(1, 19)
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        enc = mc.encode_png(px, w, h, ch)
        assert mn.encode_png_np(px, w, h, ch) == enc
        assert mn.decode_png_np(enc) == mc.decode_png(enc)
        assert mc.decode_png(enc)["pixels"] == px
        nw, nh = rng.randint(1, 40), rng.randint(1, 40)
        assert mn.resample_nearest_np(px, w, h, nw, nh, ch) == \
            mc.resample_nearest(px, w, h, nw, nh, ch)
    for _ in range(10):
        sm = [rng.randint(-32768, 32767) for _ in range(rng.randint(1, 300))]
        wav = mc.encode_wav(sm, 8000)
        assert mn.encode_wav_np(sm, 8000) == wav
        assert mn.decode_wav_np(wav) == mc.decode_wav(wav)
    for fn in (mc.encode_wav, mn.encode_wav_np):
        with pytest.raises(struct.error):
            fn([40000], 8000)


@pytest.mark.parametrize(
    "qname",
    [
        "media_phash_neardup_pairs",
        "media_resize_pixels",
        "media_audio_fingerprint_neardup",
        "media_video_framehash_neardup",
    ],
)
def test_gate_queries_identical_under_all_codecs(spark, sf_dir, qname):
    """The four headline media queries return IDENTICAL rows under the
    stdlib reference and the batch runtime codec."""
    from eventsourcing_spark.pipeline.media_codecs import STDLIB_CODEC
    from eventsourcing_spark.pipeline.media_codecs_batch import BATCH_CODEC
    from eventsourcing_spark.registry import SPARK_QUERIES

    q = SPARK_QUERIES[qname]
    rows = {}
    for codec in (STDLIB_CODEC, BATCH_CODEC):
        set_media_codec(codec)
        try:
            rows[codec.name] = sorted(map(tuple, q(spark, sf_dir).collect()))
        finally:
            set_media_codec(None)
    assert rows["stdlib"] == rows["batch"]
    assert rows["stdlib"], f"{qname} returned no rows at this sf"


# --------------------------------------------------------------------------
# Batch-stacked codec (VERDICT r10 #1): whole-batch kernels must be
# byte-identical to the stdlib reference over mixed-size, mixed-channel
# batches, across the MIN_BATCH and chunking boundaries.
# --------------------------------------------------------------------------
def test_batch_codec_byte_parity_fuzz():
    import random

    from eventsourcing_spark.pipeline import media_codecs as mc
    from eventsourcing_spark.pipeline import media_codecs_batch as mbat

    rng = random.Random(20260817)
    items = []
    # the gate family's thumbnail shapes plus degenerate 1-px edges
    for _ in range(120):
        ch = rng.choice([1, 3])
        w, h = rng.randint(1, 20), rng.randint(1, 16)
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        items.append((px, w, h, ch))
    # above the single-image numpy thresholds — the stacked vector path
    for _ in range(6):
        ch = rng.choice([1, 3])
        w, h = rng.randint(40, 70), rng.randint(40, 70)
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        items.append((px, w, h, ch))
    encs = mbat.encode_png_batch(items)
    assert encs == [mc.encode_png(*it) for it in items]
    assert mbat.decode_png_batch(encs) == [mc.decode_png(e) for e in encs]
    rs = [
        (p, w, h, rng.randint(1, 24), rng.randint(1, 24), c)
        for p, w, h, c in items
    ]
    assert mbat.resample_nearest_batch(rs) == [
        mc.resample_nearest(*it) for it in rs
    ]
    # below MIN_BATCH the kernels delegate per-image — still identical
    small = items[:2]
    assert mbat.encode_png_batch(small) == [
        mc.encode_png(*it) for it in small
    ]
    assert mbat.encode_png_batch([]) == []
    assert mbat.decode_png_batch([]) == []
    assert mbat.resample_nearest_batch([]) == []


def test_batch_codec_chunking_respects_memory_bound(monkeypatch):
    """A pathological mixed batch (huge image among thumbnails) must
    split into bounded stacks and STILL return byte-identical results
    in input order."""
    import random

    from eventsourcing_spark.pipeline import media_codecs as mc
    from eventsourcing_spark.pipeline import media_codecs_batch as mbat

    rng = random.Random(7)
    items = []
    for _ in range(40):
        w, h = rng.randint(2, 12), rng.randint(2, 12)
        items.append(
            (bytes(rng.randrange(256) for _ in range(w * h)), w, h, 1)
        )
    big_w, big_h = 90, 80
    items.insert(
        17,
        (bytes(rng.randrange(256) for _ in range(big_w * big_h)),
         big_w, big_h, 1),
    )
    monkeypatch.setattr(mbat, "MAX_GROUP_BYTES", 16 * 1024)
    encs = mbat.encode_png_batch(items)
    assert encs == [mc.encode_png(*it) for it in items]
    assert mbat.decode_png_batch(encs) == [mc.decode_png(e) for e in encs]


def test_bounded_groups_tracks_axis_maxima_separately(monkeypatch):
    """round-12 ADVICE: sorting by (h, w) still lets a tall-narrow and
    a short-wide image share a run, whose padded stack costs
    h_max * stride_max PER IMAGE — for 1x10000 beside 10000x1 that is
    ~10,000x either image's own size. The grouper must bound the REAL
    stacked allocation, not max(per-image padded size)."""
    import random

    from eventsourcing_spark.pipeline import media_codecs as mc
    from eventsourcing_spark.pipeline import media_codecs_batch as mbat

    # direct pin on the grouper: per-image padded size is 40 KB, but a
    # joint stack would be 40000*40000 = 1.6 GB
    dims = [(1, 40000), (40000, 1)] * 4 + [(1, 40000)]
    runs = list(
        mbat._bounded_groups(
            list(range(len(dims))),
            lambda i: (dims[i],),
            mbat.MAX_GROUP_BYTES,
        )
    )
    for run in runs:
        hm = max(dims[i][0] for i in run)
        sm = max(dims[i][1] for i in run)
        assert len(run) * hm * sm <= mbat.MAX_GROUP_BYTES
    assert sorted(i for r in runs for i in r) == list(range(len(dims)))

    # resample allocates TWO stacks (source + dest); a short-wide
    # source resampled to tall-narrow must bound their SUM
    rdims = [((1, 4000), (4000, 1)), ((4000, 1), (1, 4000))] * 3
    for run in mbat._bounded_groups(
        list(range(len(rdims))), lambda i: rdims[i], 64 * 1024
    ):
        tot = sum(
            max(rdims[i][k][0] for i in run)
            * max(rdims[i][k][1] for i in run)
            for k in (0, 1)
        )
        assert len(run) * tot <= 64 * 1024

    # end-to-end: mixed-aspect batch stays byte-identical through the
    # degraded (smaller-run) path under a tightened bound
    rng = random.Random(11)
    items = []
    for _ in range(10):
        items.append((bytes(rng.randrange(256) for _ in range(64)), 64, 1, 1))
        items.append((bytes(rng.randrange(256) for _ in range(64)), 1, 64, 1))
    monkeypatch.setattr(mbat, "MAX_GROUP_BYTES", 2048)
    encs = mbat.encode_png_batch(items)
    assert encs == [mc.encode_png(*it) for it in items]
    assert mbat.decode_png_batch(encs) == [mc.decode_png(e) for e in encs]
    rs = [(p, w, h, h, w, c) for p, w, h, c in items]  # transpose shapes
    assert mbat.resample_nearest_batch(rs) == [
        mc.resample_nearest(*it) for it in rs
    ]


def test_batch_codec_error_contract():
    """Invalid inputs raise the scalar kernels' exact errors."""
    import pytest as _pytest

    from eventsourcing_spark.pipeline import media_codecs_batch as mbat

    good = (bytes(range(16)), 4, 4, 1)
    with _pytest.raises(ValueError, match="channels must be"):
        mbat.encode_png_batch([good, (bytes(16), 4, 4, 2)] * 3)
    with _pytest.raises(ValueError, match="pixel buffer"):
        mbat.encode_png_batch([good, (bytes(15), 4, 4, 1)] * 3)
    with _pytest.raises(ValueError, match="not a PNG"):
        mbat.decode_png_batch([b"nope"] * 8)
    with _pytest.raises(ValueError, match="target dimensions"):
        mbat.resample_nearest_batch([(bytes(16), 4, 4, 0, 2, 1)] * 8)
