"""Batch-stacked numpy MediaCodec (VERDICT r10 directive #1).

Round 10 measured why the single-image numpy codec could not beat the
stdlib byte loops at the gate's 16-22 px thumbnail fixtures: numpy's
fixed per-call cost (~60-90 µs of array setup across the 5-filter
encode) dominates below ~1-2k pixels, so ``media_codecs_np`` routes
small images back to the stdlib reference and the per-image constant
stays. The lever that removes it — specced in round 10, built here —
is to amortize that per-call cost across the WHOLE Arrow batch:

* **encode_png_batch** — stack every image of the batch into one
  zero-padded ``(n, H_max, stride_max)`` array. On the encode side no
  filter has an output recurrence, and the ``y % 5`` filter schedule
  is a function of the row index alone — shared by every image by
  construction — so all five scanline filters run as FIVE array ops
  over the entire batch (left/up/up-left neighbor arrays are plain
  shifted views; Paeth is the vector predictor from media_codecs_np).
  Zero-padding is safe: a filtered byte at (y, x) depends only on
  source bytes at (y, ≤x) and (y−1, ≤x) of the SAME image, so each
  image's valid region is untouched by its padding, and the padded
  lanes are sliced away before the per-image zlib.compress (zlib and
  chunk framing are C-speed and stay per-image — identical bytes to
  ``media_codecs.encode_png`` by construction).
* **decode_png_batch** — chunk walk / CRC / inflate per image (all
  C-speed), then one stacked unfilter pass: per padded row, images are
  grouped by filter byte; None/Up are whole-row vector ops and Sub a
  per-lane cumulative sum exactly as in the single-image codec, while
  Average/Paeth — whose recurrence runs along x — now loop over the
  ≤ stride_max columns with each step a VECTOR op across all images
  in the group (the round-10 spec's key observation: the recurrence
  serializes x, not images). With the encoder's shared y % 5 schedule
  every image lands in the same group, so a batch of b thumbnails
  pays one ~stride-step loop instead of b of them.
* **resample_nearest_batch** — the per-image floor-index gather
  becomes ONE fancy-indexing gather over the stacked batch with
  per-image source-index tables (padded indices clipped in-range and
  sliced away afterwards).

This is the runtime codec (:func:`media_codecs.get_media_codec`'s
default). Byte identity with the stdlib reference is fuzz-pinned for
mixed-size, mixed-channel batches in tests/test_media_codec_seam.py,
and the gate queries return identical rows under both codecs.

Memory discipline: batches are grouped by channel count, sorted by
(height, stride) and chunked so no stacked intermediate exceeds
``MAX_GROUP_BYTES`` — the bound tracks the stack's row and row-byte
maxima separately (a padded stack costs rows_max x row_bytes_max per
image, which for a tall-narrow/short-wide mix is far more than any
single image), so padding waste is bounded and a pathological mixed
batch (one 4k image among thumbnails, or a 1x10000 beside a 10000x1)
degrades to smaller stacks, never to quadratic memory. All outputs
are returned in input order regardless of internal regrouping.

Reference parity target: quintans/eventsourcing has no media pipeline;
this family models the multimodal curation stages a 100 TB training-
data build needs (SURVEY.md LLM-ops addendum). The PNG byte format
follows the public spec (RFC 2083); Paeth is the spec's predictor.
"""

from __future__ import annotations

import struct
import sys
import zlib

import numpy as np

from eventsourcing_spark.pipeline.media_codecs import (
    PNG_MAGIC,
    MediaCodec,
    _chunk,
    decode_avi,
    encode_avi,
)
from eventsourcing_spark.pipeline.media_codecs_np import (
    _paeth_vec,
    decode_png_np,
    decode_wav_np,
    encode_png_np,
    encode_wav_np,
    resample_nearest_np,
)

# Worker-closure rule (see media_codecs): ship the kernels by value so
# mapInPandas closures run under a pristine session with no package
# import on executors; numpy itself is a baked dependency there.
try:  # pragma: no cover — absent only outside a pyspark environment
    from pyspark.cloudpickle import register_pickle_by_value

    register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001 — plain-python use of the codecs is fine
    pass

# Below this many images, stacking overhead beats its amortization and
# the single-image numpy kernels (which themselves route tiny images to
# the stdlib reference) are the better path.
MIN_BATCH = 4

# Cap on any one stacked intermediate (n * H_max * stride_max). Six
# same-shaped temporaries exist at the encode peak, so the true peak is
# ~6x this; 32 MiB keeps the peak well under executor-thread headroom.
MAX_GROUP_BYTES = 32 * 1024 * 1024


def _bounded_groups(idx: list, dims, max_bytes: int):
    """Split ``idx`` (pre-sorted by shape) into runs whose STACKED
    allocation stays under ``max_bytes``.

    ``dims(i)`` returns one ``(rows, row_bytes)`` pair per stacked
    intermediate the run will allocate (encode/decode use one stack,
    resample a source and a dest stack). The run is capped so
    ``len(run) * sum(rows_max * row_bytes_max)`` never exceeds
    ``max_bytes``, with each axis maximum tracked SEPARATELY: the
    stack is padded to (rows_max, row_bytes_max), so a tall-narrow and
    a short-wide image in one run (1x10000 with 10000x1) cost
    rows_max*row_bytes_max each — orders of magnitude more than either
    image's own padded size, which a max-of-products bound missed
    (round-12 ADVICE)."""
    run: list = []
    maxes: list | None = None
    for i in idx:
        d = dims(i)
        if maxes is None:
            nm = list(d)
        else:
            nm = [
                (h if h > mh else mh, s if s > ms else ms)
                for (h, s), (mh, ms) in zip(d, maxes)
            ]
        per = sum(h * s for h, s in nm)
        if run and (len(run) + 1) * per > max_bytes:
            yield run
            run, maxes = [i], list(d)
        else:
            run.append(i)
            maxes = nm
    if run:
        yield run


# ---------------------------------------------------------------------------
# PNG encode
# ---------------------------------------------------------------------------

# Chunk framing is identical across images of equal dims: IEND is a
# constant and the magic+IHDR prefix depends only on (w, h, ch) — memo
# both so batch assembly pays zlib + one IDAT chunk per image, nothing
# else. The memo is per-process (executor-local), bounded by the
# distinct-dims count of the corpus.
_IEND_CHUNK = _chunk(b"IEND", b"")
_IHDR_MEMO: dict = {}


def _header_chunks(w: int, h: int, ch: int) -> bytes:
    key = (w, h, ch)
    pre = _IHDR_MEMO.get(key)
    if pre is None:
        ihdr = struct.pack(
            ">IIBBBBB", w, h, 8, 0 if ch == 1 else 2, 0, 0, 0
        )
        pre = _IHDR_MEMO[key] = PNG_MAGIC + _chunk(b"IHDR", ihdr)
    return pre


def encode_png_batch(items: list) -> list:
    """Encode ``[(pixels, width, height, channels), ...]`` — output i is
    byte-identical to ``media_codecs.encode_png(*items[i])``."""
    n = len(items)
    out: list = [None] * n
    # validate up front with the scalar encoder's exact errors
    for pixels, w, h, ch in items:
        if ch not in (1, 3):
            raise ValueError(
                f"channels must be 1 (grey) or 3 (rgb), got {ch}"
            )
        if len(pixels) != w * h * ch:
            raise ValueError(
                f"pixel buffer {len(pixels)} != {w}x{h}x{ch}"
            )
    if n < MIN_BATCH:
        for i, (p, w, h, ch) in enumerate(items):
            out[i] = encode_png_np(p, w, h, ch)
        return out
    for ch in (1, 3):
        idx = [i for i in range(n) if items[i][3] == ch]
        if not idx:
            continue
        idx.sort(key=lambda i: (items[i][2], items[i][1]))
        for run in _bounded_groups(
            idx,
            lambda i: ((items[i][2], items[i][1] * ch),),
            MAX_GROUP_BYTES,
        ):
            if len(run) < MIN_BATCH:
                for i in run:
                    p, w, h, _ = items[i]
                    out[i] = encode_png_np(p, w, h, ch)
            else:
                _encode_group(items, run, ch, out)
    return out


def _encode_group(items: list, idx: list, ch: int, out: list) -> None:
    k = len(idx)
    hmax = max(items[i][2] for i in idx)
    smax = max(items[i][1] for i in idx) * ch
    pix = np.zeros((k, hmax, smax), dtype=np.uint8)
    # bulk-fill per identical-dims subgroup: one frombuffer over the
    # joined payloads instead of one reshape+assign per image
    by_dims: dict = {}
    for j, i in enumerate(idx):
        _, w, h, _ = items[i]
        by_dims.setdefault((w, h), []).append(j)
    for (w, h), js in by_dims.items():
        blob = np.frombuffer(
            b"".join(items[idx[j]][0] for j in js), dtype=np.uint8
        ).reshape(len(js), h, w * ch)
        pix[js, :h, : w * ch] = blob
    # neighbor arrays: left (a), up (b), up-left (c) — shifted views
    # with zero borders, exactly the scalar codec's out-of-range rule
    a = np.zeros_like(pix)
    a[:, :, ch:] = pix[:, :, :-ch]
    b = np.zeros_like(pix)
    b[:, 1:, :] = pix[:, :-1, :]
    c = np.zeros_like(pix)
    c[:, 1:, ch:] = pix[:, :-1, :-ch]
    ys = np.arange(hmax)
    raw = np.empty((k, hmax, smax + 1), dtype=np.uint8)
    raw[:, :, 0] = (ys % 5).astype(np.uint8)[None, :]
    filt = raw[:, :, 1:]  # view — writes land in raw
    m = ys % 5 == 0
    filt[:, m, :] = pix[:, m, :]
    m = ys % 5 == 1
    filt[:, m, :] = pix[:, m, :] - a[:, m, :]
    m = ys % 5 == 2
    filt[:, m, :] = pix[:, m, :] - b[:, m, :]
    m = ys % 5 == 3
    filt[:, m, :] = pix[:, m, :] - (
        (a[:, m, :].astype(np.int16) + b[:, m, :]) // 2
    ).astype(np.uint8)
    m = ys % 5 == 4
    filt[:, m, :] = pix[:, m, :] - _paeth_vec(a[:, m, :], b[:, m, :], c[:, m, :])
    for j, i in enumerate(idx):
        _, w, h, _ = items[i]
        body = raw[j, :h, : w * ch + 1].tobytes()
        out[i] = (
            _header_chunks(w, h, ch)
            + _chunk(b"IDAT", zlib.compress(body))
            + _IEND_CHUNK
        )


# ---------------------------------------------------------------------------
# PNG decode
# ---------------------------------------------------------------------------


def _parse_png(data: bytes) -> tuple:
    """Chunk walk + CRC check + IHDR validation + inflate — the scalar
    decoder's parse half, with its exact error messages. Returns
    ``(width, height, channels, raw_filtered_bytes)``."""
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or color_type not in (0, 2) or comp or filt or interlace:
        raise ValueError(
            f"unsupported PNG variant: depth={depth} color={color_type} "
            f"interlace={interlace}"
        )
    channels = 1 if color_type == 0 else 3
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (width * channels + 1):
        raise ValueError("PNG IDAT length mismatch")
    return width, height, channels, raw


def decode_png_batch(datas: list) -> list:
    """Decode a list of PNGs — result i equals
    ``media_codecs.decode_png(datas[i])``. Raises (the scalar errors)
    if ANY input is invalid; per-image error isolation, when a caller
    needs it, belongs on the per-image kernel."""
    n = len(datas)
    out: list = [None] * n
    if n < MIN_BATCH:
        for i, d in enumerate(datas):
            out[i] = decode_png_np(d)
        return out
    parsed = [_parse_png(d) for d in datas]
    for ch in (1, 3):
        idx = [i for i in range(n) if parsed[i][2] == ch]
        if not idx:
            continue
        idx.sort(key=lambda i: (parsed[i][1], parsed[i][0]))
        for run in _bounded_groups(
            idx,
            lambda i: ((parsed[i][1], parsed[i][0] * ch + 1),),
            MAX_GROUP_BYTES,
        ):
            if len(run) < MIN_BATCH:
                for i in run:
                    out[i] = decode_png_np(datas[i])
            else:
                _decode_group(parsed, run, ch, out)
    return out


def _decode_group(parsed: list, idx: list, ch: int, out: list) -> None:
    k = len(idx)
    hmax = max(parsed[i][1] for i in idx)
    smax = max(parsed[i][0] for i in idx) * ch
    rows = np.zeros((k, hmax, smax + 1), dtype=np.uint8)
    for j, i in enumerate(idx):
        w, h, _, raw = parsed[i]
        rows[j, :h, : w * ch + 1] = np.frombuffer(
            raw, dtype=np.uint8
        ).reshape(h, w * ch + 1)
    dec = np.empty((k, hmax, smax), dtype=np.uint8)
    prior = np.zeros((k, smax), dtype=np.uint8)
    lanes = smax // ch  # smax is a max of multiples of ch
    for y in range(hmax):
        fcol = rows[:, y, 0]
        line = rows[:, y, 1:]
        cur = np.empty((k, smax), dtype=np.uint8)
        for fv in np.unique(fcol):
            m = fcol == fv
            lm = line[m]
            if fv == 0:
                cur[m] = lm
            elif fv == 1:
                # Sub: out[x] = line[x] + out[x-ch] — per-lane prefix
                # sum mod 256, vectorized over images AND positions
                cur[m] = (
                    (
                        lm.reshape(-1, lanes, ch)
                        .astype(np.int64)
                        .cumsum(axis=1)
                        & 0xFF
                    )
                    .astype(np.uint8)
                    .reshape(-1, smax)
                )
            elif fv == 2:
                cur[m] = lm + prior[m]  # uint8 wraps
            elif fv in (3, 4):
                # true output recurrence along x — serialize columns,
                # vectorize across every image in the group (the
                # batch-stacking win the round-10 spec identified)
                pm = prior[m]
                cm = np.empty_like(lm)
                z8 = np.zeros(lm.shape[0], dtype=np.uint8)
                for x in range(smax):
                    left = cm[:, x - ch] if x >= ch else z8
                    up = pm[:, x]
                    if fv == 3:
                        pred = (
                            (left.astype(np.int16) + up) // 2
                        ).astype(np.uint8)
                    else:
                        upleft = pm[:, x - ch] if x >= ch else z8
                        pred = _paeth_vec(left, up, upleft)
                    cm[:, x] = lm[:, x] + pred
                cur[m] = cm
            else:
                raise ValueError(f"bad PNG filter {int(fv)}")
        dec[:, y, :] = cur
        prior = cur
    for j, i in enumerate(idx):
        w, h, _, _ = parsed[i]
        out[i] = {
            "width": w,
            "height": h,
            "channels": ch,
            "pixels": dec[j, :h, : w * ch].tobytes(),
        }


# ---------------------------------------------------------------------------
# Nearest-neighbor resample
# ---------------------------------------------------------------------------


def resample_nearest_batch(items: list) -> list:
    """Resample ``[(pixels, w, h, new_w, new_h, channels), ...]`` —
    output i equals ``media_codecs.resample_nearest(*items[i])``: one
    fancy-indexing gather per stacked group with per-image floor
    source-index tables."""
    n = len(items)
    out: list = [None] * n
    for pixels, w, h, nw, nh, ch in items:
        if len(pixels) != w * h * ch:
            raise ValueError(
                f"pixel buffer {len(pixels)} != {w}x{h}x{ch}"
            )
        if nw < 1 or nh < 1:
            raise ValueError("target dimensions must be >= 1")
    if n < MIN_BATCH:
        for i, it in enumerate(items):
            out[i] = resample_nearest_np(*it)
        return out
    for ch in (1, 3):
        idx = [i for i in range(n) if items[i][5] == ch]
        if not idx:
            continue
        idx.sort(key=lambda i: (items[i][2], items[i][1]))
        for run in _bounded_groups(
            idx,
            lambda i: (
                (items[i][2], items[i][1] * ch),  # source stack
                (items[i][4], items[i][3] * ch),  # dest stack
            ),
            MAX_GROUP_BYTES,
        ):
            if len(run) < MIN_BATCH:
                for i in run:
                    out[i] = resample_nearest_np(*items[i])
            else:
                _resample_group(items, run, ch, out)
    return out


def _resample_group(items: list, idx: list, ch: int, out: list) -> None:
    k = len(idx)
    ws = np.array([items[i][1] for i in idx], dtype=np.int64)
    hs = np.array([items[i][2] for i in idx], dtype=np.int64)
    nws = np.array([items[i][3] for i in idx], dtype=np.int64)
    nhs = np.array([items[i][4] for i in idx], dtype=np.int64)
    wmax, hmax = int(ws.max()), int(hs.max())
    nwmax, nhmax = int(nws.max()), int(nhs.max())
    pix = np.zeros((k, hmax, wmax, ch), dtype=np.uint8)
    for j, i in enumerate(idx):
        p, w, h = items[i][0], items[i][1], items[i][2]
        pix[j, :h, :w, :] = np.frombuffer(p, dtype=np.uint8).reshape(
            h, w, ch
        )
    # per-image floor source maps; rows/cols past an image's target
    # dims are clipped in-range (their gathered values are sliced away)
    sy = np.minimum(
        (np.arange(nhmax, dtype=np.int64)[None, :] * hs[:, None])
        // nhs[:, None],
        hs[:, None] - 1,
    )
    sx = np.minimum(
        (np.arange(nwmax, dtype=np.int64)[None, :] * ws[:, None])
        // nws[:, None],
        ws[:, None] - 1,
    )
    g = pix[
        np.arange(k)[:, None, None], sy[:, :, None], sx[:, None, :], :
    ]  # (k, nhmax, nwmax, ch)
    for j, i in enumerate(idx):
        nw, nh = items[i][3], items[i][4]
        out[i] = g[j, :nh, :nw, :].tobytes()


BATCH_CODEC = MediaCodec(
    name="batch",
    decode_png=decode_png_np,
    encode_png=encode_png_np,
    resample_nearest=resample_nearest_np,
    decode_wav=decode_wav_np,
    encode_wav=encode_wav_np,
    decode_avi=decode_avi,
    encode_avi=encode_avi,
    decode_png_batch=decode_png_batch,
    encode_png_batch=encode_png_batch,
    resample_nearest_batch=resample_nearest_batch,
)
