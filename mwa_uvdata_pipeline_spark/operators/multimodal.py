"""Multimodal column operators (north-star: image/audio/video as opaque
binary columns with typed metadata).

The Spark-side plumbing is real and tested: binary payload columns,
Arrow-batched ``mapInPandas`` with explicit output schemas, per-batch
vectorized work, frame-row fan-out. REAL from-spec decode exists for
WAV, PPM, PNG (sequential and Adam7), baseline JPEG (grayscale,
4:2:0, and 4:2:2 color), FLAC (1-8 channels incl. stereo
decorrelation), lossless WebP (VP8L: prefix codes, LZ77, color
cache, all four transforms), and the MP4 container's box structure
with stsz-indexed frame access — see the "native decode" sections
below.
``decode_media(..., deterministic=False)`` routes through those
decoders by magic-byte sniff and raises ``NotImplementedError`` only
for containers outside the family (H.264-class payloads — the one
remaining library seam); the default ``deterministic=True`` path
derives metadata from the payload's md5 so results are reproducible,
content-independent, and oracle-checkable.

Scale posture: ``mapInPandas`` streams Arrow batches through each task,
so memory is bounded by batch size (``spark.sql.execution.arrow
.maxRecordsPerBatch``) not partition size; payload bytes never hit the
driver; fan-out (frames) happens inside the executor generator, and a
repartition on the id column ahead of decode spreads CPU-heavy batches
across the cluster independent of input file splits.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

DECODED_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, n_frames int"
)

FRAMES_SCHEMA = DECODED_SCHEMA + ", frame_idx int"

FEATURE_DIM = 8

FEATURES_SCHEMA = "doc_id long, features array<float>"

#: Decompression-bomb guard shared by the image parsers — the same
#: policy PIL ships as MAX_IMAGE_PIXELS (public prior art): an
#: absolute cap on decoded pixels, because payload-size ratio bounds
#: alone cannot cover formats where a tiny VALID stream legally
#: declares huge dims (progressive JPEG's EOBRUN covers thousands of
#: blocks per coded bit). 2^26 = 67.1 Mpx clears every current phone
#: sensor (~50 Mpx) while bounding the transient int64 RGB array a
#: decoder materializes per payload to ~1.6 GB worst-case.
MAX_DECODE_PIXELS = 1 << 26


def _make_meta_fn():
    """Returns the deterministic fake decode (width, height, n_frames)
    from a payload md5 hexdigest. Built as a nested function so worker
    closures capture it BY VALUE (cloudpickle) — executors never need
    this package importable, which matters when the driver process runs
    outside the repo directory."""

    def meta_from_digest(hx: str) -> tuple[int, int, int]:
        width = 64 + int(hx[0:4], 16) % 1024
        height = 64 + int(hx[4:8], 16) % 1024
        n_frames = 1 + int(hx[8:12], 16) % 16
        return width, height, n_frames

    return meta_from_digest


_meta_from_digest = _make_meta_fn()  # driver-side alias (tests, docs)


def _decode_media_native(data: bytes) -> tuple:
    """Real (width, height, n_frames) for the containers the from-spec
    decoders cover: PNG/JPEG images (1 frame), MP4 containers (track
    dims + sample count), WAV/FLAC audio (no pixel dims, 1 stream).
    Raises NotImplementedError for anything else — the remaining
    genuine library seam (H.264-class payloads, exotic image modes),
    now scoped to UNKNOWN containers instead of all of them."""
    try:
        kind = sniff_payload_kind(data)
    except ValueError as exc:
        raise NotImplementedError(
            "unrecognized container: native decode covers "
            "png/gif/tiff/bmp/jpeg/flac/wav/webp/mp4/ppm; install "
            "PIL/ffmpeg for the rest "
            "or use deterministic=True"
        ) from exc
    if kind == "png":
        w, h, _ = _parse_png(data)
        return w, h, 1
    if kind == "gif":
        w, h, _ = _parse_gif(data)
        return w, h, 1
    if kind == "tiff":
        w, h, _ = _parse_tiff(data)
        return w, h, 1
    if kind == "bmp":
        w, h, _ = _parse_bmp(data)
        return w, h, 1
    if kind == "jpeg":
        w, h, _comps = _jpeg_decode(data)
        return w, h, 1
    if kind == "ppm":
        w, h, _ = _parse_ppm(data)
        return w, h, 1
    if kind == "webp":
        w, h, _ = _parse_webp(data)
        return w, h, 1
    if kind == "mp4":
        # _parse_mp4 raises a clean ValueError ("missing boxes") for
        # structurally valid but partial containers (no stsz/tkhd),
        # so an undecodable MP4 can never surface as all-NULL rows.
        meta = _parse_mp4(data)
        return meta["width"], meta["height"], meta["n_samples"]
    return None, None, 1  # wav/flac: audio has no pixel dims


def decode_media(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    deterministic: bool = True,
) -> DataFrame:
    """Binary payload → typed metadata rows via Arrow-batched
    ``mapInPandas`` (one output row per input row). The default
    ``deterministic=True`` derives metadata from the payload md5
    (reproducible, oracle-checkable, content-independent);
    ``deterministic=False`` runs the REAL from-spec decoders via
    :func:`_decode_media_native` and raises ``NotImplementedError``
    only for containers outside the native family."""

    meta_fn = _make_meta_fn()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if deterministic:
                meta = [
                    meta_fn(hashlib.md5(bytes(b)).hexdigest())
                    for b in pdf[payload_col]
                ]
            else:
                meta = [
                    _decode_media_native(bytes(b))
                    for b in pdf[payload_col]
                ]
            out = pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "n_bytes": [len(bytes(b)) for b in pdf[payload_col]],
                    "width": pd.array(
                        [m[0] for m in meta], dtype="Int32"
                    ),
                    "height": pd.array(
                        [m[1] for m in meta], dtype="Int32"
                    ),
                    "n_frames": [m[2] for m in meta],
                }
            )
            yield out

    return df.select(id_col, payload_col).mapInPandas(batches, DECODED_SCHEMA)


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every: int = 2,
) -> DataFrame:
    """Decode + frame sampling: emit every ``every``-th frame index as
    its own row. The fan-out happens inside the executor generator —
    output batch size is decoupled from input batch size."""

    meta_fn = _make_meta_fn()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                k: [] for k in
                ("doc_id", "n_bytes", "width", "height", "n_frames", "frame_idx")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(b)
                w, h, nf = meta_fn(hashlib.md5(data).hexdigest())
                for fi in range(0, nf, every):
                    out["doc_id"].append(doc_id)
                    out["n_bytes"].append(len(data))
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_frames"].append(nf)
                    out["frame_idx"].append(fi)
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(batches, FRAMES_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, width int, height int, out_width int, out_height int, "
    "scale_num int, scale_den int"
)


def resize_media(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    target: int = 256,
) -> DataFrame:
    """Resize planning: compute the aspect-preserving output geometry
    that fits each decoded image inside ``target`` x ``target``. The
    pixel resample itself would run here (PIL/ffmpeg — not in this
    container, same stub seam as decode_media); the geometry math is
    real and exact-integer (floor scaling with a rational scale
    factor), so the operator is oracle-checkable end-to-end. Arrow
    batch in, Arrow batch out; one row per input, no fan-out."""

    meta_fn = _make_meta_fn()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                k: []
                for k in (
                    "doc_id", "width", "height", "out_width", "out_height",
                    "scale_num", "scale_den",
                )
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                w, h, _ = meta_fn(hashlib.md5(bytes(b)).hexdigest())
                den = max(w, h)
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["out_width"].append(w * target // den)
                out["out_height"].append(h * target // den)
                out["scale_num"].append(target)
                out["scale_den"].append(den)
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(batches, RESIZED_SCHEMA)


def extract_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Payload → fixed-dim float feature vector (deterministic stub:
    md5 bytes scaled to [0, 1); the real path would run a vision/audio
    encoder over the decoded media). Output is ``array<float>`` ready
    for the similarity operators (sim_cosine_topk / sim_ivf_topk)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                [d / 255.0 for d in hashlib.md5(bytes(b)).digest()[:FEATURE_DIM]]
                for b in pdf[payload_col]
            ]
            yield pd.DataFrame({"doc_id": pdf[id_col].values, "features": feats})

    return df.select(id_col, payload_col).mapInPandas(batches, FEATURES_SCHEMA)


def binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adapter: treat a text column as an opaque binary payload (the
    fixture stand-in for real media bytes)."""
    return docs.withColumn("payload", F.col(text_col).cast("binary"))


# ------------------------------------------------------- native decode
#
# REAL media decode for the formats the standard library and numpy can
# parse without PIL/ffmpeg: WAV (RIFF PCM, stdlib `wave`), PPM P6 (raw
# RGB, pure numpy), PNG (from-spec chunk walk + stdlib zlib inflate +
# scanline unfiltering — see _parse_png), and baseline JPEG in both
# grayscale and interleaved 4:2:0 color (from-spec Huffman entropy
# decode + IDCT — see _jpeg_decode). Only container/codec stacks with
# no stdlib path (MP4/FLAC-class) stay behind the import-gated stub
# above.

WAV_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, n_samples int, "
    "sum_sq long, max_abs int"
)

PPM_SCHEMA = (
    "doc_id long, width int, height int, sum_r long, sum_g long, "
    "sum_b long"
)

CLIP_SCHEMA = (
    "doc_id long, n_samples int, n_clipped long, clip_ppm long, "
    "peak_abs int"
)


def synth_wav_bytes(doc_id: int) -> bytes:
    """Deterministic 16-bit mono PCM WAV for ``doc_id``: n = 64 +
    doc_id % 64 samples of s[i] = (doc_id*7 + i*13) % 2048 - 1024 at
    8 kHz — integer-exact so the decoded stats are oracle-computable
    from the formula alone."""
    import io
    import wave

    import numpy as np

    n = 64 + doc_id % 64
    i = np.arange(n, dtype="i8")
    s = ((doc_id * 7 + i * 13) % 2048 - 1024).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(s.tobytes())
    return buf.getvalue()


def _pcm_samples(raw: bytes, sw: int):
    """Raw PCM frame bytes -> int64 sample array for the widths WAV
    files actually carry: 1 (unsigned per RIFF convention, centered
    by -128), 2 (16-bit LE signed), 3 (24-bit LE signed — padded to
    4 bytes then arithmetic-shifted to sign-extend), 4 (32-bit LE
    signed)."""
    import numpy as np

    if sw == 2:
        return np.frombuffer(raw, dtype="<i2").astype("i8")
    if sw == 1:
        return np.frombuffer(raw, dtype="u1").astype("i8") - 128
    if sw == 4:
        return np.frombuffer(raw, dtype="<i4").astype("i8")
    if sw == 3:
        if len(raw) % 3:
            raise ValueError("24-bit PCM data not a multiple of 3")
        b = np.frombuffer(raw, dtype="u1").reshape(-1, 3)
        padded = np.zeros((b.shape[0], 4), dtype="u1")
        padded[:, 1:] = b  # place in the HIGH 3 bytes of an i4 ...
        return (
            padded.view("<i4").reshape(-1).astype("i8") >> 8
        )  # ... then >>8 sign-extends
    raise ValueError(f"unsupported PCM sample width {sw}")


def decode_wav(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id") -> DataFrame:
    """REAL WAV decode via stdlib ``wave`` in Arrow-batched
    mapInPandas: parses the RIFF container, reads PCM frames with
    numpy at any RIFF sample width (8/16/24/32-bit via
    :func:`_pcm_samples`), and emits integer-exact signal stats
    (energy, peak)."""
    import io
    import wave

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: [] for k in ("doc_id", "sample_rate", "n_channels",
                                "n_samples", "sum_sq", "max_abs")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                # stdlib wave raises its own wave.Error on non-PCM /
                # corrupt files (plus bare EOFError / RuntimeError on
                # some truncations) — wrap ALL of them into the codec
                # family's clean-ValueError contract, same as the
                # ingest_dispatch WAV branch
                try:
                    with wave.open(io.BytesIO(bytes(b)), "rb") as w:
                        nch, sw, rate, nfr = (
                            w.getnchannels(), w.getsampwidth(),
                            w.getframerate(), w.getnframes(),
                        )
                        s = _pcm_samples(w.readframes(nfr), sw)
                except (wave.Error, EOFError, RuntimeError) as exc:
                    raise ValueError("corrupt WAV payload") from exc
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(nch)
                rows["n_samples"].append(nfr)
                rows["sum_sq"].append(int((s * s).sum()))
                rows["max_abs"].append(int(np.abs(s).max()) if len(s) else 0)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(batches, WAV_SCHEMA)


# ------------------------------------------- IMA ADPCM WAV from spec

#: IMA ADPCM quantizer step table (IMA "Recommended Practices for
#: Enhancing Digital Audio Compatibility", 1992; also the Microsoft
#: WAVE documentation for format tag 0x0011) — 89 entries.
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
)

#: Step-index adjustment per nibble magnitude (low 3 bits).
_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_step(pred: int, idx: int, nib: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: (predictor, step index, 4-bit code)
    -> new (predictor, step index). The shift-accumulate form is the
    spec's exact integer arithmetic (truncation included): diff =
    step>>3 (+ step>>2 if bit0) (+ step>>1 if bit1) (+ step if bit2),
    negated when bit3 is set; predictor clamps to int16, index to
    [0, 88]."""
    step = _IMA_STEP_TABLE[idx]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX_TABLE[nib & 7]))
    return pred, idx


def synth_wav_adpcm_bytes(doc_id: int) -> bytes:
    """Deterministic mono IMA ADPCM WAV (format tag 0x0011) for
    ``doc_id``: blockAlign 20 -> 33 samples per block (the header
    sample + 32 nibbles), n = 40 + doc_id % 50 total samples (2-3
    blocks, the last usually PARTIAL so the fact-chunk truncation
    path is exercised). Block b's header predictor is
    (doc_id*7 + b*11) % 2048 - 1024, its step index (doc_id + b*5)
    % 89 (so high indices hit the int16 clamps), and nibble k is
    (doc_id*3 + b*7 + k*5) % 16 — closed forms the oracle feeds to
    its own recursive-CTE restatement of the IMA recurrence."""
    import struct

    spb = 33  # samples per block at blockAlign 20, mono
    n = 40 + doc_id % 50
    nblocks = (n + spb - 1) // spb
    blocks = bytearray()
    for b in range(nblocks):
        pred0 = (doc_id * 7 + b * 11) % 2048 - 1024
        idx0 = (doc_id + b * 5) % 89
        blocks += struct.pack("<hBB", pred0, idx0, 0)
        for byte_i in range(16):
            lo = (doc_id * 3 + b * 7 + (2 * byte_i) * 5) % 16
            hi = (doc_id * 3 + b * 7 + (2 * byte_i + 1) * 5) % 16
            blocks.append(lo | (hi << 4))
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, 8000, 8000 * 20 // spb, 20, 4, 2, spb
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, n)
        + b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _riff_chunks(data: bytes):
    """Walk a RIFF/WAVE container -> {chunk id: payload bytes} for
    the chunks a WAV decoder needs. From the RIFF spec: 4-byte id,
    u32 LE size, payload, odd sizes padded to even. Every structural
    defect raises ValueError."""
    import struct

    # (a <12-byte input already fails here: its [8:12] slice is
    # short of b"WAVE")
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    chunks: dict[bytes, bytes] = {}
    pos = 12
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated RIFF chunk header")
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if pos + 8 + size > len(data):
            raise ValueError("RIFF chunk beyond end of file")
        chunks.setdefault(cid, data[pos + 8 : pos + 8 + size])
        pos += 8 + size + (size & 1)
    return chunks


def _parse_wav_adpcm(data: bytes):
    """From-spec IMA ADPCM WAV decode (format tag 0x0011, no stdlib
    ``wave`` — it rejects every non-PCM tag) -> (sample_rate,
    n_channels, int64 interleaved sample array): RIFF chunk walk,
    fmt validation (4-bit samples, the blockAlign/samplesPerBlock
    consistency equation from the Microsoft WAVE documentation),
    REQUIRED fact chunk (the spec mandates it for compressed
    formats), then per-block decode — each block restarts from its
    own header predictor/step-index per channel, nibbles apply the
    IMA step/index recurrence low-nibble-first, stereo data arrives
    as alternating 4-byte per-channel words — and the concatenated
    output truncates to the fact-chunk total (the final block of a
    real stream is usually partial). Every structural defect raises
    ValueError."""
    import struct

    import numpy as np

    chunks = _riff_chunks(data)
    fmt = chunks.get(b"fmt ")
    if fmt is None or len(fmt) < 16:
        raise ValueError("missing or truncated fmt chunk")
    tag, nch, rate, _brate, balign, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if tag != 0x11:
        raise ValueError(f"not IMA ADPCM (format tag {tag:#06x})")
    if nch not in (1, 2):
        raise ValueError(f"unsupported channel count {nch}")
    if bits != 4:
        raise ValueError(f"IMA ADPCM requires 4-bit samples, got {bits}")
    if len(fmt) < 20:
        raise ValueError("IMA ADPCM fmt chunk missing the extension")
    (spb,) = struct.unpack("<H", fmt[18:20])
    if balign < 4 * nch or (balign - 4 * nch) % (4 * nch):
        raise ValueError("blockAlign not a whole number of data words")
    if spb != (balign - 4 * nch) * 8 // (4 * nch) + 1:
        raise ValueError(
            "samplesPerBlock disagrees with blockAlign"
        )
    fact = chunks.get(b"fact")
    if fact is None or len(fact) < 4:
        raise ValueError("compressed WAV requires a fact chunk")
    (total,) = struct.unpack("<I", fact[:4])
    body = chunks.get(b"data")
    if body is None:
        raise ValueError("missing data chunk")
    if len(body) % balign:
        raise ValueError("data chunk not a whole number of blocks")
    nblocks = len(body) // balign
    # every block must contribute at least one sample; the one legal
    # degenerate is a zero-sample stream (fact 0, empty data chunk)
    if not (
        nblocks * spb >= total > max(0, (nblocks - 1) * spb)
        or (total == 0 and nblocks == 0)
    ):
        raise ValueError("fact total disagrees with the block count")

    chans: list[list[int]] = [[] for _ in range(nch)]
    state: list[tuple[int, int]] = [(0, 0)] * nch
    for blk in range(nblocks):
        base = blk * balign
        for c in range(nch):
            pred, idx, _rsv = struct.unpack(
                "<hBB", body[base + 4 * c : base + 4 * c + 4]
            )
            if idx > 88:
                raise ValueError("step index out of range")
            state[c] = (pred, idx)
            chans[c].append(pred)  # the header carries sample 0
        # data words: 4 bytes (8 nibbles = 8 samples of ONE channel)
        # per channel, channels alternating; nibbles low-first
        for word0 in range(base + 4 * nch, base + balign, 4 * nch):
            for c in range(nch):
                wat = word0 + 4 * c
                pred, idx = state[c]
                for k in range(4):
                    byte = body[wat + k]
                    for nib in (byte & 0xF, byte >> 4):
                        pred, idx = _ima_step(pred, idx, nib)
                        chans[c].append(pred)
                state[c] = (pred, idx)
    arr = np.array(chans, dtype="i8")  # (nch, nblocks * spb)
    # truncate per channel to the fact total, then interleave
    return rate, nch, arr[:, :total].T.reshape(-1)


def _riff_fmt_tag(data: bytes) -> int | None:
    """LENIENT fmt-tag peek for ingest triage: walk chunks only
    until ``fmt `` is found and return its wFormatTag, or None if
    the walk runs off the rails first. Deliberately never raises —
    the PCM path must keep accepting quirky-but-decodable files
    (e.g. a truncated trailing metadata chunk AFTER ``data``) that
    stdlib wave accepts; each decoder does its own strict
    validation."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if cid == b"fmt ":
            if pos + 10 > len(data):
                return None
            return struct.unpack("<H", data[pos + 8 : pos + 10])[0]
        pos += 8 + size + (size & 1)
    return None


def decode_wav_adpcm(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "doc_id") -> DataFrame:
    """REAL compressed-audio decode of IMA ADPCM WAVs (format tag
    0x0011 — the codec real scraped corpora carry where PCM would be
    4x the bytes) via :func:`_parse_wav_adpcm` in Arrow-batched
    mapInPandas, emitting the same integer-exact stat row as
    :func:`decode_wav` (n_samples is per channel, matching stdlib
    wave's frame count)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: [] for k in ("doc_id", "sample_rate", "n_channels",
                                "n_samples", "sum_sq", "max_abs")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                rate, nch, s = _parse_wav_adpcm(bytes(b))
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(nch)
                rows["n_samples"].append(len(s) // nch)
                rows["sum_sq"].append(int((s * s).sum()))
                rows["max_abs"].append(int(np.abs(s).max()) if len(s)
                                       else 0)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        batches, WAV_SCHEMA
    )


# ------------------------------------------- G.711 WAV (mu-law/A-law)
#
# The telephony companding codecs (ITU-T G.711; WAVE format tags
# 0x0007 mu-law / 0x0006 A-law) — the other non-PCM tags real scraped
# audio corpora carry, and ones stdlib ``wave`` rejects outright.
# Unlike the VP8L plane-code table there is NOTHING empirical to
# transcribe: both expansion curves are closed-form segment/mantissa
# arithmetic (the classic CCITT g711.c formulation), so the decode
# tables below are DERIVED at import from the formulas, and the
# DuckDB oracle restates the same formulas directly in SQL.


def _ulaw_decode_byte(b: int) -> int:
    """mu-law codeword -> linear PCM (G.711): complement the byte,
    split sign/segment/mantissa, expand ((man<<3)+0x84)<<seg minus
    the 0x84 bias; sign bit SET (after complement) means negative.
    Extremes: 0x00 -> -32124, 0x80 -> +32124, 0xFF/0x7F -> 0."""
    u = ~b & 0xFF
    mag = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return 0x84 - mag if u & 0x80 else mag - 0x84


def _alaw_decode_byte(b: int) -> int:
    """A-law codeword -> linear PCM (G.711): XOR 0x55, then segment
    expansion ((man<<4)+8 in segment 0, else ((man<<4)+0x108) <<
    (seg-1)); A-law's sign convention is the OPPOSITE of mu-law's —
    bit 7 SET means positive. Extremes: 0xAA -> +32256,
    0x2A -> -32256, 0xD5 -> +8, 0x55 -> -8."""
    a = b ^ 0x55
    seg = (a >> 4) & 0x07
    man = a & 0x0F
    mag = (man << 4) + 8 if seg == 0 else ((man << 4) + 0x108) << (seg - 1)
    return mag if a & 0x80 else -mag


_ULAW_TABLE = [_ulaw_decode_byte(b) for b in range(256)]
_ALAW_TABLE = [_alaw_decode_byte(b) for b in range(256)]


def synth_wav_g711_bytes(doc_id: int) -> bytes:
    """Deterministic G.711 WAV: doc_id % 2 selects the law (0 ->
    mu-law tag 0x0007, 1 -> A-law tag 0x0006), doc_id % 3 == 0 is
    stereo, n = 50 + doc_id % 40 frames, and the codeword for frame
    i / channel c is (doc_id*3 + i*7 + c*11) % 256 — the closed form
    the oracle expands through the same G.711 formulas in SQL. The
    fmt chunk is the 18-byte non-PCM shape (cbSize 0) and the
    spec-required fact chunk carries the frame total."""
    import struct

    tag = 0x0007 if doc_id % 2 == 0 else 0x0006
    nch = 2 if doc_id % 3 == 0 else 1
    n = 50 + doc_id % 40
    data = bytes(
        (doc_id * 3 + i * 7 + c * 11) % 256
        for i in range(n) for c in range(nch)
    )
    fmt = struct.pack(
        "<HHIIHHH", tag, nch, 8000, 8000 * nch, nch, 8, 0
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, n)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _parse_wav_g711(data: bytes):
    """From-spec G.711 WAV decode (format tags 0x0006/0x0007, no
    stdlib ``wave`` — it rejects every non-PCM tag) ->
    (sample_rate, n_channels, int64 interleaved samples): RIFF chunk
    walk, fmt validation (8-bit codewords, blockAlign == channels),
    REQUIRED fact chunk (spec-mandated for compressed formats, and
    it truncates a partial tail like the ADPCM path), then a single
    vectorized table lookup — the tables are derived from the G.711
    formulas at import, not transcribed. Every structural defect
    raises ValueError."""
    import struct

    import numpy as np

    chunks = _riff_chunks(data)
    fmt = chunks.get(b"fmt ")
    if fmt is None or len(fmt) < 16:
        raise ValueError("missing or truncated fmt chunk")
    tag, nch, rate, _brate, balign, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if tag not in (0x0006, 0x0007):
        raise ValueError(f"not G.711 (format tag {tag:#06x})")
    if nch not in (1, 2):
        raise ValueError(f"unsupported channel count {nch}")
    if bits != 8:
        raise ValueError(f"G.711 requires 8-bit codewords, got {bits}")
    if balign != nch:
        raise ValueError("blockAlign must equal the channel count")
    fact = chunks.get(b"fact")
    if fact is None or len(fact) < 4:
        raise ValueError("compressed WAV requires a fact chunk")
    (total,) = struct.unpack("<I", fact[:4])
    body = chunks.get(b"data")
    if body is None:
        raise ValueError("missing data chunk")
    if len(body) % nch:
        raise ValueError("data chunk not a whole number of frames")
    if total > len(body) // nch:
        raise ValueError("fact total exceeds the data chunk")
    table = _ULAW_TABLE if tag == 0x0007 else _ALAW_TABLE
    codes = np.frombuffer(
        body[: total * nch], dtype=np.uint8
    ).astype("i8")
    return rate, nch, np.array(table, dtype="i8")[codes]


def decode_wav_g711(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "doc_id") -> DataFrame:
    """REAL telephony-audio decode of G.711 mu-law/A-law WAVs via
    :func:`_parse_wav_g711` in Arrow-batched mapInPandas, emitting
    the family's integer-exact stat row (same shape as decode_wav /
    decode_wav_adpcm)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: [] for k in ("doc_id", "sample_rate", "n_channels",
                                "n_samples", "sum_sq", "max_abs")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                rate, nch, s = _parse_wav_g711(bytes(b))
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(nch)
                rows["n_samples"].append(len(s) // nch)
                rows["sum_sq"].append(int((s * s).sum()))
                rows["max_abs"].append(int(np.abs(s).max()) if len(s)
                                       else 0)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        batches, WAV_SCHEMA
    )


# ---------------------------------------------------- FLAC from spec

#: FLAC emits the same stat row as WAV — same gate shape.
FLAC_SCHEMA = WAV_SCHEMA


def _crc8_flac(data: bytes) -> int:
    """CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 — the FLAC frame
    header checksum."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_flac(data: bytes) -> int:
    """CRC-16, polynomial x^16+x^15+x^2+1 (0x8005), init 0 — the FLAC
    whole-frame checksum."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


class _Bits:
    """Plain MSB-first bit writer (no byte stuffing — FLAC streams
    raw); also usable as a reader over bytes."""

    def __init__(self, data: bytes | None = None) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0
        self.data = data
        self.pos = 0  # bit position when reading

    def write(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                self.acc = self.n = 0

    def pad_to_byte(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)

    def bytes(self) -> bytes:
        return bytes(self.out)

    # -- reading --
    def read(self, length: int) -> int:
        v = 0
        for _ in range(length):
            byte = self.data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


#: fixed-predictor weights per order (FLAC spec §9.2.2): prediction
#: for order o is the o-term alternating binomial over prior samples.
_FLAC_FIXED = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def synth_flac_bytes(doc_id: int, fixed_order: int | None = None) -> bytes:
    """Deterministic FLAC file for ``doc_id``, built FROM SPEC: fLaC
    magic, STREAMINFO metadata block (bit-packed rate/channels/bps/
    total-samples), one frame with a real header (sync, blocksize/
    rate/channel/bps codes, UTF-8 coded frame number, CRC-8) and a
    real footer CRC-16. The signal is the 16-bit ramp
    s[i] = a + b*i with a = (doc_id*7) % 2048 - 1024 and
    b = doc_id % 17 - 8, n = 64 + doc_id % 64 samples at 8 kHz. The
    subframe type varies with the content the way a real encoder's
    would: VERBATIM when doc_id % 7 == 0 (raw samples), CONSTANT when
    the slope is zero, LPC order 2 (qlp [2, -1], shift 0 — exact on a
    ramp) when doc_id % 11 == 0, else FIXED order 1 with Rice-coded
    residuals (a linear ramp's order-1 residuals are the constant
    slope — every Rice code exercises the unary quotient + k-bit
    remainder path). ``fixed_order`` pins FIXED order 0-4 for tests
    (higher orders see zero residuals on a ramp, exercising warmup +
    reconstruction)."""
    n = 64 + doc_id % 64
    a = (doc_id * 7) % 2048 - 1024
    b = doc_id % 17 - 8
    samples = [a + b * i for i in range(n)]

    # STREAMINFO: last-metadata flag + type 0, length 34
    si = _Bits()
    si.write(n, 16)          # min blocksize
    si.write(n, 16)          # max blocksize
    si.write(0, 24)          # min framesize (unknown)
    si.write(0, 24)          # max framesize (unknown)
    si.write(8000, 20)       # sample rate
    si.write(0, 3)           # channels - 1
    si.write(15, 5)          # bits per sample - 1
    si.write(n, 36)          # total samples
    streaminfo = b"\x80" + (34).to_bytes(3, "big") + si.bytes() + b"\x00" * 16

    # frame header: sync(14) 0x3FFE, reserved(1)=0, blocking(1)=0,
    # blocksize code 0111 (16-bit at end), rate code 0100 (8 kHz),
    # channel 0000 (mono), bps code 100 (16-bit), reserved(1)=0,
    # coded frame number 0, then blocksize-1 as 16 bits, then CRC-8
    hb = _Bits()
    hb.write(0b11111111111110, 14)
    hb.write(0, 1)
    hb.write(0, 1)
    hb.write(0b0111, 4)
    hb.write(0b0100, 4)
    hb.write(0b0000, 4)
    hb.write(0b100, 3)
    hb.write(0, 1)
    hb.write(0x00, 8)        # frame number 0 (UTF-8 single byte)
    hb.write(n - 1, 16)
    header = hb.bytes()
    header += bytes([_crc8_flac(header)])

    body = _Bits()
    mask16 = (1 << 16) - 1
    if fixed_order is None and doc_id % 7 == 0:
        body.write(0b00000010, 8)  # VERBATIM subframe, no wasted bits
        for s in samples:
            body.write(s & mask16, 16)
    elif fixed_order is None and b == 0:
        body.write(0b00000000, 8)  # CONSTANT subframe
        body.write(a & mask16, 16)
    elif fixed_order is None and doc_id % 11 == 0:
        # LPC order 2, qlp = [2, -1], shift 0 — predicts a linear ramp
        # exactly (residuals all zero), so the LPC arm (coefficient
        # precision/shift header, shifted dot-product prediction) is
        # exercised with the same closed-form answer
        order = 2
        body.write((0b100000 | (order - 1)) << 1, 8)
        for s in samples[:order]:
            body.write(s & mask16, 16)
        body.write(4 - 1, 4)   # qlp precision 4 bits (stored - 1)
        body.write(0, 5)       # shift 0
        body.write(2 & 0xF, 4)   # coeff +2
        body.write(-1 & 0xF, 4)  # coeff -1
        body.write(0b00, 2)
        body.write(0, 4)
        k = 0
        body.write(k, 4)
        for i in range(order, n):
            pred = 2 * samples[i - 1] - samples[i - 2]
            r = samples[i] - pred
            assert r == 0  # ramp: exact LPC prediction
            body.write(1, 1)  # zigzag(0) = 0: quotient 0 -> just the 1
    else:
        order = 1 if fixed_order is None else fixed_order
        body.write((0b001000 | order) << 1, 8)  # FIXED, wasted=0
        for s in samples[:order]:               # warmup, verbatim
            body.write(s & mask16, 16)
        # residual: method 00 (4-bit rice), partition order 0, one
        # partition: 4-bit parameter, then n - order rice codes
        coefs = _FLAC_FIXED[order]
        body.write(0b00, 2)
        body.write(0, 4)
        k = 4
        body.write(k, 4)
        for i in range(order, n):
            pred = sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            r = samples[i] - pred
            u = (r << 1) if r >= 0 else ((-r) << 1) - 1  # zigzag fold
            body.write(0, u >> k)   # unary quotient: q zeros ...
            body.write(1, 1)        # ... then a one
            body.write(u & ((1 << k) - 1), k)
    body.pad_to_byte()
    frame = header + body.bytes()
    frame += _crc16_flac(frame).to_bytes(2, "big")
    return b"fLaC" + streaminfo + frame


def synth_flac_wasted_bytes(doc_id: int) -> bytes:
    """Deterministic mono 16-bit FLAC whose one subframe uses WASTED
    BITS (spec §9.2.2) — the layout real encoders emit whenever all
    samples share trailing zero bits (fixed-point sources, attenuated
    masters): k = 1 + doc_id % 3 low-order zero bits are stripped,
    the subframe header's low bit is set with k coded in unary
    (k-1 zeros then a 1), the FIXED order-1 subframe is coded at
    16-k bit width over sample >> k, and the decoder must shift each
    decoded sample LEFT by k. Content: sample[i] = (a + b*i) << k
    with a = (doc_id*7) % 1024 - 512, b = doc_id % 9 - 4, n = 64 +
    doc_id % 64 — closed-form, so a decoder that ignores the shift
    (or misreads the unary count) is wrong on every sample."""
    n = 64 + doc_id % 64
    k = 1 + doc_id % 3
    a = (doc_id * 7) % 1024 - 512
    b = doc_id % 9 - 4
    base = [a + b * i for i in range(n)]  # sample >> k, as coded

    si = _Bits()
    si.write(n, 16)
    si.write(n, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(8000, 20)
    si.write(0, 3)           # mono
    si.write(15, 5)          # 16-bit
    si.write(n, 36)
    streaminfo = b"\x80" + (34).to_bytes(3, "big") + si.bytes() + b"\x00" * 16

    hb = _Bits()
    hb.write(0b11111111111110, 14)
    hb.write(0, 1)
    hb.write(0, 1)
    hb.write(0b0111, 4)      # 16-bit blocksize at end
    hb.write(0b0100, 4)      # 8 kHz
    hb.write(0b0000, 4)      # mono
    hb.write(0b100, 3)       # 16-bit samples
    hb.write(0, 1)
    hb.write(0x00, 8)        # frame number 0
    hb.write(n - 1, 16)
    header = hb.bytes()
    header += bytes([_crc8_flac(header)])

    body = _Bits()
    coded_bits = 16 - k
    mask = (1 << coded_bits) - 1
    # FIXED order 1, wasted-bits flag set, then unary k: k-1 zeros + 1
    body.write(((0b001000 | 1) << 1) | 1, 8)
    body.write(1, k)  # unary: (k-1) zeros then the terminating 1
    body.write(base[0] & mask, coded_bits)  # warmup at the CODED width
    body.write(0b00, 2)  # 4-bit Rice method
    body.write(0, 4)     # partition order 0
    rice_k = 4
    body.write(rice_k, 4)
    for i in range(1, n):
        r = base[i] - base[i - 1]
        u = (r << 1) if r >= 0 else ((-r) << 1) - 1
        body.write(0, u >> rice_k)
        body.write(1, 1)
        body.write(u & ((1 << rice_k) - 1), rice_k)
    body.pad_to_byte()
    frame = header + body.bytes()
    frame += _crc16_flac(frame).to_bytes(2, "big")
    return b"fLaC" + streaminfo + frame


def _flac_write_fixed1(body: "_Bits", samples: list[int],
                       bits: int) -> None:
    """Write one FIXED order-1 subframe at ``bits`` width with
    Rice-coded (k=4) residuals computed from the ACTUAL signal — a
    general encoder arm, not a zero-residual shortcut."""
    mask = (1 << bits) - 1
    body.write((0b001000 | 1) << 1, 8)
    body.write(samples[0] & mask, bits)
    body.write(0b00, 2)  # 4-bit Rice method
    body.write(0, 4)     # partition order 0
    k = 4
    body.write(k, 4)
    for i in range(1, len(samples)):
        r = samples[i] - samples[i - 1]
        u = (r << 1) if r >= 0 else ((-r) << 1) - 1
        body.write(0, u >> k)
        body.write(1, 1)
        body.write(u & ((1 << k) - 1), k)


def _flac_write_verbatim(body: "_Bits", samples: list[int],
                         bits: int) -> None:
    mask = (1 << bits) - 1
    body.write(0b00000010, 8)
    for s in samples:
        body.write(s & mask, bits)


def synth_flac_stereo_bytes(doc_id: int) -> bytes:
    """Deterministic STEREO FLAC file for ``doc_id``, from spec: two
    16-bit ramp channels L[i] = aL + bL*i, R[i] = aR + bR*i
    (aL = (doc_id*7) % 2048 - 1024, bL = doc_id % 17 - 8,
    aR = (doc_id*11) % 2048 - 1024, bR = doc_id % 13 - 6,
    n = 64 + doc_id % 64 at 8 kHz). The frame's channel assignment
    cycles with doc_id % 4 through ALL FOUR spec modes —
    independent L/R (code 0001), left-side (1000), right-side
    (1001), and mid-side (1010, mid = (L+R)>>1 floor, side = L-R) —
    with the side subframe written at bps+1 = 17 bits per spec
    §9.2.1. Subframes are FIXED order-1 with genuine Rice residuals
    (the decorrelated mid channel is NOT an exact ramp, so its
    residuals vary); when doc_id % 5 == 0 the second subframe is
    VERBATIM at its own width instead, keeping the 17-bit verbatim
    path exercised. Decorrelation is lossless, so the decoded L/R
    equal the ramp formulas exactly — the oracle stays closed-form."""
    n = 64 + doc_id % 64
    al = (doc_id * 7) % 2048 - 1024
    bl = doc_id % 17 - 8
    ar = (doc_id * 11) % 2048 - 1024
    br_ = doc_id % 13 - 6
    left = [al + bl * i for i in range(n)]
    right = [ar + br_ * i for i in range(n)]
    mode = doc_id % 4  # 0=independent 1=left-side 2=right-side 3=mid-side

    si = _Bits()
    si.write(n, 16)
    si.write(n, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(8000, 20)
    si.write(1, 3)           # channels - 1 = 1 (stereo)
    si.write(15, 5)          # bits per sample - 1
    si.write(n, 36)
    streaminfo = b"\x80" + (34).to_bytes(3, "big") + si.bytes() + b"\x00" * 16

    ch_code = {0: 0b0001, 1: 0b1000, 2: 0b1001, 3: 0b1010}[mode]
    hb = _Bits()
    hb.write(0b11111111111110, 14)
    hb.write(0, 2)
    hb.write(0b0111, 4)
    hb.write(0b0100, 4)
    hb.write(ch_code, 4)
    hb.write(0b100, 3)
    hb.write(0, 1)
    hb.write(0x00, 8)
    hb.write(n - 1, 16)
    header = hb.bytes()
    header += bytes([_crc8_flac(header)])

    if mode == 0:
        subs = [(left, 16), (right, 16)]
    elif mode == 1:  # left-side: left, then side = L - R at 17 bits
        subs = [(left, 16),
                ([l - r for l, r in zip(left, right)], 17)]
    elif mode == 2:  # right-side: side first, then right
        subs = [([l - r for l, r in zip(left, right)], 17),
                (right, 16)]
    else:  # mid-side
        subs = [([(l + r) >> 1 for l, r in zip(left, right)], 16),
                ([l - r for l, r in zip(left, right)], 17)]

    body = _Bits()
    for j, (sig, bits) in enumerate(subs):
        if j == 1 and doc_id % 5 == 0:
            _flac_write_verbatim(body, sig, bits)
        else:
            _flac_write_fixed1(body, sig, bits)
    body.pad_to_byte()
    frame = header + body.bytes()
    frame += _crc16_flac(frame).to_bytes(2, "big")
    return b"fLaC" + streaminfo + frame


def synth_flac_multichannel_bytes(doc_id: int) -> bytes:
    """Deterministic MULTICHANNEL FLAC file for ``doc_id``, from spec:
    nch = 3 + doc_id % 6 channels (3..8 — covering 5.1 and 7.1
    layouts), each a 16-bit ramp ch_c[i] = a_c + b_c*i with
    a_c = (doc_id*7 + c*29) % 2048 - 1024 and
    b_c = (doc_id + 3*c) % 17 - 8, n = 64 + doc_id % 64 at 8 kHz.
    Per spec §9.1.3 channel assignments 0-7 mean nch INDEPENDENT
    subframes in channel order (stereo decorrelation exists only for
    nch=2), so ch_code = nch - 1 and each channel encodes on its own:
    FIXED order-1 with genuine Rice residuals, except channel c where
    (doc_id + c) % 5 == 0 goes VERBATIM — the subframe mix varies
    per channel within one frame, which only a per-channel decode
    loop handles."""
    n = 64 + doc_id % 64
    nch = 3 + doc_id % 6
    chans = [
        [
            (doc_id * 7 + c * 29) % 2048 - 1024
            + ((doc_id + 3 * c) % 17 - 8) * i
            for i in range(n)
        ]
        for c in range(nch)
    ]

    si = _Bits()
    si.write(n, 16)
    si.write(n, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(8000, 20)
    si.write(nch - 1, 3)
    si.write(15, 5)
    si.write(n, 36)
    streaminfo = b"\x80" + (34).to_bytes(3, "big") + si.bytes() + b"\x00" * 16

    hb = _Bits()
    hb.write(0b11111111111110, 14)
    hb.write(0, 2)
    hb.write(0b0111, 4)
    hb.write(0b0100, 4)
    hb.write(nch - 1, 4)     # independent channels: code = nch - 1
    hb.write(0b100, 3)
    hb.write(0, 1)
    hb.write(0x00, 8)
    hb.write(n - 1, 16)
    header = hb.bytes()
    header += bytes([_crc8_flac(header)])

    body = _Bits()
    for c, sig in enumerate(chans):
        if (doc_id + c) % 5 == 0:
            _flac_write_verbatim(body, sig, 16)
        else:
            _flac_write_fixed1(body, sig, 16)
    body.pad_to_byte()
    frame = header + body.bytes()
    frame += _crc16_flac(frame).to_bytes(2, "big")
    return b"fLaC" + streaminfo + frame


def _parse_flac(data: bytes):
    """From-spec FLAC decode -> (sample_rate, int64 sample array). No
    external codec: fLaC magic, metadata-block walk (STREAMINFO
    bit-unpacked, other block types skipped by length), then per
    frame: sync + header codes parsed, CRC-8 verified, subframes
    decoded (ALL FOUR types: CONSTANT, VERBATIM, FIXED orders 0-4,
    and LPC with per-file coefficient precision/shift — residuals
    partitioned-Rice either way: unary quotient, k-bit remainder,
    zigzag unfold, predictor reconstruction), frame CRC-16 verified.
    Mono convenience wrapper; stereo callers use
    :func:`_parse_flac_multi`."""

    rate, nch, chans = _parse_flac_multi(data)
    if nch != 1:
        raise ValueError("expected mono (use _parse_flac_multi)")
    return rate, chans[0]


def _parse_flac_multi(data: bytes):
    """From-spec FLAC decode -> (sample_rate, n_channels, [per-channel
    int64 arrays]). 16-bit, mono or stereo; stereo frames may use any
    of the spec's four channel assignments — independent L/R,
    left-side, right-side, and mid-side decorrelation (the side
    subframe carries bps+1 bits per spec §9.2.1)."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (missing fLaC)")
    try:
        return _parse_flac_body(data)
    except IndexError as exc:
        raise ValueError("truncated FLAC stream") from exc


def _parse_flac_body(data: bytes):
    pos = 4
    info = None
    while True:
        hdr = data[pos]
        last = hdr >> 7
        btype = hdr & 0x7F
        ln = int.from_bytes(data[pos + 1 : pos + 4], "big")
        if btype == 0:  # STREAMINFO
            si = _Bits(data[pos + 4 : pos + 4 + ln])
            si.read(16 + 16 + 24 + 24)
            rate = si.read(20)
            nch = si.read(3) + 1
            bps = si.read(5) + 1
            total = si.read(36)
            info = (rate, nch, bps, total)
        pos += 4 + ln
        if last:
            break
    if info is None:
        raise ValueError("missing STREAMINFO")
    rate, nch, bps, total = info
    if not 1 <= nch <= 8 or bps not in (8, 16, 24, 32):
        raise ValueError(
            "only 1-8 channel 8/16/24/32-bit FLAC supported"
        )

    outs: list[list[int]] = [[] for _ in range(nch)]
    # STREAMINFO total = 0 is the spec's legal "unknown length"
    # (pipe-mode encoders emit it): decode frames until end of file
    # instead of treating it as a zero-sample target
    while (pos < len(data)) if total == 0 else (len(outs[0]) < total):
        frame_start = pos
        br = _Bits(data[pos:])
        if br.read(14) != 0b11111111111110:
            raise ValueError("bad frame sync")
        br.read(2)  # reserved + blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        bps_code = br.read(3)
        br.read(1)
        first = br.read(8)
        if first >= 0x80:  # multi-byte UTF-8 coded number
            extra = 0
            v = first
            while v & 0x40:
                extra += 1
                v <<= 1
            for _ in range(extra):
                br.read(8)
        # full spec §9.1.1 blocksize table — real encoders emit the
        # fixed codes (0b1100 = 4096 is flac(1)'s default), reserving
        # the end-coded forms for the short last frame
        if bs_code == 0b0000:
            raise ValueError("reserved blocksize code")
        elif bs_code == 0b0001:
            n = 192
        elif 0b0010 <= bs_code <= 0b0101:
            n = 576 << (bs_code - 2)
        elif bs_code == 0b0110:
            n = br.read(8) + 1
        elif bs_code == 0b0111:
            n = br.read(16) + 1
        else:
            n = 256 << (bs_code - 8)
        if sr_code in (0b1100, 0b1101, 0b1110):
            br.read({0b1100: 8, 0b1101: 16, 0b1110: 16}[sr_code])
        header_len = (br.pos + 7) // 8
        crc8 = br.read(8)
        if _crc8_flac(data[frame_start : frame_start + header_len]) != crc8:
            raise ValueError("frame header CRC-8 mismatch")

        def sgn(v: int, bits: int) -> int:
            return v - (1 << bits) if v >= 1 << (bits - 1) else v

        def read_subframe(bits: int) -> list[int]:
            """Decode ONE subframe at ``bits`` sample width (bps, or
            bps+1 for the side channel of a decorrelated stereo
            frame — FLAC spec §9.2.1). Wasted bits (spec §9.2.2): if
            the header's low bit is set, a unary count follows
            (k = zeros-before-the-1, plus 1); the subframe is coded
            at bits-k width and every decoded sample shifts LEFT by
            k to restore the stripped low-order zero bits."""
            sub = br.read(8)
            if sub & 0x80:
                raise ValueError("reserved subframe-header pad bit set")
            wasted = 0
            if sub & 0x01:
                wasted = 1
                while br.read(1) == 0:
                    wasted += 1
                if wasted >= bits:
                    raise ValueError("wasted bits exceed sample width")
            typ = (sub >> 1) & 0x3F
            out = _subframe_body(typ, bits - wasted)
            if wasted:
                out = [s << wasted for s in out]
            return out

        def _subframe_body(typ: int, bits: int) -> list[int]:
            if typ == 0b000000:  # CONSTANT
                return [sgn(br.read(bits), bits)] * n
            if typ == 0b000001:  # VERBATIM
                return [sgn(br.read(bits), bits) for _ in range(n)]
            if 0b001000 <= typ <= 0b001100 or typ & 0b100000:
                if typ & 0b100000:  # LPC, order 1-32
                    order = (typ & 0x1F) + 1
                    block = [sgn(br.read(bits), bits)
                             for _ in range(order)]
                    precision = br.read(4) + 1
                    if precision == 16:
                        raise ValueError("invalid qlp precision escape")
                    shift = br.read(5)
                    if shift >= 16:  # 5-bit two's complement: negative
                        raise ValueError("negative qlp shift invalid")
                    coefs = [sgn(br.read(precision), precision)
                             for _ in range(order)]
                else:  # FIXED order 0-4: hardwired predictor, no shift
                    order = typ & 0x07
                    block = [sgn(br.read(bits), bits)
                             for _ in range(order)]
                    coefs = _FLAC_FIXED[order]
                    shift = 0
                method = br.read(2)
                if method > 1:
                    raise ValueError("reserved residual coding method")
                # method 0 = 4-bit Rice parameters, method 1 = Rice2
                # (5-bit parameters, spec §9.2.7 — what real encoders
                # emit for wide residuals); the all-ones parameter is
                # the ESCAPE: that partition's residuals are stored
                # verbatim at a 5-bit declared width (width 0 = all
                # zero, no bits).
                pbits = 4 if method == 0 else 5
                escape = (1 << pbits) - 1
                part_order = br.read(4)
                n_parts = 1 << part_order

                for p in range(n_parts):
                    k = br.read(pbits)
                    cnt = (n >> part_order) - (order if p == 0 else 0)
                    if k == escape:
                        width = br.read(5)
                        for _ in range(cnt):
                            r = (
                                sgn(br.read(width), width)
                                if width else 0
                            )
                            pred = sum(
                                c * block[len(block) - 1 - j]
                                for j, c in enumerate(coefs)
                            ) >> shift
                            block.append(pred + r)
                        continue
                    for _ in range(cnt):
                        q = br.read_unary()
                        u = (q << k) | br.read(k)
                        r = (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)
                        pred = sum(
                            c * block[len(block) - 1 - j]
                            for j, c in enumerate(coefs)
                        ) >> shift
                        block.append(pred + r)
                return block
            raise ValueError("unknown subframe type")

        if ch_code <= 0b0111:  # independent channels
            if ch_code + 1 != nch:
                raise ValueError("frame/STREAMINFO channel mismatch")
            chans = [read_subframe(bps) for _ in range(nch)]
        elif ch_code in (0b1000, 0b1001, 0b1010):
            if nch != 2:
                raise ValueError(
                    "stereo decorrelation in a non-stereo stream"
                )
            # the SIDE subframe carries one extra bit (spec §9.2.1):
            # left-side/mid-side put it second, right-side first
            if ch_code == 0b1001:
                side = read_subframe(bps + 1)
                right = read_subframe(bps)
                chans = [[s + r for s, r in zip(side, right)], right]
            elif ch_code == 0b1000:
                left = read_subframe(bps)
                side = read_subframe(bps + 1)
                chans = [left, [l - s for l, s in zip(left, side)]]
            else:  # mid-side: mid = (L+R)>>1, side = L-R; L+R and
                # L-R share parity, so L+R = (mid<<1) | (side&1)
                mid = read_subframe(bps)
                side = read_subframe(bps + 1)
                left, right = [], []
                for m, s in zip(mid, side):
                    lr = (m << 1) | (s & 1)
                    left.append((lr + s) >> 1)
                    right.append((lr - s) >> 1)
                chans = [left, right]
        else:
            raise ValueError("reserved channel assignment")
        br.align()
        frame_len = br.pos // 8
        crc16 = br.read(16)
        if _crc16_flac(
            data[frame_start : frame_start + frame_len]
        ) != crc16:
            raise ValueError("frame CRC-16 mismatch")
        pos = frame_start + frame_len + 2
        for out, block in zip(outs, chans):
            out.extend(block)
    import numpy as np

    # A final frame coded with a fixed blocksize code may overshoot
    # the STREAMINFO total; reference decoders truncate to total
    # (libFLAC behavior), so sum_sq/n_samples stay comparable.
    # total = 0 means unknown length: keep everything decoded.
    end = total if total else None
    return rate, nch, [np.array(o[:end], dtype="i8") for o in outs]


def decode_flac(df: DataFrame, payload_col: str = "payload",
                id_col: str = "doc_id") -> DataFrame:
    """REAL FLAC decode (from-spec Rice/fixed-predictor codec, no
    external libraries) via Arrow-batched mapInPandas, emitting the
    same integer-exact signal stats as :func:`decode_wav` — the
    compressed-audio counterpart of the WAV gate."""
    import numpy as np

    parse_one = _parse_flac

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: [] for k in ("doc_id", "sample_rate", "n_channels",
                                "n_samples", "sum_sq", "max_abs")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                rate, s = parse_one(bytes(b))
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(1)
                rows["n_samples"].append(len(s))
                rows["sum_sq"].append(int((s * s).sum()))
                rows["max_abs"].append(
                    int(np.abs(s).max()) if len(s) else 0
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(batches, FLAC_SCHEMA)


FLAC_STEREO_SCHEMA = (
    "doc_id long, channel int, sample_rate int, n_samples int, "
    "sum_sq long, max_abs int, sum_s long"
)


def decode_flac_stereo(df: DataFrame, payload_col: str = "payload",
                       id_col: str = "doc_id") -> DataFrame:
    """REAL multichannel FLAC decode (from-spec: stereo with all four
    channel assignments including mid-side decorrelation, and 3-8
    independent channels per spec §9.1.3) via Arrow-batched
    mapInPandas — one row per (doc, channel) with integer-exact
    stats. ``sum_s`` is sign- and channel-sensitive, so a channel
    swap or a decorrelation reconstruction error breaks the gate
    even where the sign-blind ``sum_sq`` would survive."""
    import numpy as np

    parse_one = _parse_flac_multi

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: [] for k in ("doc_id", "channel", "sample_rate",
                                "n_samples", "sum_sq", "max_abs", "sum_s")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                rate, nch, chans = parse_one(bytes(b))
                for ch, s in enumerate(chans):
                    rows["doc_id"].append(doc_id)
                    rows["channel"].append(ch)
                    rows["sample_rate"].append(rate)
                    rows["n_samples"].append(len(s))
                    rows["sum_sq"].append(int((s * s).sum()))
                    rows["max_abs"].append(
                        int(np.abs(s).max()) if len(s) else 0
                    )
                    rows["sum_s"].append(int(s.sum()))
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        batches, FLAC_STEREO_SCHEMA
    )


def decode_wav_clipping(df: DataFrame, payload_col: str = "payload",
                        id_col: str = "doc_id",
                        threshold: int = 1000) -> DataFrame:
    """Clipped-sample detection over REAL WAV decode (same stdlib
    ``wave`` + numpy parse as :func:`decode_wav`): per file, the count
    and ppm fraction of samples at or above ``threshold`` absolute
    amplitude, plus the peak — the saturation/quality gate an audio
    curation pipeline runs before transcription."""
    import io
    import wave

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "n_samples", "n_clipped", "clip_ppm",
                          "peak_abs")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                with wave.open(io.BytesIO(bytes(b)), "rb") as w:
                    if w.getsampwidth() != 2:
                        raise ValueError(f"doc {doc_id}: only 16-bit PCM")
                    nfr = w.getnframes()
                    s = np.frombuffer(
                        w.readframes(nfr), dtype="<i2"
                    ).astype("i8")
                a = np.abs(s)
                nc = int((a >= threshold).sum())
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(nfr)
                rows["n_clipped"].append(nc)
                rows["clip_ppm"].append(nc * 1_000_000 // nfr if nfr else 0)
                rows["peak_abs"].append(int(a.max()) if len(s) else 0)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(batches, CLIP_SCHEMA)


WALSH_SCHEMA = (
    "doc_id long, n_samples int, w0 long, w1 long, w2 long, w3 long, "
    "dominant_bin int"
)


def decode_wav_walsh(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "doc_id") -> DataFrame:
    """Walsh–Hadamard sequency-bin coefficients over REAL WAV decode
    (same stdlib ``wave`` + numpy parse as :func:`decode_wav`):
    per file, W_k = sum_i s[i] * (-1)^popcount(k & i) for sequency
    bins k = 0..3 — the transform-domain feature a large-scale audio
    pipeline uses for cheap spectral triage (Walsh bins need only
    +/-1 signs, so the fold is integer-exact and oracle-computable,
    where DFT bins would drag libm trig into the gate). w0 is the DC
    sum; dominant_bin is the AC bin (1..3) of largest magnitude,
    smallest-k tiebreak."""
    import io
    import wave

    import numpy as np

    def _parity(i: "np.ndarray", k: int) -> "np.ndarray":
        # parity of popcount(i & k), vectorized bit fold (works for
        # any k; numpy's bitwise_count needs numpy >= 2)
        v = i & k
        p = np.zeros_like(v)
        while v.any():
            p ^= v & 1
            v = v >> 1
        return p

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "n_samples", "w0", "w1", "w2", "w3",
                          "dominant_bin")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                with wave.open(io.BytesIO(bytes(b)), "rb") as w:
                    if w.getsampwidth() != 2:
                        raise ValueError(f"doc {doc_id}: only 16-bit PCM")
                    if w.getnchannels() != 1:
                        # unlike the index-independent stats of
                        # decode_wav, Walsh signs depend on the sample
                        # INDEX — interleaved stereo would fold a
                        # channel-mixed index space into meaningless
                        # coefficients, so reject it outright
                        raise ValueError(f"doc {doc_id}: only mono PCM")
                    nfr = w.getnframes()
                    s = np.frombuffer(
                        w.readframes(nfr), dtype="<i2"
                    ).astype("i8")
                i = np.arange(len(s), dtype="i8")
                ws = [int(s.sum())]
                for k in (1, 2, 3):
                    ws.append(int((s * (1 - 2 * _parity(i, k))).sum()))
                dom = max((1, 2, 3), key=lambda k: (abs(ws[k]), -k))
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(nfr)
                for k in range(4):
                    rows[f"w{k}"].append(ws[k])
                rows["dominant_bin"].append(dom)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(batches, WALSH_SCHEMA)


def synth_ppm_bytes(doc_id: int) -> bytes:
    """Deterministic PPM P6 image for ``doc_id``: frame 0 of the
    synthetic video (:func:`synth_frame_ppm_bytes` with f = 0 — ONE
    copy of the load-bearing pixel formulas, which two SQL oracles
    restate)."""
    return synth_frame_ppm_bytes(doc_id, 0)


def _parse_ppm(data: bytes):
    """Parse one PPM P6 byte image -> (w, h, int64 pixel array):
    ASCII header (width/height/maxval, comment-aware), raw RGB plane."""
    import numpy as np

    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    fields: list[bytes] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if pos >= len(data):
            raise ValueError("truncated PPM header")
        if data[pos : pos + 1] == b"#":  # comment to EOL
            nl = data.find(b"\n", pos)
            if nl < 0:
                raise ValueError("truncated PPM header")
            pos = nl + 1
            continue
        end = pos
        while end < len(data) and not data[end : end + 1].isspace():
            end += 1
        if end >= len(data):
            raise ValueError("truncated PPM header")
        fields.append(data[pos:end])
        pos = end
    pos += 1  # single whitespace after maxval
    w, h, maxval = (int(f) for f in fields)
    # full Netpbm range: maxval < 256 is one byte per sample,
    # 256-65535 two bytes BIG-endian (the spec's explicit ordering)
    if not 1 <= maxval <= 65535:
        raise ValueError("bad PPM maxval")
    dt = "u1" if maxval < 256 else ">u2"
    img = np.frombuffer(data, dtype=dt, count=w * h * 3, offset=pos)
    return w, h, img.reshape(h, w, 3).astype("i8")


def decode_ppm(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id") -> DataFrame:
    """REAL PPM P6 decode (pure numpy): parses the ASCII header
    (width/height/maxval with comment support), reshapes the raw RGB
    plane, and emits per-channel integer sums."""
    parse_one = _parse_ppm

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "width", "height", "sum_r", "sum_g",
                          "sum_b")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                w, h, img = parse_one(bytes(b))
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["sum_r"].append(int(img[:, :, 0].sum()))
                rows["sum_g"].append(int(img[:, :, 1].sum()))
                rows["sum_b"].append(int(img[:, :, 2].sum()))
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(batches, PPM_SCHEMA)


#: PNG emits the same per-channel stat row as PPM — same gate shape.
PNG_SCHEMA = PPM_SCHEMA


def _paeth_vec(a, b, c):
    """Vectorized Paeth predictor (PNG spec §9, Filter type 4): pick
    whichever of left/up/upper-left is closest to a+b-c, ties broken
    left, then up — the exact spec ordering."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


#: Adam7 pass grid (PNG spec §8.2): (x_origin, y_origin, x_step,
#: y_step) for each of the seven passes, in transmission order. A
#: pass whose reduced image is empty for the picture's dimensions
#: contributes ZERO bytes to the datastream (no filter bytes either).
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_filter_rows(img, ft_of_row) -> bytearray:
    """Filter an (h, w, bpp) uint8 (sub-)image into PNG scanline bytes
    (filter byte + filtered row, per spec §9), row ``yy`` using filter
    ``ft_of_row(yy)``. Shared by the sequential and Adam7 synthesizers
    — per spec each interlace pass filters as an independent reduced
    image, which falls out of calling this once per pass (the ``prev``
    row resets to zeros)."""
    import numpy as np

    h, w, bpp = img.shape
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype="i4")
    for yy in range(h):
        row = img[yy].reshape(-1).astype("i4")
        ft = ft_of_row(yy)
        left = np.concatenate([np.zeros(bpp, "i4"), row[:-bpp]])
        if ft == 0:
            filt = row
        elif ft == 1:  # Sub
            filt = (row - left) % 256
        elif ft == 2:  # Up
            filt = (row - prev) % 256
        elif ft == 3:  # Average (floor of the UNWRAPPED sum, per spec)
            filt = (row - (left + prev) // 2) % 256
        else:  # Paeth
            upleft = np.concatenate([np.zeros(bpp, "i4"), prev[:-bpp]])
            filt = (row - _paeth_vec(left, prev, upleft)) % 256
        raw.append(ft)
        raw.extend(filt.astype("u1").tobytes())
        prev = row
    return raw


def _png_pixels(doc_id: int):
    """The shared deterministic pixel field (see synth_png_bytes) as a
    (h, w, 3) uint8 array — one formula, two serializations (sequential
    and Adam7), so the interlaced entry's oracle is byte-identical to
    m_png_native's."""
    import numpy as np

    w = 5 + doc_id % 11
    h = 3 + doc_id % 6
    x = np.arange(w, dtype="i8")[None, :]
    y = np.arange(h, dtype="i8")[:, None]
    return np.stack(
        [
            (doc_id * 3 + x * 7 + y * 11) % 256,
            (doc_id + x * y) % 256,
            (x * 5 + y * 3 + doc_id * 2) % 256,
        ],
        axis=2,
    ).astype("u1")


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def synth_png_adam7_bytes(doc_id: int) -> bytes:
    """Deterministic ADAM7-INTERLACED PNG for ``doc_id`` — the same
    pixel field as :func:`synth_png_bytes` serialized the other legal
    way (IHDR interlace=1): seven reduced images, each filtered as an
    independent sub-image, concatenated into one zlib stream. Pass
    ``p`` row ``yy`` uses filter (doc_id + p + yy) % 5 so the filter
    mix differs from the sequential file and every pass boundary
    resets the Up/Paeth ``prev`` row. Images narrower/shorter than a
    pass's grid make that pass EMPTY (zero bytes — the spec subtlety
    Adam7 adds); every synthesized size leaves pass 3 populated only
    when h >= 5, so the corpus exercises both arms."""
    import struct
    import zlib

    import numpy as np

    img = _png_pixels(doc_id)
    h, w = img.shape[:2]
    raw = bytearray()
    for p, (x0, y0, dx, dy) in enumerate(_ADAM7):
        sub = img[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        raw += _png_filter_rows(
            np.ascontiguousarray(sub), lambda yy, p=p: (doc_id + p + yy) % 5
        )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def synth_png_bytes(doc_id: int, filter_type: int | None = None) -> bytes:
    """Deterministic 8-bit RGB PNG for ``doc_id``, built FROM SPEC
    (signature, IHDR/IDAT/IEND chunks with real CRC-32s, zlib-deflated
    scanlines): a (5 + doc_id % 11) x (3 + doc_id % 6) image with
    pixel formula r=(3*doc_id+7x+11y)%256, g=(doc_id+x*y)%256,
    b=(5x+3y+2*doc_id)%256 — integer-exact so the decoded channel sums
    are oracle-computable from the formula alone. Scanline ``y`` uses
    filter type (doc_id + y) % 5, so every doc with height >= 5
    exercises ALL FIVE spec filters (None/Sub/Up/Average/Paeth) and
    any unfilter bug breaks the channel sums. ``filter_type`` pins one
    filter for every row (golden-bytes tests)."""
    import struct
    import zlib

    img = _png_pixels(doc_id)
    h, w = img.shape[:2]
    raw = _png_filter_rows(
        img,
        lambda yy: (doc_id + yy) % 5 if filter_type is None else filter_type,
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def synth_png_types_bytes(doc_id: int) -> bytes:
    """Deterministic GRAYSCALE (even ``doc_id``, color type 0) or
    PALETTE (odd ``doc_id``, color type 3 with a 16-entry PLTE) PNG —
    the two non-truecolor types real corpora are full of (icons,
    scanned docs, charts), both coding ONE byte per pixel so they
    reuse the full filter machinery at bpp=1. Grayscale pixel
    v = (doc_id*3 + 7x + 11y) % 256 (decoded RGB = v,v,v); palette
    index j = (doc_id + x + 2y) % 16 with PLTE entry
    (doc_id*3 + 5j, doc_id + 7j, doc_id*5 + 11j) % 256 — both
    closed-form so the decoded channel sums are oracle-computable.
    Scanline ``y`` uses filter (doc_id + y) % 5, exercising all five
    filters at the 1-byte pixel stride (left neighbor = previous
    BYTE, a different Paeth/Sub geometry than bpp=3)."""
    import struct
    import zlib

    import numpy as np

    w = 5 + doc_id % 11
    h = 3 + doc_id % 6
    x = np.arange(w, dtype="i8")[None, :]
    y = np.arange(h, dtype="i8")[:, None]
    if doc_id % 2 == 0:  # grayscale
        plane = ((doc_id * 3 + x * 7 + y * 11) % 256).astype("u1")
        ctype = 0
        plte_chunk = b""
    else:  # palette
        plane = ((doc_id + x + 2 * y) % 16).astype("u1")
        j = np.arange(16, dtype="i8")
        pal = np.stack(
            [
                (doc_id * 3 + j * 5) % 256,
                (doc_id + j * 7) % 256,
                (doc_id * 5 + j * 11) % 256,
            ],
            axis=1,
        ).astype("u1")
        ctype = 3
        plte_chunk = _png_chunk(b"PLTE", pal.tobytes())
    raw = _png_filter_rows(
        plane[:, :, None], lambda yy: (doc_id + yy) % 5
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + plte_chunk
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, off: int, w: int, h: int, bpp: int):
    """Unfilter ``h`` scanlines of ``w`` pixels starting at
    ``raw[off]`` (one reduced image — the whole picture when
    sequential, one pass when Adam7; the spec treats each pass as an
    independent image, so ``prev`` starts at zeros here). Returns
    ((h, w*bpp) int array, bytes consumed). None and Up are
    vectorized across the row; Sub/Average/Paeth carry a true
    left-neighbor dependency so they reconstruct byte-serially within
    the row (rows are the parallel unit at scale, not bytes)."""
    import numpy as np

    stride = w * bpp
    need = h * (stride + 1)
    if off + need > len(raw):
        raise ValueError("truncated PNG image data")
    out = np.zeros((h, stride), dtype="i4")
    prev = np.zeros(stride, dtype="i4")
    for yy in range(h):
        base = off + yy * (stride + 1)
        ft = raw[base]
        filt = np.frombuffer(raw, "u1", stride, base + 1).astype("i4")
        if ft == 0:
            recon = filt
        elif ft == 2:  # Up: no intra-row dependency
            recon = (filt + prev) % 256
        elif ft in (1, 3, 4):
            recon = np.zeros(stride, dtype="i4")
            for i in range(stride):
                a = int(recon[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                if ft == 1:
                    pr = a
                elif ft == 3:
                    pr = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                recon[i] = (int(filt[i]) + pr) % 256
        else:
            raise ValueError(f"bad filter type {ft}")
        out[yy] = recon
        prev = recon
    return out, need


def _parse_png(data: bytes):
    """From-spec PNG decode -> (w, h, int64 HxWx3 pixel array). No PIL:
    walks the chunk stream verifying each CRC-32, parses IHDR (8-bit
    RGB truecolor, sequential OR Adam7-interlaced), concatenates IDAT,
    inflates with stdlib zlib, and unfilters scanlines per spec §9 via
    :func:`_png_unfilter` — once for the whole image when sequential;
    for Adam7, once per non-empty pass (spec §8.2: an empty pass
    contributes zero bytes), scattering each reduced image back onto
    the (y0::dy, x0::dx) grid."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    dims = None
    inter = 0
    color_type = 2
    bit_depth = 8
    plte = None
    idat = bytearray()
    while pos + 12 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        crc_raw = data[pos + 8 + ln : pos + 12 + ln]
        if len(crc_raw) < 4:  # chunk length overruns the payload
            raise ValueError(f"truncated chunk {typ!r}")
        (crc,) = struct.unpack(">I", crc_raw)
        if zlib.crc32(typ + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in chunk {typ!r}")
        if typ == b"IHDR":
            if len(body) != 13:
                raise ValueError("bad IHDR length")
            w, h, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", body
            )
            if (
                depth not in (8, 16)
                or ctype not in (0, 2, 3, 4, 6)
                or (depth == 16 and ctype == 3)  # spec: palette <= 8
                or comp != 0
                or filt != 0
                or inter not in (0, 1)
            ):
                raise ValueError(
                    "only 8/16-bit gray/RGB/palette/gray+alpha/RGBA "
                    "PNG (interlace 0 or 1; palette is 8-bit)"
                )
            dims = (w, h)
            color_type = ctype
            bit_depth = depth
        elif typ == b"PLTE":
            if len(body) == 0 or len(body) % 3 or len(body) > 768:
                raise ValueError("bad PLTE length")
            plte = body
        elif typ == b"IDAT":
            idat.extend(body)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if dims is None:
        raise ValueError("missing IHDR")
    w, h = dims
    # The filter/interlace machinery below runs at the CODED bytes
    # per pixel (spec §9: filters operate on bytes, the left
    # neighbor is bpp bytes back — at 16-bit depth that is
    # 2*channels bytes) and one conversion at the end produces the
    # sample image: gray replicated, palette looked up in PLTE per
    # spec §11.2.3, alpha PARSED-AND-DROPPED (the PIL convert("RGB")
    # convention — the channel passes through the whole unfilter
    # path, so a filter bug in it still corrupts the RGB bytes and
    # breaks the gate), 16-bit byte pairs combined BIG-endian.
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    bpp = channels * (bit_depth // 8)
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    # the exact decompressed size is known from IHDR before inflating
    # (per-pass scanlines: one filter byte + pw*bpp coded bytes), so
    # inflate BOUNDED: a ~65 KB deflate stream legally expands to
    # ~64 MB (deflate's ~1032x ceiling), and an unbounded
    # zlib.decompress hands a hostile payload that entire allocation
    # inside one C call before any length check runs. Reject a
    # declared size deflate could never reach from this payload, then
    # cap the inflate at expected+1 so even a lying stream can't
    # produce more than one surplus byte (which the exact-length
    # check below turns into the family's clean ValueError).
    if inter == 0:
        expected = h * (1 + w * bpp)
    else:
        expected = sum(
            ph * (1 + pw * bpp)
            for x0, y0, dx, dy in _ADAM7
            for pw in (max(0, (w - x0 + dx - 1) // dx),)
            for ph in (max(0, (h - y0 + dy - 1) // dy),)
            if pw and ph
        )
    if w * h > MAX_DECODE_PIXELS:
        raise ValueError("image exceeds MAX_DECODE_PIXELS")
    if expected > max(1 << 22, len(data) * 1032):
        raise ValueError("PNG dimensions implausibly large for payload")
    try:
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        raise ValueError("corrupt PNG IDAT stream") from exc
    if len(raw) != expected:
        raise ValueError("decompressed IDAT length mismatch")
    # the bounded inflate stops at expected+1 bytes, so a stream cut
    # off AFTER yielding all pixel bytes but BEFORE its adler32
    # trailer would otherwise be silently accepted (zlib only
    # verifies the checksum at end-of-stream). Require end-of-stream
    # so truncation stays a clean ValueError and adler32 always ran.
    if not d.eof:
        raise ValueError("truncated PNG IDAT stream")
    def to_rgb(coded):
        """Convert the CODED (h, w, bpp) image to RGB samples:
        truecolor passes through, grayscale replicates the sample
        into all three channels, palette indexes PLTE
        (range-checked — an index past the palette is file
        corruption, not a reader crash), the alpha types drop their
        alpha channel after it rode the whole unfilter path, and at
        16-bit depth each sample is its big-endian byte pair
        (values 0-65535)."""
        if bit_depth == 16:
            pairs = coded.astype("i8").reshape(h, w, channels, 2)
            coded = (pairs[..., 0] << 8) | pairs[..., 1]
        if color_type == 2:
            return coded.reshape(h, w, 3).astype("i8")
        if color_type == 6:  # RGBA: drop alpha
            return coded.reshape(h, w, 4)[:, :, :3].astype("i8")
        if color_type == 4:  # gray+alpha: replicate gray, drop alpha
            return np.repeat(
                coded.reshape(h, w, 2)[:, :, 0]
                .astype("i8")[:, :, None],
                3,
                axis=2,
            )
        plane = coded.reshape(h, w)
        if color_type == 0:
            return np.repeat(
                plane.astype("i8")[:, :, None], 3, axis=2
            )
        pal = np.frombuffer(plte, "u1").reshape(-1, 3).astype("i8")
        if plane.size and int(plane.max()) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        return pal[plane]

    if inter == 0:
        out, used = _png_unfilter(raw, 0, w, h, bpp)
        if used != len(raw):
            raise ValueError("decompressed IDAT length mismatch")
        return w, h, to_rgb(out.reshape(h, w, bpp))
    img = np.zeros((h, w, bpp), dtype="i8")
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = max(0, (w - x0 + dx - 1) // dx)
        ph = max(0, (h - y0 + dy - 1) // dy)
        if pw == 0 or ph == 0:
            continue
        sub, used = _png_unfilter(raw, off, pw, ph, bpp)
        off += used
        img[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
    if off != len(raw):
        raise ValueError("decompressed IDAT length mismatch")
    return w, h, to_rgb(img)


def _gif_lzw_encode(indices, m: int) -> bytes:
    """GIF-variant LZW encoder (GIF89a spec appendix F) for the
    synthesizer: variable code width starting at m+1 bits, codes
    packed LSB-FIRST, a leading CLEAR code, dictionary keyed on
    (prefix_code, next_index), width bumped when the DECODER's next
    free slot reaches 1 << width (the encoder runs one entry ahead,
    hence the +1), capped at 12 bits."""
    clear, end = 1 << m, (1 << m) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = m + 1
    table: dict[tuple[int, int], int] = {}
    enc_next = end + 1  # encoder's next free code
    dec_next = end + 1  # SIMULATED decoder slot counter — the width
    # schedule must follow the DECODER's dictionary, which gains one
    # entry per code processed after the first (including the final
    # data code, for which the encoder itself adds nothing)
    emitted = 0

    def emit_data(code: int) -> None:
        nonlocal emitted, dec_next, width
        emit(code, width)
        emitted += 1
        if emitted >= 2 and dec_next < 4096:
            dec_next += 1
            if dec_next == (1 << width) and width < 12:
                width += 1

    emit(clear, width)
    it = iter(indices)
    prev = int(next(it))
    for k in it:
        k = int(k)
        if (prev, k) in table:
            prev = table[(prev, k)]
            continue
        emit_data(prev)
        if enc_next < 4096:
            table[(prev, k)] = enc_next
            enc_next += 1
        prev = k
    emit_data(prev)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, m: int, npix: int):
    """GIF-variant LZW decoder: LSB-first variable-width codes,
    CLEAR resets the dictionary, END terminates; the next-free-slot
    special case (code == next) is the classic KwKwK sequence. The
    output must land on EXACTLY npix indices at the END code — any
    overshoot, undershoot, out-of-range code, or bit exhaustion is a
    clean ValueError (the ingest family's failure contract)."""
    if not 2 <= m <= 8:
        raise ValueError("bad LZW minimum code size")
    clear, end = 1 << m, (1 << m) + 1
    pos = nbits = acc = 0

    def read(width: int) -> int:
        nonlocal pos, nbits, acc
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        v = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return v

    width = m + 1
    seqs: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    nxt = end + 1
    out = bytearray()
    prev: int | None = None
    while True:
        code = read(width)
        if code == clear:
            width = m + 1
            seqs = seqs[: end + 1]
            nxt = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError("LZW stream must start with a root")
            out.extend(seqs[code])
        else:
            if code < nxt:
                entry = seqs[code]
            elif code == nxt:
                entry = seqs[prev] + seqs[prev][:1]
            else:
                raise ValueError("LZW code beyond dictionary")
            out.extend(entry)
            if nxt < 4096:
                seqs.append(seqs[prev] + entry[:1])
                nxt += 1
                if nxt == (1 << width) and width < 12:
                    width += 1
        if len(out) > npix:
            raise ValueError("LZW output exceeds image size")
        prev = code
    if len(out) != npix:
        raise ValueError("LZW output short of image size")
    return bytes(out)


#: GIF interlace passes (GIF89a spec appendix E): (start row, step)
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlace_rows(h: int) -> list[int]:
    """Row order in which an interlaced GIF stores the image."""
    return [y for y0, dy in _GIF_PASSES for y in range(y0, h, dy)]


def synth_gif_bytes(doc_id: int) -> bytes:
    """Deterministic GIF89a for ``doc_id``, synthesized from spec:
    header + logical screen descriptor, GLOBAL COLOR TABLE of
    2^(1 + 1 + doc_id % 3) entries (4/8/16), a Graphic Control
    Extension (the block virtually every real GIF carries — the
    decoder must skip extensions by sub-block framing), one image
    descriptor (INTERLACED for odd doc_ids), real LZW-compressed
    index data in length-prefixed sub-blocks, trailer. Pixel index
    (doc_id + x*7 + y*11) % ncolors over a (5 + doc_id % 11) x
    (3 + doc_id % 6) canvas; palette entry i is
    ((doc_id*5 + i*17) % 256, (doc_id*3 + i*29) % 256,
    (doc_id*7 + i*13) % 256), so the decoded channel sums are the
    closed-form double sum the oracle restates."""
    w = 5 + doc_id % 11
    h = 3 + doc_id % 6
    nbits_ct = 1 + doc_id % 3  # GCT size field: 2^(field+1) entries
    ncolors = 2 << nbits_ct
    m = nbits_ct + 1  # LZW minimum code size (= bits per index)
    interlace = doc_id % 2 == 1

    idx = [
        [(doc_id + x * 7 + y * 11) % ncolors for x in range(w)]
        for y in range(h)
    ]
    rows = _gif_interlace_rows(h) if interlace else range(h)
    flat = [k for y in rows for k in idx[y]]
    lzw = _gif_lzw_encode(flat, m)
    subs = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        subs += bytes([len(chunk)]) + chunk
    subs += b"\x00"

    gct = bytearray()
    for i in range(ncolors):
        gct += bytes([
            (doc_id * 5 + i * 17) % 256,
            (doc_id * 3 + i * 29) % 256,
            (doc_id * 7 + i * 13) % 256,
        ])
    return (
        b"GIF89a"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x80 | nbits_ct, 0, 0])  # GCT flag+size, bg, aspect
        + bytes(gct)
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE, no transparency
        + b"\x2c" + bytes(4)  # image descriptor at (0, 0)
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x40 if interlace else 0x00])
        + bytes([m]) + bytes(subs)
        + b"\x3b"
    )


def synth_gif_animated_bytes(doc_id: int) -> bytes:
    """Deterministic 3-frame ANIMATED GIF89a for ``doc_id``, built so
    the final composited canvas is a closed form the oracle restates:

    * frame 1 — full (8 + doc_id % 8) x (6 + doc_id % 5) canvas, GCT
      indices (doc_id + x*3 + y*5) % 8, disposal 1 (leave in place);
    * frame 2 — rectangle at (doc_id % 3, doc_id % 2) sized
      (3 + doc_id % 3) x (2 + doc_id % 2), indices
      (doc_id*2 + x + y) % 8 in LOCAL coords, disposal
      2 + doc_id % 2: even doc_ids restore the rectangle to the
      BACKGROUND color, odd ones to the frame-1 content, before
      frame 3 renders — so frame 2's pixel VALUES never reach the
      final canvas, but its LZW stream must still decode to exactly
      the right count (a decoder that leaves frame 2 in place, or
      confuses methods 2 and 3, breaks the channel sums);
    * frame 3 — rectangle at (2 + doc_id % 2, 1 + doc_id % 2) sized
      (3 + doc_id % 2) x (2 + doc_id % 3) with its OWN LOCAL color
      table, indices (doc_id + x*2 + y*3) % 8 in LOCAL coords, index
      7 TRANSPARENT (the post-disposal canvas shows through),
      INTERLACED for odd doc_ids, disposal 0 (the last frame's
      disposal never runs).

    GCT entry i = ((doc_id*5 + i*17) % 256, (doc_id*3 + i*29) % 256,
    (doc_id*7 + i*13) % 256); frame-3 LCT entry i =
    ((doc_id*7 + i*11) % 256, (doc_id + i*23) % 256,
    (doc_id*3 + i*19) % 256); background byte doc_id % 8."""
    w = 8 + doc_id % 8
    h = 6 + doc_id % 5
    m = 3  # 8-entry color tables -> 3 bits per index

    def lzw_subblocks(indices: list[int]) -> bytes:
        lzw = _gif_lzw_encode(indices, m)
        subs = bytearray([m])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            subs += bytes([len(chunk)]) + chunk
        return bytes(subs) + b"\x00"

    def gce(disposal: int, t_idx: int | None) -> bytes:
        packed = (disposal << 2) | (1 if t_idx is not None else 0)
        return bytes(
            [0x21, 0xF9, 4, packed, 0, 0, t_idx or 0, 0]
        )

    def descriptor(left: int, top: int, fw: int, fh: int,
                   ipacked: int) -> bytes:
        return (
            b"\x2c"
            + left.to_bytes(2, "little") + top.to_bytes(2, "little")
            + fw.to_bytes(2, "little") + fh.to_bytes(2, "little")
            + bytes([ipacked])
        )

    gct = bytes(
        b for i in range(8)
        for b in ((doc_id * 5 + i * 17) % 256,
                  (doc_id * 3 + i * 29) % 256,
                  (doc_id * 7 + i * 13) % 256)
    )
    lct = bytes(
        b for i in range(8)
        for b in ((doc_id * 7 + i * 11) % 256,
                  (doc_id + i * 23) % 256,
                  (doc_id * 3 + i * 19) % 256)
    )

    f1 = [(doc_id + x * 3 + y * 5) % 8
          for y in range(h) for x in range(w)]
    l2, t2 = doc_id % 3, doc_id % 2
    w2, h2 = 3 + doc_id % 3, 2 + doc_id % 2
    f2 = [(doc_id * 2 + x + y) % 8
          for y in range(h2) for x in range(w2)]
    l3, t3 = 2 + doc_id % 2, 1 + doc_id % 2
    w3, h3 = 3 + doc_id % 2, 2 + doc_id % 3
    idx3 = [
        [(doc_id + x * 2 + y * 3) % 8 for x in range(w3)]
        for y in range(h3)
    ]
    interlace = doc_id % 2 == 1
    rows3 = _gif_interlace_rows(h3) if interlace else range(h3)
    f3 = [k for y in rows3 for k in idx3[y]]

    return (
        b"GIF89a"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x80 | 2, doc_id % 8, 0])  # 8-entry GCT, bg, aspect
        + gct
        + gce(1, None)
        + descriptor(0, 0, w, h, 0x00) + lzw_subblocks(f1)
        + gce(2 + doc_id % 2, None)
        + descriptor(l2, t2, w2, h2, 0x00) + lzw_subblocks(f2)
        + gce(0, 7)
        + descriptor(
            l3, t3, w3, h3, 0x80 | (0x40 if interlace else 0) | 2
        )
        + lct + lzw_subblocks(f3)
        + b"\x3b"
    )


def _parse_gif(data: bytes):
    """From-spec GIF decode -> (w, h, int64 HxWx3 RGB array): header
    + logical screen descriptor, global/local color table, extension
    blocks skipped by sub-block framing, EVERY frame decoded (LZW +
    optional interlace reorder + palette lookup) and COMPOSITED onto
    the logical-screen canvas with GIF89a §23 disposal semantics —
    method 0/1 leaves the frame in place, 2 restores its rectangle
    to the background color, 3 restores the canvas content from
    before the frame was drawn; a frame's disposal runs when the
    NEXT frame arrives, so the returned canvas is the animation as
    last displayed. Per-frame local color tables and transparency
    composite against the live canvas. Every structural defect
    raises ValueError."""
    import numpy as np

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(data) < 13:
        raise ValueError("truncated GIF header")
    w = int.from_bytes(data[6:8], "little")
    h = int.from_bytes(data[8:10], "little")
    if w == 0 or h == 0:
        raise ValueError("zero GIF canvas dimension")
    # the canvas is allocated from these header-declared dims, so
    # bound them BEFORE any allocation: a ~40-byte file declaring a
    # 65535x65535 screen must fail as a clean ValueError, not a
    # ~100 GB MemoryError. GIF LZW expands at most ~4096x (max
    # dictionary string length), so a canvas vastly larger than the
    # payload could ever fill is structurally bogus; the floor keeps
    # tiny legitimate files with large-ish canvases unaffected.
    if w * h > max(1 << 22, len(data) * 4096) or (
        w * h > MAX_DECODE_PIXELS
    ):
        raise ValueError("GIF canvas implausibly large for payload")
    packed, bg = data[10], data[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if len(data) < pos + 3 * n:
            raise ValueError("truncated global color table")
        gct = np.frombuffer(
            data[pos : pos + 3 * n], dtype="u1"
        ).reshape(n, 3)
        pos += 3 * n

    def skip_subblocks(p: int) -> int:
        while True:
            if p >= len(data):
                raise ValueError("truncated GIF sub-blocks")
            ln = data[p]
            p += 1
            if ln == 0:
                return p
            if p + ln > len(data):
                raise ValueError("truncated GIF sub-blocks")
            p += ln

    img = None
    t_idx = None  # transparent index from the pending GCE, if any
    disposal = 0  # disposal method from the pending GCE (GIF89a §23)
    pending = None  # the PREVIOUS frame's deferred disposal:
    # (method, top, left, ih, iw, saved) — applied when the next
    # frame arrives, never after the last one, so the final canvas
    # is the animation as last displayed
    while True:
        if pos >= len(data):
            raise ValueError("missing GIF trailer")
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label byte + sub-blocks
            if pos >= len(data):
                raise ValueError("truncated GIF extension")
            # a Graphic Control Extension's transparency flag/index
            # and disposal method apply to the NEXT image (GIF89a
            # §23) — capture them before the generic sub-block skip
            if (
                data[pos] == 0xF9
                and pos + 5 < len(data)
                and data[pos + 1] >= 4
            ):
                t_idx = data[pos + 5] if data[pos + 2] & 1 else None
                disposal = (data[pos + 2] >> 2) & 7
                if disposal > 3:
                    raise ValueError("reserved GIF disposal method")
            pos = skip_subblocks(pos + 1)
            continue
        if block != 0x2C:
            raise ValueError("unknown GIF block introducer")
        if len(data) < pos + 9:
            raise ValueError("truncated image descriptor")
        left = int.from_bytes(data[pos : pos + 2], "little")
        top = int.from_bytes(data[pos + 2 : pos + 4], "little")
        iw = int.from_bytes(data[pos + 4 : pos + 6], "little")
        ih = int.from_bytes(data[pos + 6 : pos + 8], "little")
        ipacked = data[pos + 8]
        pos += 9
        table = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 7)
            if len(data) < pos + 3 * n:
                raise ValueError("truncated local color table")
            table = np.frombuffer(
                data[pos : pos + 3 * n], dtype="u1"
            ).reshape(n, 3)
            pos += 3 * n
        if iw == 0 or ih == 0 or left + iw > w or top + ih > h:
            raise ValueError("image exceeds the logical screen")
        if table is None:
            raise ValueError("no color table for image")
        if pos >= len(data):
            raise ValueError("missing LZW minimum code size")
        m = data[pos]
        pos += 1
        lzw = bytearray()
        while True:
            if pos >= len(data):
                raise ValueError("truncated GIF sub-blocks")
            ln = data[pos]
            pos += 1
            if ln == 0:
                break
            if pos + ln > len(data):
                raise ValueError("truncated GIF sub-blocks")
            lzw += data[pos : pos + ln]
            pos += ln
        flat = np.frombuffer(
            _gif_lzw_decode(bytes(lzw), m, iw * ih), dtype="u1"
        )
        frame = np.empty((ih, iw), dtype="u1")
        if ipacked & 0x40:  # interlaced: scatter stored rows back
            order = _gif_interlace_rows(ih)
            frame[order, :] = flat.reshape(ih, iw)
        else:
            frame[:, :] = flat.reshape(ih, iw)
        tmask = None if t_idx is None else frame == t_idx
        opaque = frame if tmask is None else frame[~tmask]
        # transparent pixels are never looked up, so they are exempt
        # from the palette range check (encoders legally emit
        # transparent indices at/above the table size)
        if opaque.size and int(opaque.max()) >= len(table):
            raise ValueError("palette index out of range")
        if img is None:
            # compose in RGB space: the background resolves through
            # the GLOBAL table, the frame through ITS OWN (possibly
            # local) table — composing in index space would cross
            # the tables. The background byte is validated only when
            # background pixels are actually RENDERED (partial frame
            # or transparent pixels) — real encoders emit junk bg
            # bytes on full-canvas frames and reference decoders
            # accept them.
            bg_shows = (left, top, iw, ih) != (0, 0, w, h) or (
                tmask is not None and bool(tmask.any())
            )
            if gct is not None:
                if bg_shows and bg >= len(gct):
                    raise ValueError("background index out of range")
                bg_rgb = (
                    gct[bg].astype("i8") if bg_shows
                    else np.zeros(3, dtype="i8")
                )
                img = np.broadcast_to(bg_rgb, (h, w, 3)).copy()
            else:
                # no GCT: the background color is undefined, so the
                # first frame must cover the whole logical screen
                # with opaque pixels
                if bg_shows:
                    raise ValueError(
                        "partial first frame without a global color"
                        " table"
                    )
                img = np.zeros((h, w, 3), dtype="i8")
        elif pending is not None:
            # the previous frame's disposal runs between frames —
            # BEFORE this frame's transparency reads the canvas
            method, pt, pl, pih, piw, saved_prev = pending
            if method == 2:  # restore to background color
                if gct is None:
                    raise ValueError(
                        "disposal to background without a global"
                        " color table"
                    )
                if bg >= len(gct):
                    raise ValueError("background index out of range")
                img[pt : pt + pih, pl : pl + piw] = gct[bg].astype(
                    "i8"
                )
            else:  # method 3: restore the pre-frame canvas content
                img[pt : pt + pih, pl : pl + piw] = saved_prev
        pending = None
        saved = (
            img[top : top + ih, left : left + iw].copy()
            if disposal == 3 else None
        )
        rgb = table[np.where(tmask, 0, frame) if tmask is not None
                    else frame].astype("i8")
        if tmask is not None:
            rgb[tmask] = img[top : top + ih, left : left + iw][tmask]
        img[top : top + ih, left : left + iw] = rgb
        if disposal in (2, 3):
            pending = (disposal, top, left, ih, iw, saved)
        t_idx = None  # a GCE governs only the block that follows it
        disposal = 0
    if img is None:
        raise ValueError("GIF carries no image")
    return w, h, img


def decode_gif(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id") -> DataFrame:
    """REAL GIF decode (from-spec LZW, interlace, palette — no PIL)
    via Arrow-batched mapInPandas, emitting the same per-channel
    integer sums as :func:`decode_png` (shared
    :func:`_rgb_sum_decoder` body)."""
    return _rgb_sum_decoder(_parse_gif)(df, payload_col, id_col)


def _packbits_encode(raw: bytes) -> bytes:
    """Apple PackBits (TIFF 6.0 §9): literal runs (n, n+1 bytes) and
    repeat runs (257-n, one byte) — the synthesizer's compressor.
    Emits repeat runs for 3+ equal bytes, literals otherwise."""
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        run = 1
        while i + run < n and run < 128 and raw[i + run] == raw[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, raw[i]])
            i += run
            continue
        lit = i
        while (
            i < n
            and i - lit < 128
            and not (
                i + 2 < n and raw[i] == raw[i + 1] == raw[i + 2]
            )
        ):
            i += 1
        out += bytes([i - lit - 1]) + raw[lit:i]
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits decode to EXACTLY ``expected`` bytes (TIFF 6.0 §9:
    n 0..127 copies n+1 literals, n 129..255 repeats the next byte
    257-n times, 128 is a no-op). Any mismatch raises ValueError."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > len(data):
                raise ValueError("truncated PackBits literal run")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) != expected:
        raise ValueError("PackBits output length mismatch")
    return bytes(out)


def _tiff_lzw_encode(raw: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13) for the synthesizer: byte
    roots 0-255, Clear=256, EOI=257, MSB-first bit packing, initial
    width 9, and the spec's EARLY CHANGE — the width bumps when the
    decoder's next free slot reaches (1 << width) - 1, one code
    earlier than GIF. Same lesson as _gif_lzw_encode: the width
    schedule simulates the DECODER's slot counter (one entry per
    emitted code after the first), not the encoder's own table. A
    Clear is emitted before the table would overflow (spec: at code
    4094)."""
    clear, end = 256, 257
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1

    width = 9
    table: dict[tuple[int, int], int] = {}
    enc_next = end + 1
    dec_next = end + 1
    emitted = 0

    def emit_data(code: int) -> None:
        nonlocal emitted, dec_next, width
        emit(code, width)
        emitted += 1
        if emitted >= 2 and dec_next < 4095:
            dec_next += 1
            if dec_next == (1 << width) - 1 and width < 12:
                width += 1

    def reset() -> None:
        nonlocal table, enc_next, dec_next, width, emitted
        table = {}
        enc_next = end + 1
        dec_next = end + 1
        width = 9
        emitted = 0

    emit(clear, width)
    it = iter(raw)
    prev = next(it)
    for k in it:
        if (prev, k) in table:
            prev = table[(prev, k)]
            continue
        emit_data(prev)
        if enc_next >= 4093:  # spec: Clear before the table fills
            emit(clear, width)
            reset()
        else:
            table[(prev, k)] = enc_next
            enc_next += 1
        prev = k
    emit_data(prev)
    emit(end, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW decode to EXACTLY ``expected`` bytes:
    MSB-first codes, width 9-12 with the EARLY CHANGE at
    (1 << width) - 1, Clear resets, EOI terminates. Overshoot,
    undershoot, out-of-range codes, and bit exhaustion raise
    ValueError."""
    clear, end = 256, 257
    pos = nbits = acc = 0

    def read(width: int) -> int:
        nonlocal pos, nbits, acc
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        v = (acc >> nbits) & ((1 << width) - 1)
        acc &= (1 << nbits) - 1  # keep acc bounded: without this the
        # shifts above are O(stream) and the decode goes quadratic
        return v

    width = 9
    seqs: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    nxt = end + 1
    out = bytearray()
    prev: int | None = None
    while True:
        code = read(width)
        if code == clear:
            width = 9
            seqs = seqs[: end + 1]
            nxt = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= 256:
                raise ValueError("LZW stream must start with a root")
            out.extend(seqs[code])
        else:
            if code < nxt:
                entry = seqs[code]
            elif code == nxt:
                entry = seqs[prev] + seqs[prev][:1]
            else:
                raise ValueError("LZW code beyond dictionary")
            out.extend(entry)
            if nxt < 4095:
                seqs.append(seqs[prev] + entry[:1])
                nxt += 1
                if nxt == (1 << width) - 1 and width < 12:
                    width += 1
        if len(out) > expected:
            raise ValueError("LZW output exceeds strip size")
        prev = code
    if len(out) != expected:
        raise ValueError("LZW output short of strip size")
    return bytes(out)


def synth_tiff_bytes(doc_id: int) -> bytes:
    """Deterministic TIFF 6.0 for ``doc_id``: real header + IFD
    (ascending tags), 8-bit chunky RGB, TWO strips (RowsPerStrip =
    ceil(h/2), so strip assembly is exercised), compression cycling
    by doc_id % 3 (1 = none, 32773 = PackBits, 5 = LZW with the
    early-change width rule), and byte order alternating II/MM by
    doc_id % 2. Pixel (x, y) channel c = (doc_id*(3+c) + x*(7+2*c) +
    y*(11+c)) % 256 — the closed form the oracle restates."""
    import struct

    order = "<" if doc_id % 2 == 0 else ">"
    w = 5 + doc_id % 11
    h = 3 + doc_id % 6
    comp = (1, 32773, 5)[doc_id % 3]
    raw = bytearray()
    for y in range(h):
        for x in range(w):
            for c in range(3):
                raw.append(
                    (doc_id * (3 + c) + x * (7 + 2 * c) + y * (11 + c))
                    % 256
                )
    rows_per_strip = (h + 1) // 2
    predictor = 2 if comp == 5 else 1  # LZW docs use the libtiff
    # pairing: horizontal differencing before compression
    strips = []
    for s0 in range(0, h, rows_per_strip):
        part = bytes(
            raw[s0 * w * 3 : min(s0 + rows_per_strip, h) * w * 3]
        )
        if predictor == 2:
            import numpy as np

            a = np.frombuffer(part, dtype="u1").reshape(-1, w, 3)
            d = a.astype("i2")
            d[:, 1:, :] -= a[:, :-1, :].astype("i2")
            part = (d % 256).astype("u1").tobytes()
        if comp == 32773:
            part = _packbits_encode(part)
        elif comp == 5:
            part = _tiff_lzw_encode(part)
        strips.append(part)

    # layout: header(8) | bits-per-sample array(6) | strip offset
    # array(8) | strip bytecount array(8) | strip data | IFD
    bps_off = 8
    soff_off = bps_off + 6
    scnt_off = soff_off + 4 * len(strips)
    data_off = scnt_off + 4 * len(strips)
    offs = []
    pos = data_off
    for s in strips:
        offs.append(pos)
        pos += len(s)
    ifd_off = pos

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        if typ == 3 and count == 1:  # SHORT inline, left-justified
            return struct.pack(
                f"{order}HHI", tag, typ, count
            ) + struct.pack(f"{order}HH", value, 0)
        return struct.pack(f"{order}HHII", tag, typ, count, value)

    entries = [
        entry(256, 3, 1, w),  # ImageWidth
        entry(257, 3, 1, h),  # ImageLength
        entry(258, 3, 3, bps_off),  # BitsPerSample -> array
        entry(259, 3, 1, comp),  # Compression
        entry(262, 3, 1, 2),  # Photometric: RGB
        entry(273, 4, len(strips), soff_off),  # StripOffsets
        entry(277, 3, 1, 3),  # SamplesPerPixel
        entry(278, 3, 1, rows_per_strip),  # RowsPerStrip
        entry(279, 4, len(strips), scnt_off),  # StripByteCounts
    ]
    if predictor == 2:
        entries.append(entry(317, 3, 1, 2))  # Predictor: horizontal
    ifd = struct.pack(f"{order}H", len(entries)) + b"".join(entries)
    ifd += struct.pack(f"{order}I", 0)
    head = struct.pack(
        f"{order}2sHI",
        b"II" if order == "<" else b"MM",
        42,
        ifd_off,
    )
    body = (
        struct.pack(f"{order}HHH", 8, 8, 8)
        + b"".join(struct.pack(f"{order}I", o) for o in offs)
        + b"".join(struct.pack(f"{order}I", len(s)) for s in strips)
        + b"".join(strips)
    )
    return head + body + ifd


def _parse_tiff(data: bytes):
    """From-spec TIFF 6.0 decode -> (w, h, int64 HxWx3 RGB array):
    either byte order, first IFD, 8-bit grayscale (BlackIsZero,
    replicated to RGB) or chunky RGB, strip assembly, compressions
    1 (none), 32773 (PackBits), 5 (LZW with early change). Every
    structural defect raises ValueError."""
    import struct

    import numpy as np

    if data[:4] == b"II\x2a\x00":
        order = "<"
    elif data[:4] == b"MM\x00\x2a":
        order = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order header)")
    if len(data) < 8:
        raise ValueError("truncated TIFF header")
    (ifd_off,) = struct.unpack(f"{order}I", data[4:8])

    def u16(at: int) -> int:
        if at + 2 > len(data):
            raise ValueError("truncated TIFF structure")
        return struct.unpack(f"{order}H", data[at : at + 2])[0]

    def u32(at: int) -> int:
        if at + 4 > len(data):
            raise ValueError("truncated TIFF structure")
        return struct.unpack(f"{order}I", data[at : at + 4])[0]

    n_entries = u16(ifd_off)
    tags: dict[int, tuple[int, int, int]] = {}
    for i in range(n_entries):
        at = ifd_off + 2 + 12 * i
        tag, typ = u16(at), u16(at + 2)
        count = u32(at + 4)
        tags[tag] = (typ, count, at + 8)

    def values(tag: int, default=None) -> list[int] | None:
        if tag not in tags:
            return default
        typ, count, vat = tags[tag]
        if typ == 3:  # SHORT
            size, rd = 2, u16
        elif typ == 4:  # LONG
            size, rd = 4, u32
        else:
            raise ValueError(f"unsupported TIFF field type {typ}")
        base = vat if size * count <= 4 else u32(vat)
        return [rd(base + size * j) for j in range(count)]

    def one(tag: int, default=None) -> int | None:
        v = values(tag, None)
        if not v:  # absent tag OR a (corrupt) zero-count field
            return default
        return v[0]

    w = one(256)
    h = one(257)
    if not w or not h:
        raise ValueError("missing TIFF dimensions")
    comp = one(259, 1)
    photo = one(262)
    spp = one(277, 1)
    bps = values(258, [1])
    if photo not in (1, 2):
        raise ValueError(
            "only BlackIsZero grayscale and RGB TIFFs supported"
        )
    # spp must be exactly 1 (gray) or 3 (RGB): gray+alpha (spp=2),
    # RGB+alpha (spp=4) and the degenerate spp=0 are all rejected
    # here rather than surfacing as reshape errors downstream
    if spp not in (1, 3) or (photo == 2) != (spp == 3) or any(
        b != 8 for b in bps
    ) or len(bps) != spp:
        raise ValueError("unsupported TIFF sample layout")
    if comp not in (1, 32773, 5):
        raise ValueError(f"unsupported TIFF compression {comp}")
    # strip decodes are bounded by their EXPECTED sizes, which come
    # from these u32 dims — bound them against what the payload could
    # ever decompress to (PackBits expands at most 128x, TIFF LZW
    # ~2730x) BEFORE any strip work, the same guard the GIF canvas
    # has, so a 100-byte file declaring 4-gigapixel dims fails clean
    if w * h * spp > max(1 << 22, len(data) * 4096) or (
        w * h > MAX_DECODE_PIXELS
    ):
        raise ValueError("TIFF dimensions implausibly large for payload")
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    rows_per_strip = one(278, h)
    offs = values(273)
    cnts = values(279)
    if not offs or not cnts or len(offs) != len(cnts):
        raise ValueError("missing TIFF strip tables")
    n_strips = (h + rows_per_strip - 1) // rows_per_strip if (
        rows_per_strip
    ) else 0
    if rows_per_strip == 0 or len(offs) != n_strips:
        raise ValueError("strip count disagrees with RowsPerStrip")

    out = bytearray()
    for s, (off, cnt) in enumerate(zip(offs, cnts)):
        rows = min(rows_per_strip, h - s * rows_per_strip)
        expected = rows * w * spp
        if off + cnt > len(data):
            raise ValueError("strip beyond end of file")
        strip = data[off : off + cnt]
        if comp == 1:
            if len(strip) != expected:
                raise ValueError("uncompressed strip size mismatch")
            dec = strip
        elif comp == 32773:
            dec = _packbits_decode(strip, expected)
        else:
            dec = _tiff_lzw_decode(strip, expected)
        if predictor == 2:  # undo horizontal differencing (TIFF 6.0
            # §14): per row, per SAMPLE channel, cumulative sum mod 256
            a = np.frombuffer(dec, dtype="u1").reshape(rows, w, spp)
            dec = (
                np.cumsum(a, axis=1, dtype="u8") % 256
            ).astype("u1").tobytes()
        out += dec
    arr = np.frombuffer(bytes(out), dtype="u1").reshape(h, w, spp)
    if spp == 1:
        arr = np.repeat(arr, 3, axis=2)
    return w, h, arr.astype("i8")


def decode_tiff(df: DataFrame, payload_col: str = "payload",
                id_col: str = "doc_id") -> DataFrame:
    """REAL TIFF decode (from-spec IFD walk, strip assembly,
    none/PackBits/LZW compressions, both byte orders — no PIL) via
    Arrow-batched mapInPandas, emitting the same per-channel integer
    sums as :func:`decode_png` (shared :func:`_rgb_sum_decoder`
    body) — the scanned-document format of real corpora."""
    return _rgb_sum_decoder(_parse_tiff)(df, payload_col, id_col)


def synth_bmp_bytes(doc_id: int) -> bytes:
    """Deterministic Windows BMP for ``doc_id``: BITMAPFILEHEADER +
    BITMAPINFOHEADER (40), rows padded to 4-byte boundaries,
    BOTTOM-UP storage (the default) except doc_id % 4 >= 2 which
    writes the top-down negative-height variant. Even doc_ids are
    24-bit BGR truecolor; odd doc_ids are 8-bit paletted with a
    NON-power-of-two palette (16 + doc_id % 17 entries via
    biClrUsed) of BGRA quads. Width 4 + doc_id % 9 forces non-zero
    row padding in most draws. Pixel formulas are the closed form
    the oracle restates."""
    import struct

    w = 4 + doc_id % 9
    h = 3 + doc_id % 5
    top_down = doc_id % 4 >= 2
    bpp = 24 if doc_id % 2 == 0 else 8
    nc = 16 + doc_id % 17 if bpp == 8 else 0
    stride = ((w * bpp + 31) // 32) * 4

    rows = []
    for y in range(h):
        row = bytearray()
        for x in range(w):
            if bpp == 24:
                r = (doc_id * 7 + x * 5 + y * 3) % 256
                g = (doc_id * 11 + x * 3 + y * 7) % 256
                b = (doc_id * 13 + x * 9 + y * 5) % 256
                row += bytes([b, g, r])  # BGR on disk
            else:
                row.append((doc_id + x * 3 + y * 5) % nc)
        row += bytes(stride - len(row))
        rows.append(bytes(row))
    if not top_down:
        rows.reverse()  # bottom-up: last scanline first
    pix = b"".join(rows)

    pal = b""
    if bpp == 8:
        pal = b"".join(
            bytes([
                (doc_id * 7 + i * 13) % 256,  # blue
                (doc_id * 3 + i * 29) % 256,  # green
                (doc_id * 5 + i * 17) % 256,  # red
                0,
            ])
            for i in range(nc)
        )
    data_off = 14 + 40 + len(pal)
    info = struct.pack(
        "<IiiHHIIiiII",
        40, w, -h if top_down else h, 1, bpp, 0,
        len(pix), 2835, 2835, nc, 0,
    )
    head = struct.pack(
        "<2sIHHI", b"BM", data_off + len(pix), 0, 0, data_off
    )
    return head + info + pal + pix


def _parse_bmp(data: bytes):
    """From-spec Windows BMP decode -> (w, h, int64 HxWx3 RGB):
    BITMAPINFOHEADER and its V4/V5 extensions (the extra fields are
    skipped — the first 40 bytes align), BI_RGB only, 8-bit paletted
    (BGRA quads, biClrUsed honored, indices range-checked) and
    24-bit BGR, 4-byte row padding, bottom-up or negative-height
    top-down. Every structural defect raises ValueError."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP (missing BM signature)")
    if len(data) < 54:
        raise ValueError("truncated BMP header")
    (data_off,) = struct.unpack("<I", data[10:14])
    (hdr,) = struct.unpack("<I", data[14:18])
    if hdr not in (40, 52, 56, 108, 124):
        raise ValueError(f"unsupported BMP header size {hdr}")
    w, h_signed = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    (comp,) = struct.unpack("<I", data[30:34])
    (clr_used,) = struct.unpack("<I", data[46:50])
    if w <= 0 or h_signed == 0:
        raise ValueError("bad BMP dimensions")
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    if planes != 1 or comp != 0:
        raise ValueError("only uncompressed BI_RGB BMPs supported")
    if bpp not in (8, 24):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    stride = ((w * bpp + 31) // 32) * 4
    if data_off < 14 + hdr:  # pixel data can't start inside headers
        raise ValueError("BMP pixel offset inside the header")
    if data_off + stride * h > len(data):
        raise ValueError("truncated BMP pixel data")

    pal = None
    if bpp == 8:
        nc = clr_used or 256
        pal_at = 14 + hdr  # (the palette-bounds check below also
        # rejects a pixel offset that lands inside the palette)
        if pal_at + 4 * nc > min(data_off, len(data)):
            raise ValueError("truncated BMP palette")
        quads = np.frombuffer(
            data[pal_at : pal_at + 4 * nc], dtype="u1"
        ).reshape(nc, 4)
        pal = quads[:, [2, 1, 0]]  # BGRA -> RGB

    img = np.zeros((h, w, 3), dtype="i8")
    for row_i in range(h):
        y = row_i if top_down else h - 1 - row_i
        at = data_off + row_i * stride
        if bpp == 24:
            px = np.frombuffer(
                data[at : at + w * 3], dtype="u1"
            ).reshape(w, 3)
            img[y] = px[:, [2, 1, 0]]  # BGR -> RGB
        else:
            idx = np.frombuffer(data[at : at + w], dtype="u1")
            if int(idx.max()) >= len(pal):
                raise ValueError("palette index out of range")
            img[y] = pal[idx]
    return w, h, img


def decode_bmp(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id") -> DataFrame:
    """REAL BMP decode (from-spec header/palette/row-padding walk, no
    PIL) via Arrow-batched mapInPandas, emitting the same per-channel
    integer sums as :func:`decode_png` (shared
    :func:`_rgb_sum_decoder` body)."""
    return _rgb_sum_decoder(_parse_bmp)(df, payload_col, id_col)


#: JPEG emits block-structure stats (see decode_jpeg for why weighted).
JPEG_SCHEMA = (
    "doc_id long, width int, height int, sum_luma long, wsum_luma long, "
    "n_blocks int"
)


def _zigzag_order() -> list[int]:
    """The spec's 8x8 zigzag scan (ITU T.81 Figure 5), GENERATED by the
    diagonal walk rather than typed as a 64-literal table — no typo
    surface. Returns raster index for each zigzag position."""
    order = []
    r = c = 0
    for _ in range(64):
        order.append(r * 8 + c)
        if (r + c) % 2 == 0:  # heading up-right
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:  # heading down-left
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    return order


def _jpeg_tables():
    """Canonical Huffman tables the synthesizer embeds in DHT. These
    are legal-but-simple (like an optimizing encoder's custom tables,
    which the spec explicitly allows): DC = twelve 4-bit codes for
    categories 0-11; AC = 162 8-bit codes covering EOB, every
    (run 0-15, size 1-10) symbol, and ZRL. The DECODER never assumes
    them — it builds whatever tables the file's DHT declares."""
    dc_bits = [0] * 16
    dc_bits[3] = 12  # twelve codes of length 4
    dc_vals = list(range(12))
    ac_bits = [0] * 16
    ac_bits[7] = 162  # all codes length 8 (Kraft: 162/256 < 1)
    ac_vals = [0x00] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ] + [0xF0]
    return (dc_bits, dc_vals), (ac_bits, ac_vals)


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical code assignment (T.81 Annex C): symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for li, n in enumerate(bits, start=1):
        for _ in range(n):
            codes[vals[k]] = (code, li)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    """MSB-first bit writer with the entropy segment's 0xFF byte
    stuffing; flush pads the final byte with 1-bits per spec."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        return bytes(self.out)

    def restart(self, n: int) -> None:
        """Emit an RSTn marker mid-entropy (T.81 E.1.4): pad the
        current byte with 1-bits (stuffed if the pad byte lands on
        0xFF), then the marker bytes — markers themselves are never
        stuffed."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


#: luma quant table (zigzag order): DC step 8 divides the constant
#: block's DCT DC term (8 * (v - 128)) EXACTLY, so block-constant
#: content survives the full lossy chain bit-exactly and the oracle is
#: the pixel formula itself; AC steps are a nominal 16.
_JPEG_QZZ = [8] + [16] * 63


def synth_jpeg_bytes(doc_id: int) -> bytes:
    """Deterministic BASELINE JFIF JPEG for ``doc_id``, synthesized
    from spec (T.81): SOI/APP0/DQT/SOF0/DHT/DHT/SOS/EOI markers, real
    canonical Huffman entropy coding with DC difference coding, EOB
    per block, and 0xFF byte stuffing. Grayscale (one 8-bit
    component, no subsampling), (1 + doc_id % 4) x (1 + doc_id % 3)
    blocks of 8x8, each block CONSTANT at
    v = (doc_id*7 + bx*31 + by*17) % 256 — constant blocks have a
    DC-only DCT, and the DC quant step of 8 divides 8*(v-128)
    exactly, so the decoded image equals the formula bit-for-bit
    while the bitstream still exercises the entire entropy layer."""
    import struct

    wb = 1 + doc_id % 4
    hb = 1 + doc_id % 3
    (dc_bits, dc_vals), (ac_bits, ac_vals) = _jpeg_tables()
    dc_codes = _huff_codes(dc_bits, dc_vals)
    ac_codes = _huff_codes(ac_bits, ac_vals)

    bw = _BitWriter()
    pred = 0
    for by in range(hb):
        for bx in range(wb):
            v = (doc_id * 7 + bx * 31 + by * 17) % 256
            qdc = (8 * (v - 128)) // _JPEG_QZZ[0]  # exact: step 8
            diff = qdc - pred
            pred = qdc
            size = abs(diff).bit_length()
            code, ln = dc_codes[size]
            bw.write(code, ln)
            if size:
                bits = diff if diff >= 0 else diff + (1 << size) - 1
                bw.write(bits, size)
            code, ln = ac_codes[0x00]  # EOB: all AC zero
            bw.write(code, ln)
    entropy = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    w, h = wb * 8, hb * 8
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = bytes([0x00]) + bytes(_JPEG_QZZ)
    sof0 = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
    dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + seg(0xFFE0, app0)
        + seg(0xFFDB, dqt)
        + seg(0xFFC0, sof0)
        + seg(0xFFC4, dht_dc)
        + seg(0xFFC4, dht_ac)
        + seg(0xFFDA, sos)
        + entropy
        + b"\xff\xd9"
    )


def synth_jpeg_rst_bytes(doc_id: int) -> bytes:
    """Deterministic grayscale baseline JFIF JPEG WITH RESTART
    INTERVALS for ``doc_id`` — the DRI/RSTn layout virtually every
    camera/webcam JPEG carries (T.81 B.2.4.4 + E.1.4): a DRI segment
    declares Ri = 1 + doc_id % 2 MCUs per interval, the entropy
    stream is split at every interval boundary by a byte-aligned
    RSTn marker cycling RST0..RST7, and the DC predictor RESETS to
    zero at each marker, so the encoder codes the first block of
    every interval as an absolute value. (3 + doc_id % 3) x
    (2 + doc_id % 2) blocks with Ri = 1 + doc_id % 2 — up to 9
    restarts on a 10-block grid, so the modulo-8 marker sequence
    wraps past RST7. Content is block-constant at
    v = (doc_id*9 + bx*37 + by*21) % 256 with the exactly-dividing
    DC step, so the decode is the closed form bit-for-bit; a decoder
    that fails to reset predictors (or miscounts the interval) is
    wrong from the first post-restart block onward."""
    import struct

    wb = 3 + doc_id % 3
    hb = 2 + doc_id % 2
    ri = 1 + doc_id % 2
    (dc_bits, dc_vals), (ac_bits, ac_vals) = _jpeg_tables()
    dc_codes = _huff_codes(dc_bits, dc_vals)
    ac_codes = _huff_codes(ac_bits, ac_vals)

    bw = _BitWriter()
    pred = 0
    mcu = 0
    rst = 0
    for by in range(hb):
        for bx in range(wb):
            if ri and mcu and mcu % ri == 0:
                bw.restart(rst)
                rst = (rst + 1) & 7
                pred = 0  # T.81 E.2.4: predictors reset at RSTn
            mcu += 1
            v = (doc_id * 9 + bx * 37 + by * 21) % 256
            qdc = (8 * (v - 128)) // _JPEG_QZZ[0]  # exact: step 8
            diff = qdc - pred
            pred = qdc
            size = abs(diff).bit_length()
            code, ln = dc_codes[size]
            bw.write(code, ln)
            if size:
                bits = diff if diff >= 0 else diff + (1 << size) - 1
                bw.write(bits, size)
            code, ln = ac_codes[0x00]  # EOB: all AC zero
            bw.write(code, ln)
    entropy = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    w, h = wb * 8, hb * 8
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = bytes([0x00]) + bytes(_JPEG_QZZ)
    sof0 = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
    dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + seg(0xFFE0, app0)
        + seg(0xFFDB, dqt)
        + seg(0xFFC0, sof0)
        + seg(0xFFC4, dht_dc)
        + seg(0xFFC4, dht_ac)
        + seg(0xFFDD, struct.pack(">H", ri))
        + seg(0xFFDA, sos)
        + entropy
        + b"\xff\xd9"
    )


def _jpeg_prog_tables():
    """Huffman tables for the PROGRESSIVE synthesizer: same shape as
    :func:`_jpeg_tables` but the AC table additionally carries the
    EOBn symbols (run<<4 | 0 for run 1-14) that progressive AC scans
    use to code EOB RUNS spanning blocks (T.81 G.1.2.2) — baseline
    only ever emits EOB0. All AC codes length 8 (Kraft: 176/256)."""
    dc_bits = [0] * 16
    dc_bits[3] = 12
    dc_vals = list(range(12))
    ac_bits = [0] * 16
    ac_bits[7] = 176
    ac_vals = [r << 4 for r in range(15)] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ] + [0xF0]
    return (dc_bits, dc_vals), (ac_bits, ac_vals)


def _emit_ac_first(bw, ac_codes, bands, al):
    """Encode ONE progressive AC-first scan (T.81 G.1.2.2) over
    ``bands`` (per block: the band's quantized coefficients, NOT yet
    point-transformed). Accumulates EOB runs across blocks — the
    encoder-side mirror of the decoder's EOBRUN handling."""
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        while eobrun:
            run = min(eobrun, 32767)
            r = run.bit_length() - 1
            code, ln = ac_codes[r << 4]
            bw.write(code, ln)
            if r:
                bw.write(run - (1 << r), r)
            eobrun -= run

    for band in bands:
        pt = [
            (abs(t) >> al) * (1 if t >= 0 else -1) for t in band
        ]  # point transform: magnitude shift, sign kept (T.81 A.4)
        last = -1
        for i, t in enumerate(pt):
            if t:
                last = i
        if last < 0:
            eobrun += 1
            continue
        flush_eob()
        r = 0
        for i, t in enumerate(pt[: last + 1]):
            if t == 0:
                r += 1
                continue
            while r > 15:
                code, ln = ac_codes[0xF0]
                bw.write(code, ln)
                r -= 16
            s = abs(t).bit_length()
            code, ln = ac_codes[(r << 4) | s]
            bw.write(code, ln)
            bw.write(t if t >= 0 else t + (1 << s) - 1, s)
            r = 0
        if last < len(band) - 1:
            eobrun += 1
    flush_eob()


def _emit_ac_refine(bw, ac_codes, bands, al):
    """Encode ONE progressive AC-refinement scan (T.81 G.1.2.3,
    mirroring the reference encoder algorithm): history-nonzero
    coefficients emit one buffered correction bit each; coefficients
    newly significant at this precision emit run/size symbols with
    size 1 plus a raw sign bit; trailing zeros and their buffered
    correction bits fold into a cross-block EOB run whose bits are
    emitted right after the EOBn symbol."""
    eobrun = 0
    pending: list[int] = []

    def flush_eob() -> None:
        nonlocal eobrun, pending
        while eobrun:
            run = min(eobrun, 32767)
            r = run.bit_length() - 1
            code, ln = ac_codes[r << 4]
            bw.write(code, ln)
            if r:
                bw.write(run - (1 << r), r)
            for b in pending:
                bw.write(b, 1)
            pending = []
            eobrun -= run

    for band in bands:
        absv = [abs(t) >> al for t in band]
        eob = -1  # index of the LAST newly-significant coefficient
        for i, t in enumerate(absv):
            if t == 1:
                eob = i
        r = 0
        br_bits: list[int] = []
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and i <= eob:
                flush_eob()
                code, ln = ac_codes[0xF0]
                bw.write(code, ln)
                r -= 16
                for b in br_bits:
                    bw.write(b, 1)
                br_bits = []
            if t > 1:  # already nonzero in an earlier scan
                br_bits.append(t & 1)
                continue
            flush_eob()
            code, ln = ac_codes[(r << 4) | 1]
            bw.write(code, ln)
            bw.write(0 if band[i] < 0 else 1, 1)
            for b in br_bits:
                bw.write(b, 1)
            br_bits = []
            r = 0
        if r > 0 or br_bits:
            eobrun += 1
            pending.extend(br_bits)
    flush_eob()


#: zigzag index of natural position (4,4) — the one AC coefficient the
#: progressive synthesizer sets. basis[4,x]*basis[4,y] = ±1/8 exactly,
#: so a dequantized value divisible by 8 yields INTEGER pixel deltas
#: (no rounding, no clamp) and the oracle stays closed-form.
_JPEG_PROG_ACK = _zigzag_order().index(36)

#: the ±1 sign pattern of cos((2x+1)·4π/16), x = 0..7
_JPEG_PROG_SIGNS = (1, -1, -1, 1, 1, -1, -1, 1)


def synth_jpeg_progressive_bytes(doc_id: int) -> bytes:
    """Deterministic PROGRESSIVE (SOF2) grayscale JFIF JPEG for
    ``doc_id`` — spectral selection + successive approximation per
    T.81 G.2, the encoding most web-scraped JPEGs use. Five scans:

    1. DC first       (Ss=0 Se=0  Ah=0 Al=1): diff-coded (v-128)>>1
    2. AC first 1-35  (Ah=0 Al=1): band is ALL ZERO -> one EOB RUN
       covering every block (exercises multi-block EOBn + ext bits)
    3. AC first 36-63 (Ah=0 Al=1): the single coefficient at zigzag
       39 (natural (4,4)) coded at half precision — quantized values
       a in {-2..2} become {-1, 0, 1}, so |a|=1 blocks stay INVISIBLE
       until the refinement scan
    4. DC refine      (Ah=1 Al=0): one raw bit (v-128)&1 per block
    5. AC refine 36-63(Ah=1 Al=0): correction bits for |a|=2 blocks,
       newly-significant insertions for |a|=1 blocks, EOB runs
       carrying buffered correction bits across blocks

    Content: (2 + doc_id%3) x (1 + doc_id%2) blocks, block-constant
    v = (doc_id*13 + bx*41 + by*27) % 224 + 16 plus one AC term at
    (4,4) with quantized a = (doc_id + bx*3 + by*5) % 5 - 2 and quant
    step 16: pixel(x,y) = v + s(x)s(y)·2a with s the ±1 pattern of
    cos((2x+1)π/4) — exact integers in [12, 243], so the full decode
    equals the closed form bit-for-bit, while scans 1+3 ALONE decode
    to provably different pixels (the refinement-matters hand vector
    in tests)."""
    import struct

    wb = 2 + doc_id % 3
    hb = 1 + doc_id % 2
    (dc_bits, dc_vals), (ac_bits, ac_vals) = _jpeg_prog_tables()
    dc_codes = _huff_codes(dc_bits, dc_vals)
    ac_codes = _huff_codes(ac_bits, ac_vals)
    ack = _JPEG_PROG_ACK

    blocks = []  # full 64-entry quantized zigzag coef vectors
    for by in range(hb):
        for bx in range(wb):
            v = (doc_id * 13 + bx * 41 + by * 27) % 224 + 16
            a = (doc_id + bx * 3 + by * 5) % 5 - 2
            coef = [0] * 64
            coef[0] = v - 128  # DC quant step 8 divides 8(v-128)
            coef[ack] = a
            blocks.append(coef)

    # scan 1: DC first, Al=1 — codes (v-128)>>1 as differences
    bw = _BitWriter()
    pred = 0
    for coef in blocks:
        t = coef[0] >> 1
        diff = t - pred
        pred = t
        size = abs(diff).bit_length()
        code, ln = dc_codes[size]
        bw.write(code, ln)
        if size:
            bw.write(diff if diff >= 0 else diff + (1 << size) - 1,
                     size)
    scan1 = bw.flush()

    # scan 2: AC first band 1..35 at Al=1 — all zero, pure EOB run
    bw = _BitWriter()
    _emit_ac_first(bw, ac_codes, [c[1:36] for c in blocks], 1)
    scan2 = bw.flush()

    # scan 3: AC first band 36..63 at Al=1
    bw = _BitWriter()
    _emit_ac_first(bw, ac_codes, [c[36:64] for c in blocks], 1)
    scan3 = bw.flush()

    # scan 4: DC refinement — one raw bit per block, no Huffman
    bw = _BitWriter()
    for coef in blocks:
        bw.write(coef[0] & 1, 1)
    scan4 = bw.flush()

    # scan 5: AC refinement band 36..63 at Al=0
    bw = _BitWriter()
    _emit_ac_refine(bw, ac_codes, [c[36:64] for c in blocks], 0)
    scan5 = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return seg(0xFFDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    w, h = wb * 8, hb * 8
    app0 = (b"JFIF\x00" + bytes([1, 1, 0])
            + struct.pack(">HH", 1, 1) + b"\x00\x00")
    dqt = bytes([0x00]) + bytes(_JPEG_QZZ)
    sof2 = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
    dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    return (
        b"\xff\xd8"
        + seg(0xFFE0, app0)
        + seg(0xFFDB, dqt)
        + seg(0xFFC2, sof2)
        + seg(0xFFC4, dht_dc)
        + seg(0xFFC4, dht_ac)
        + sos(0, 0, 0, 1) + scan1
        + sos(1, 35, 0, 1) + scan2
        + sos(36, 63, 0, 1) + scan3
        + sos(0, 0, 1, 0) + scan4
        + sos(36, 63, 1, 0) + scan5
        + b"\xff\xd9"
    )


def synth_jpeg_color_bytes(doc_id: int) -> bytes:
    """Deterministic 4:2:0 COLOR baseline JFIF JPEG for ``doc_id``,
    from spec: three components (Y sampling 2x2, Cb/Cr 1x1 — the
    ubiquitous chroma-subsampled layout), two quant tables, MCU
    interleaving (4 Y blocks + Cb + Cr per 16x16 macroblock) with
    per-component DC difference coding. (1 + doc_id % 3) x
    (1 + doc_id % 2) macroblocks, each CONSTANT per plane at
    y = (doc_id*5 + mx*19 + my*23) % 256,
    cb = (doc_id*3 + mx*13 + my*29) % 256,
    cr = (doc_id*11 + mx*7 + my*31) % 256 — DC-only blocks with an
    exactly-dividing DC quant step, so every decoded plane equals its
    formula bit-for-bit while the stream exercises the interleaved
    entropy layer and per-component predictors."""
    import struct

    mbw = 1 + doc_id % 3
    mbh = 1 + doc_id % 2
    (dc_bits, dc_vals), (ac_bits, ac_vals) = _jpeg_tables()
    dc_codes = _huff_codes(dc_bits, dc_vals)
    ac_codes = _huff_codes(ac_bits, ac_vals)

    bw = _BitWriter()
    preds = {1: 0, 2: 0, 3: 0}

    def put_block(cid: int, v: int) -> None:
        qdc = (8 * (v - 128)) // _JPEG_QZZ[0]
        diff = qdc - preds[cid]
        preds[cid] = qdc
        size = abs(diff).bit_length()
        code, ln = dc_codes[size]
        bw.write(code, ln)
        if size:
            bits = diff if diff >= 0 else diff + (1 << size) - 1
            bw.write(bits, size)
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)

    for my in range(mbh):
        for mx in range(mbw):
            yv = (doc_id * 5 + mx * 19 + my * 23) % 256
            for _ in range(4):  # 2x2 luma blocks, all constant yv
                put_block(1, yv)
            put_block(2, (doc_id * 3 + mx * 13 + my * 29) % 256)
            put_block(3, (doc_id * 11 + mx * 7 + my * 31) % 256)
    entropy = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    w, h = mbw * 16, mbh * 16
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = (
        bytes([0x00]) + bytes(_JPEG_QZZ)
        + bytes([0x01]) + bytes(_JPEG_QZZ)
    )
    sof0 = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht_dc = bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
    dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + seg(0xFFE0, app0)
        + seg(0xFFDB, dqt)
        + seg(0xFFC0, sof0)
        + seg(0xFFC4, dht_dc)
        + seg(0xFFC4, dht_ac)
        + seg(0xFFDA, sos)
        + entropy
        + b"\xff\xd9"
    )


def synth_jpeg_422_bytes(doc_id: int) -> bytes:
    """Deterministic 4:2:2 COLOR baseline JFIF JPEG for ``doc_id``:
    Y at 2x1 sampling with Cb/Cr 1x1 — the horizontally-subsampled
    layout broadcast/video-derived stills carry, and the decoder's
    previously-unexercised asymmetric (hs != vs) MCU walk. MCUs are
    16x8 px (2 Y blocks + Cb + Cr); (1 + doc_id % 3) x
    (1 + doc_id % 2) MCUs, each CONSTANT per plane at
    y = (doc_id*13 + mx*17 + my*19) % 256,
    cb = (doc_id*7 + mx*23 + my*11) % 256,
    cr = (doc_id*17 + mx*29 + my*13) % 256 — DC-only blocks with the
    exactly-dividing DC step, so every decoded plane equals its
    closed form while the stream exercises the 2x1 interleave."""
    import struct

    mbw = 1 + doc_id % 3
    mbh = 1 + doc_id % 2
    (dc_bits, dc_vals), (ac_bits, ac_vals) = _jpeg_tables()
    dc_codes = _huff_codes(dc_bits, dc_vals)
    ac_codes = _huff_codes(ac_bits, ac_vals)

    bw = _BitWriter()
    preds = {1: 0, 2: 0, 3: 0}

    def put_block(cid: int, v: int) -> None:
        qdc = (8 * (v - 128)) // _JPEG_QZZ[0]
        diff = qdc - preds[cid]
        preds[cid] = qdc
        size = abs(diff).bit_length()
        code, ln = dc_codes[size]
        bw.write(code, ln)
        if size:
            bits = diff if diff >= 0 else diff + (1 << size) - 1
            bw.write(bits, size)
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)

    for my in range(mbh):
        for mx in range(mbw):
            yv = (doc_id * 13 + mx * 17 + my * 19) % 256
            for _ in range(2):  # 2x1 luma blocks, both constant yv
                put_block(1, yv)
            put_block(2, (doc_id * 7 + mx * 23 + my * 11) % 256)
            put_block(3, (doc_id * 17 + mx * 29 + my * 13) % 256)
    entropy = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    w, h = mbw * 16, mbh * 8
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = (
        bytes([0x00]) + bytes(_JPEG_QZZ)
        + bytes([0x01]) + bytes(_JPEG_QZZ)
    )
    sof0 = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x21, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht_dc = bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
    dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + seg(0xFFE0, app0)
        + seg(0xFFDB, dqt)
        + seg(0xFFC0, sof0)
        + seg(0xFFC4, dht_dc)
        + seg(0xFFC4, dht_ac)
        + seg(0xFFDA, sos)
        + entropy
        + b"\xff\xd9"
    )


class _BitReader:
    """MSB-first reader over the entropy segment with 0xFF00
    destuffing; raises on a bare marker inside entropy data."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise ValueError("marker inside entropy segment")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self, n: int) -> None:
        """Consume the expected RSTn marker (T.81 E.2.4): discard the
        pad bits of the current byte (byte-align), then require the
        two marker bytes 0xFF 0xD0+n in modulo-8 sequence."""
        self.nbits = 0  # byte-align: drop the encoder's 1-bit padding
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (n & 7)
        ):
            raise ValueError(
                f"expected RST{n & 7} marker at restart boundary"
            )
        self.pos += 2


def _jpeg_decode_sym(br: _BitReader, table) -> int:
    """Decode one Huffman symbol (shared by the baseline and
    progressive entropy decoders)."""
    code, ln = 0, 0
    while ln <= 16:
        code = (code << 1) | br.bit()
        ln += 1
        if (code, ln) in table:
            return table[(code, ln)]
    raise ValueError("invalid Huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    """T.81 F.12 EXTEND: map an s-bit magnitude field to its signed
    value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _jpeg_progressive_scan(data, pos, scan, ss, se, ah, al, ri, st):
    """Decode ONE progressive scan (T.81 G.2) into ``st['coefs']``.

    ``st`` is the cross-scan decoder state: frame geometry, the
    Huffman tables as parsed so far, per-component DC predictors, the
    set of components whose DC-first scan has run, and the
    zigzag-space coefficient store. Returns the byte position just
    past this scan's entropy segment (the next marker's 0xFF).

    Scan kinds (G.1.1.1.1):
    - DC first (Ss=Se=0, Ah=0): Huffman difference coding exactly as
      baseline, the reconstructed value stored ``<< Al`` (the point
      transform is an arithmetic shift, T.81 A.4).
    - DC refinement (Ah>0): ONE raw bit per data unit, OR-ed in at
      weight ``1 << Al`` — no Huffman table involved.
    - AC first (Ss>0, Ah=0): run/size coding per G.1.2.2 where an
      EOB symbol starts an EOB RUN of ``(1 << r) + ext`` blocks that
      spans data units; decoded values stored ``<< Al``.
    - AC refinement (Ah>0): the G.1.2.3 correction procedure —
      history-nonzero coefficients consume one correction bit each
      (adding ``1 << Al`` toward larger magnitude when set),
      newly-significant coefficients arrive as run/size symbols with
      size 1 and a raw sign bit, and EOB runs carry the correction
      bits of the blocks they span.

    DC scans may interleave components over the MCU grid; AC scans
    are single-component over the component's own block grid
    (G.1.1.1). Restart markers byte-align, verify the modulo-8 RSTn
    sequence, and reset BOTH the DC predictors and the EOB run.
    """
    frame, huff = st["frame"], st["huff"]
    coefs, preds = st["coefs"], st["preds"]
    for cid, _td, _ta in scan:
        if cid not in frame:
            raise ValueError("scan component not in frame")
    if len({cid for cid, _, _ in scan}) != len(scan):
        raise ValueError("duplicate scan component")
    br = _BitReader(data, pos)
    eobrun = 0
    rst = [0, 0]  # [units decoded since last restart, next RSTn]

    def maybe_restart() -> None:
        nonlocal eobrun
        if ri and rst[0] == ri:
            br.restart(rst[1])
            rst[1] = (rst[1] + 1) & 7
            rst[0] = 0
            eobrun = 0
            for c in preds:
                preds[c] = 0
        rst[0] += 1

    if ss == 0:  # DC scan (possibly interleaved)
        if se != 0:
            raise ValueError("DC scan must have Se = 0")
        if ah == 0:
            for cid, td, _ta in scan:
                if (0, td) not in huff:
                    raise ValueError("missing Huffman table")
                preds[cid] = 0  # predictors reset at scan start

        def dc_unit(cid: int, td: int, by: int, bx: int) -> None:
            blk = coefs[cid][by, bx]
            if ah == 0:
                s = _jpeg_decode_sym(br, huff[(0, td)])
                if s > 15:
                    raise ValueError("bad DC coefficient category")
                preds[cid] += _jpeg_extend(br.bits(s), s)
                blk[0] = preds[cid] << al
            elif br.bit():
                blk[0] |= 1 << al

        if len(scan) == 1:
            cid, td, _ta = scan[0]
            by_n, bx_n = st["cgrid"][cid]
            for by in range(by_n):
                for bx in range(bx_n):
                    maybe_restart()
                    dc_unit(cid, td, by, bx)
        else:
            for my in range(st["mcus_y"]):
                for mx in range(st["mcus_x"]):
                    maybe_restart()
                    for cid, td, _ta in scan:
                        hs, vs, _ = frame[cid]
                        for v in range(vs):
                            for hh in range(hs):
                                dc_unit(cid, td, my * vs + v,
                                        mx * hs + hh)
        if ah == 0:
            st["dc_done"].update(cid for cid, _, _ in scan)
        return br.pos

    # AC scan: single-component, non-interleaved (T.81 G.1.1.1)
    if len(scan) != 1:
        raise ValueError("progressive AC scan must be single-component")
    if se > 63 or ss > se:
        raise ValueError("bad spectral selection bounds")
    cid, _td, ta = scan[0]
    if cid not in st["dc_done"]:
        raise ValueError("AC scan before the component's DC scan")
    if (1, ta) not in huff:
        raise ValueError("missing Huffman table")
    ac_tab = huff[(1, ta)]
    by_n, bx_n = st["cgrid"][cid]
    p1, m1 = 1 << al, -1 << al
    for by in range(by_n):
        for bx in range(bx_n):
            maybe_restart()
            blk = coefs[cid][by, bx]
            if ah == 0:  # AC first (G.1.2.2)
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _jpeg_decode_sym(br, ac_tab)
                    r, sz = rs >> 4, rs & 15
                    if sz == 0:
                        if r < 15:  # EOBn: run of (1<<r)+ext blocks
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("AC run past band end")
                    blk[k] = _jpeg_extend(br.bits(sz), sz) << al
                    k += 1
                continue
            # AC refinement (G.1.2.3): correction bits + insertions
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = _jpeg_decode_sym(br, ac_tab)
                    r, sz = rs >> 4, rs & 15
                    val = 0
                    if sz == 0:
                        if r < 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += br.bits(r)
                            break
                        # ZRL: skip 16 zero-history positions below
                    else:
                        if sz != 1:
                            raise ValueError(
                                "bad AC refinement coefficient size"
                            )
                        val = p1 if br.bit() else m1
                    while k <= se:
                        if blk[k] != 0:
                            if br.bit() and not (blk[k] & p1):
                                blk[k] += p1 if blk[k] >= 0 else m1
                        else:
                            r -= 1
                            if r < 0:
                                break
                        k += 1
                    if val:
                        if k > se:
                            raise ValueError(
                                "refinement run past band end"
                            )
                        blk[k] = val
                    k += 1
            if eobrun:
                # end-of-band: the rest of THIS block still carries
                # correction bits for its history-nonzero positions
                while k <= se:
                    if blk[k] != 0 and br.bit() and not (blk[k] & p1):
                        blk[k] += p1 if blk[k] >= 0 else m1
                    k += 1
                eobrun -= 1
    return br.pos


def _jpeg_decode(data: bytes):
    """From-spec JPEG decode core -> (w, h, comps) where
    comps is a list of (component_id, Hs, Vs, plane) with each plane
    an int64 array at the component's NATURAL (subsampled)
    resolution. Supports 1- or 3-component BASELINE (SOF0) frames and
    PROGRESSIVE (SOF2) frames — spectral selection + successive
    approximation per T.81 G.2, the encoding the majority of
    web-scraped JPEGs use — with sampling factors in the spec's full
    1-4 range (grayscale, 4:4:4, 4:2:0, 4:2:2, 4:1:1 — every shape
    real corpora carry). No PIL: marker walk
    (length-framed segments, APPn/COM skipped), DQT (8-bit, zigzag),
    DHT (arbitrary canonical tables — nothing about the synthesizer's
    tables is assumed; progressive streams may redefine tables
    between scans), then entropy decode per T.81 F.2: MCU
    interleaving in scan-component order with per-component DC
    predictors, Huffman DC category + signed extend, AC run/size with
    ZRL and EOB (EOB RUNS spanning blocks in progressive scans —
    :func:`_jpeg_progressive_scan`), dequantize (per-component
    table), dezigzag, full 2D float IDCT, level shift, clamp."""
    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    zz = _zigzag_order()
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    dims = None
    frame: dict[int, tuple[int, int, int]] = {}  # cid -> (Hs, Vs, Tq)
    scan: list[tuple[int, int, int]] = []  # (cid, Td, Ta) in scan order
    ri = 0  # DRI restart interval in MCUs (0 = no restarts)
    progressive = False
    pstate: dict | None = None  # cross-scan progressive decoder state
    scans_done = 0
    pos = 2
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("expected marker")
        if pos + 1 >= len(data):
            raise ValueError("truncated JPEG header")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI — ends a progressive stream's scans
            if progressive and scans_done:
                break
            raise ValueError("EOI before SOS")
        (ln,) = (int.from_bytes(data[pos : pos + 2], "big"),)
        body = data[pos + 2 : pos + ln]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq > 1:
                    raise ValueError("bad DQT precision")
                width = 2 if pq else 1  # pq=1: 16-bit entries (T.81
                # B.2.4.1 — what quality-100 encoders emit)
                vals = body[i + 1 : i + 1 + 64 * width]
                if len(vals) < 64 * width:
                    raise ValueError("truncated DQT segment")
                if pq:
                    qt[tq] = [
                        int.from_bytes(vals[2 * j : 2 * j + 2], "big")
                        for j in range(64)
                    ]
                else:
                    qt[tq] = list(vals)
                i += 1 + 64 * width
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1 : i + 17])
                nsym = sum(bits)
                vals = list(body[i + 17 : i + 17 + nsym])
                if len(bits) < 16 or len(vals) < nsym:
                    raise ValueError("truncated DHT segment")
                table = {}
                code = 0
                k = 0
                for li, n in enumerate(bits, start=1):
                    for _ in range(n):
                        table[(code, li)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(tc, th)] = table
                i += 17 + nsym
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if dims is not None:
                raise ValueError("multiple SOF segments")
            if len(body) < 6 or len(body) < 6 + 3 * body[5]:
                raise ValueError("truncated SOF segment")
            prec, h, w, nf = body[0], int.from_bytes(body[1:3], "big"), \
                int.from_bytes(body[3:5], "big"), body[5]
            if prec != 8 or nf not in (1, 3):
                raise ValueError("only 8-bit 1- or 3-component frames")
            if h == 0 or w == 0:
                raise ValueError("zero JPEG frame dimension")
            # per-component f8 coefficient arrays are allocated from
            # these dims before entropy decode, and a payload-size
            # ratio bound is NOT sound for JPEG (progressive EOBRUN
            # legally covers thousands of blocks per coded bit), so
            # the guard is the industry one (PIL MAX_IMAGE_PIXELS):
            # an absolute pixel cap — a ~200-byte stream declaring
            # 65535x65535 would otherwise request ~34 GB of arrays
            if w * h > MAX_DECODE_PIXELS:
                raise ValueError(
                    "image exceeds MAX_DECODE_PIXELS"
                )
            for c in range(nf):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                hs, vs = hv >> 4, hv & 15
                # T.81 B.2.2 allows 1-4; the MCU walk is generic in
                # (hs, vs) so nothing else changes (4:1:1 = 4x1)
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise ValueError("sampling factors beyond 4x4")
                frame[cid] = (hs, vs, tq)
            dims = (w, h)
            progressive = marker == 0xC2
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline SOF0 and progressive SOF2 supported"
            )
        elif marker == 0xDD:  # DRI: define restart interval (T.81 B.2.4.4)
            if len(body) < 2:
                raise ValueError("truncated DRI segment")
            ri = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows the header
            if len(body) < 1 or len(body) < 4 + 2 * body[0]:
                raise ValueError("truncated SOS segment")
            ns = body[0]
            this_scan = []
            for c in range(ns):
                cid, tdta = body[1 + 2 * c : 3 + 2 * c]
                this_scan.append((cid, tdta >> 4, tdta & 15))
            if not progressive:
                scan = this_scan
                pos += ln
                break
            # progressive: decode this scan NOW, then keep walking —
            # DHT/DRI segments may legitimately appear between scans
            if dims is None:
                raise ValueError("SOS before SOF")
            if pstate is None:
                w, h = dims
                hmax = max(hs for hs, _, _ in frame.values())
                vmax = max(vs for _, vs, _ in frame.values())
                mx_n = (w + 8 * hmax - 1) // (8 * hmax)
                my_n = (h + 8 * vmax - 1) // (8 * vmax)
                pstate = {
                    "frame": frame,
                    "huff": huff,
                    "mcus_x": mx_n,
                    "mcus_y": my_n,
                    # MCU-padded coefficient store in ZIGZAG space;
                    # AC scans only touch the component's own
                    # ceil(cw/8) x ceil(ch/8) grid (cgrid)
                    "coefs": {
                        cid: np.zeros(
                            (my_n * vs, mx_n * hs, 64), dtype="i8"
                        )
                        for cid, (hs, vs, _) in frame.items()
                    },
                    "cgrid": {
                        cid: (
                            ((h * vs + vmax - 1) // vmax + 7) // 8,
                            ((w * hs + hmax - 1) // hmax + 7) // 8,
                        )
                        for cid, (hs, vs, _) in frame.items()
                    },
                    "preds": {cid: 0 for cid in frame},
                    "dc_done": set(),
                }
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            try:
                pos = _jpeg_progressive_scan(
                    data, pos + ln, this_scan, ss, se,
                    ahal >> 4, ahal & 15, ri, pstate,
                )
            except IndexError as exc:  # entropy segment sliced short
                raise ValueError(
                    "truncated JPEG entropy segment"
                ) from exc
            scans_done += 1
            continue
        pos += ln
    else:
        raise ValueError(
            "missing EOI after progressive scans" if scans_done
            else "missing SOS"
        )
    if dims is None:
        raise ValueError("missing SOF")
    if progressive:
        # every component must have DC data; reconstruct from the
        # accumulated coefficient store: dequantize (zigzag-wise),
        # dezigzag, one broadcast 8x8 IDCT over ALL blocks per
        # component, level shift, clamp, crop to natural resolution
        if pstate["dc_done"] != set(frame):
            raise ValueError("missing DC scan for a component")
        for _cid, (_hs, _vs, tq) in frame.items():
            if tq not in qt:
                raise ValueError("missing quantization table")
        w, h = dims
        hmax = max(hs for hs, _, _ in frame.values())
        vmax = max(vs for _, vs, _ in frame.values())
        u = np.arange(8, dtype="f8")
        cu = np.where(u == 0, 1.0 / np.sqrt(2.0), 1.0)
        basis = 0.5 * cu[:, None] * np.cos(
            (2.0 * u[None, :] + 1.0) * u[:, None] * np.pi / 16.0
        )
        zz_arr = np.array(zz)
        comps = []
        for cid, (hs, vs, tq) in frame.items():
            q = np.array(qt[tq], dtype="f8")
            arr = pstate["coefs"][cid].astype("f8") * q
            by_n, bx_n = arr.shape[:2]
            blocks = np.zeros((by_n, bx_n, 64), dtype="f8")
            blocks[..., zz_arr] = arr
            f = basis.T @ blocks.reshape(by_n, bx_n, 8, 8) @ basis
            pix = np.clip(np.round(f + 128.0), 0, 255).astype("i8")
            plane = pix.transpose(0, 2, 1, 3).reshape(
                by_n * 8, bx_n * 8
            )
            cw = (w * hs + hmax - 1) // hmax
            ch = (h * vs + vmax - 1) // vmax
            comps.append((cid, hs, vs, plane[:ch, :cw]))
        return w, h, comps
    if {cid for cid, _, _ in scan} != set(frame) or len(scan) != len(
        frame
    ):  # the length check rejects duplicate scan components, which
        # would otherwise silently double-decode units per MCU
        raise ValueError("scan components must match the frame")
    for _cid, (_hs, _vs, tq) in frame.items():
        if tq not in qt:
            raise ValueError("missing quantization table")
    for _cid, td, ta in scan:
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError("missing Huffman table")

    w, h = dims
    hmax = max(hs for hs, _, _ in frame.values())
    vmax = max(vs for _, vs, _ in frame.values())
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

    decode_sym = _jpeg_decode_sym
    extend = _jpeg_extend

    u = np.arange(8, dtype="f8")
    cu = np.where(u == 0, 1.0 / np.sqrt(2.0), 1.0)
    basis = 0.5 * cu[:, None] * np.cos(
        (2.0 * u[None, :] + 1.0) * u[:, None] * np.pi / 16.0
    )  # basis[u, x]

    preds = {cid: 0 for cid in frame}
    br = _BitReader(data, pos)

    def read_unit(cid: int, td: int, ta: int):
        """Entropy-decode ONE data unit (T.81 F.2): DC category +
        signed extend against the component predictor, AC run/size
        with ZRL and EOB, dequantize, dezigzag, IDCT, level shift."""
        q = np.array(qt[frame[cid][2]], dtype="f8")
        dc_tab, ac_tab = huff[(0, td)], huff[(1, ta)]
        coef_zz = np.zeros(64, dtype="f8")
        s = decode_sym(br, dc_tab)
        preds[cid] += extend(br.bits(s), s)
        coef_zz[0] = preds[cid]
        k = 1
        while k < 64:
            rs = decode_sym(br, ac_tab)
            r, sz = rs >> 4, rs & 15
            if sz == 0:
                if r == 15:  # ZRL: sixteen zeros
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("AC run past block end")
            coef_zz[k] = extend(br.bits(sz), sz)
            k += 1
        block = np.zeros(64, dtype="f8")
        block[zz] = coef_zz * q
        f = basis.T @ block.reshape(8, 8) @ basis
        return np.clip(np.round(f + 128.0), 0, 255).astype("i8")

    rst_state = [0, 0]  # [MCUs decoded since last restart, next RSTn]

    def maybe_restart() -> None:
        """Called BEFORE each MCU: at a DRI interval boundary (T.81
        E.2.4) byte-align, consume the modulo-8-sequenced RSTn
        marker, and reset every component's DC predictor — the whole
        point of restarts is that each interval decodes
        independently."""
        if ri and rst_state[0] == ri:
            br.restart(rst_state[1])
            rst_state[1] = (rst_state[1] + 1) & 7
            rst_state[0] = 0
            for c in preds:
                preds[c] = 0
        rst_state[0] += 1

    try:
        if len(scan) == 1:
            # T.81 A.2.2: a single-component scan is NON-interleaved
            # — one data unit per MCU over the COMPONENT'S own block
            # grid (so a grayscale frame declaring 2x2 sampling still
            # decodes on ceil(w/8) x ceil(h/8), not a 4x-larger MCU
            # grid). The restart interval counts these data units.
            cid, td, ta = scan[0]
            hs, vs, _ = frame[cid]
            cw = (w * hs + hmax - 1) // hmax
            ch = (h * vs + vmax - 1) // vmax
            bx_n = (cw + 7) // 8
            by_n = (ch + 7) // 8
            planes = {
                cid: np.zeros((by_n * 8, bx_n * 8), dtype="i8")
            }
            for by in range(by_n):
                for bx in range(bx_n):
                    maybe_restart()
                    planes[cid][
                        by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                    ] = read_unit(cid, td, ta)
        else:
            planes = {
                cid: np.zeros(
                    (mcus_y * vs * 8, mcus_x * hs * 8), dtype="i8"
                )
                for cid, (hs, vs, _) in frame.items()
            }
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    maybe_restart()
                    for cid, td, ta in scan:
                        hs, vs, _ = frame[cid]
                        for v in range(vs):
                            for hh in range(hs):
                                y0 = (my * vs + v) * 8
                                x0 = (mx * hs + hh) * 8
                                planes[cid][
                                    y0 : y0 + 8, x0 : x0 + 8
                                ] = read_unit(cid, td, ta)
    except IndexError as exc:  # entropy segment sliced short
        raise ValueError("truncated JPEG entropy segment") from exc
    comps = []
    for cid, td, ta in scan:
        hs, vs, _ = frame[cid]
        cw = (w * hs + hmax - 1) // hmax
        ch = (h * vs + vmax - 1) // vmax
        comps.append((cid, hs, vs, planes[cid][:ch, :cw]))
    return w, h, comps


def _parse_jpeg(data: bytes):
    """Grayscale wrapper over :func:`_jpeg_decode` -> (w, h, int64
    HxW luma array). General AC content decodes (tests pin a
    hand-built one-AC-coeff stream against a textbook IDCT); the
    synthesizer only emits DC-only blocks so the oracle stays
    closed-form."""
    w, h, comps = _jpeg_decode(data)
    if len(comps) != 1:
        raise ValueError("expected grayscale (use _parse_jpeg_ycbcr)")
    return w, h, comps[0][3]


def _parse_jpeg_ycbcr(data: bytes):
    """Color wrapper over :func:`_jpeg_decode` -> (w, h, Y, Cb, Cr)
    planes at their natural resolutions (chroma stays subsampled —
    stats are defined on the coded planes; see ycbcr_to_rgb for the
    display-side conversion)."""
    w, h, comps = _jpeg_decode(data)
    if len(comps) != 3:
        raise ValueError("expected 3-component YCbCr")
    by_id = {cid: plane for cid, _, _, plane in comps}
    return w, h, by_id[1], by_id[2], by_id[3]


def ycbcr_to_rgb(y, cb, cr):
    """BT.601 full-range YCbCr -> RGB (the JFIF convention):
    R = Y + 1.402 (Cr-128), G = Y - 0.344136 (Cb-128) - 0.714136
    (Cr-128), B = Y + 1.772 (Cb-128); rounded, clamped. Expects
    same-resolution planes (upsample chroma first for 4:2:0 —
    np.repeat(2, axis) is the box upsample). Kept OUT of the oracle
    gate: the gate pins the coded integer planes; this conversion is
    unit-tested against hand values instead."""
    import numpy as np

    y = y.astype("f8")
    cb = cb.astype("f8") - 128.0
    cr = cr.astype("f8") - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return tuple(
        np.clip(np.round(p), 0, 255).astype("i8") for p in (r, g, b)
    )


def decode_jpeg(df: DataFrame, payload_col: str = "payload",
                id_col: str = "doc_id") -> DataFrame:
    """REAL baseline JPEG decode (pure numpy + from-spec Huffman/IDCT,
    no PIL) via Arrow-batched mapInPandas. Emits the luma sum AND a
    block-position-weighted sum (weight = raster block index + 1), so
    two blocks swapped by a DC-difference or scan-order bug change
    wsum_luma even when sum_luma survives."""
    parse_one = _parse_jpeg

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "width", "height", "sum_luma",
                          "wsum_luma", "n_blocks")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                w, h, img = parse_one(bytes(b))
                wb, hb = (w + 7) // 8, (h + 7) // 8
                bidx = (
                    np.repeat(np.arange(hb), 8)[:h, None] * wb
                    + np.repeat(np.arange(wb), 8)[None, :w]
                )
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["sum_luma"].append(int(img.sum()))
                rows["wsum_luma"].append(int((img * (bidx + 1)).sum()))
                rows["n_blocks"].append(wb * hb)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(batches, JPEG_SCHEMA)


JPEG_DETAIL_SCHEMA = (
    "doc_id long, width int, height int, sum_luma long, "
    "wsum_luma long, qsum_luma long, n_blocks int"
)


def decode_jpeg_detail(df: DataFrame, payload_col: str = "payload",
                       id_col: str = "doc_id") -> DataFrame:
    """Grayscale JPEG decode (baseline OR progressive — the decoder
    dispatches on SOF0/SOF2) emitting, beyond decode_jpeg's sums, a
    block-index-weighted QUADRATIC pixel sum
    qsum = sum over blocks of (block_idx+1) * sum_xy ((x%8)^2+1) *
    ((y%8)^2+1) * pixel. The quadratic in-block weight is the point:
    the (4,4) DCT basis sign pattern s(x) annihilates constant and
    linear weights (sum s = sum (x+1)s = 0) but NOT x^2+1
    (sum (x^2+1)s(x) = 8), so an AC coefficient lost, mis-refined, or
    mis-placed by the progressive scan machinery moves qsum_luma even
    though plain and block-weighted pixel sums are provably blind to
    it. Arrow-batched mapInPandas, map-only, zero shuffle."""
    parse_one = _parse_jpeg

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "width", "height", "sum_luma",
                          "wsum_luma", "qsum_luma", "n_blocks")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                w, h, img = parse_one(bytes(b))
                wb, hb = (w + 7) // 8, (h + 7) // 8
                bidx = (
                    np.repeat(np.arange(hb), 8)[:h, None] * wb
                    + np.repeat(np.arange(wb), 8)[None, :w]
                )
                qx = (np.arange(w) % 8) ** 2 + 1
                qy = (np.arange(h) % 8) ** 2 + 1
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["sum_luma"].append(int(img.sum()))
                rows["wsum_luma"].append(int((img * (bidx + 1)).sum()))
                rows["qsum_luma"].append(int(
                    (img * (bidx + 1) * qy[:, None] * qx[None, :]).sum()
                ))
                rows["n_blocks"].append(wb * hb)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        batches, JPEG_DETAIL_SCHEMA
    )


JPEG_COLOR_SCHEMA = (
    "doc_id long, width int, height int, sum_y long, sum_cb long, "
    "sum_cr long, wsum_y long, n_mcus int"
)


def decode_jpeg_color(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "doc_id") -> DataFrame:
    """REAL 4:2:0 color baseline JPEG decode (from-spec MCU
    interleaving, per-component predictors/quant tables) via
    Arrow-batched mapInPandas. Emits per-plane integer sums at each
    plane's CODED resolution plus an MCU-position-weighted luma sum —
    a swapped macroblock or a cross-component predictor leak breaks
    wsum_y / the chroma sums even when sum_y survives."""
    parse_one = _parse_jpeg_ycbcr

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "width", "height", "sum_y", "sum_cb",
                          "sum_cr", "wsum_y", "n_mcus")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                w, h, Y, Cb, Cr = parse_one(bytes(b))
                mbw, mbh = (w + 15) // 16, (h + 15) // 16
                midx = (
                    np.repeat(np.arange(mbh), 16)[:h, None] * mbw
                    + np.repeat(np.arange(mbw), 16)[None, :w]
                )
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["sum_y"].append(int(Y.sum()))
                rows["sum_cb"].append(int(Cb.sum()))
                rows["sum_cr"].append(int(Cr.sum()))
                rows["wsum_y"].append(int((Y * (midx + 1)).sum()))
                rows["n_mcus"].append(mbw * mbh)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        batches, JPEG_COLOR_SCHEMA
    )


def decode_jpeg_422(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "doc_id") -> DataFrame:
    """REAL 4:2:2 color baseline JPEG decode — same emitted shape as
    :func:`decode_jpeg_color` but over 16x8 MCUs (Y 2x1, chroma
    1x1), gating the decoder's asymmetric-sampling interleave path.
    The MCU-position weight uses the 16x8 grid, so a 4:2:0-shaped
    walk applied to a 4:2:2 stream breaks wsum_y immediately."""
    parse_one = _parse_jpeg_ycbcr

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "width", "height", "sum_y", "sum_cb",
                          "sum_cr", "wsum_y", "n_mcus")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                w, h, Y, Cb, Cr = parse_one(bytes(b))
                mbw, mbh = (w + 15) // 16, (h + 7) // 8
                midx = (
                    np.repeat(np.arange(mbh), 8)[:h, None] * mbw
                    + np.repeat(np.arange(mbw), 16)[None, :w]
                )
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["sum_y"].append(int(Y.sum()))
                rows["sum_cb"].append(int(Cb.sum()))
                rows["sum_cr"].append(int(Cr.sum()))
                rows["wsum_y"].append(int((Y * (midx + 1)).sum()))
                rows["n_mcus"].append(mbw * mbh)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        batches, JPEG_COLOR_SCHEMA
    )


def _rgb_sum_decoder(parse_one):
    """Shared Arrow-batched mapInPandas body for every still-image
    decoder that emits (width, height, per-channel integer sums) —
    PNG/GIF/TIFF/BMP all share this exact row shape, so one factory
    keeps the four operators from drifting apart."""

    def decode(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id") -> DataFrame:
        def batches(
            it: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows: dict[str, list] = {
                    k: []
                    for k in ("doc_id", "width", "height", "sum_r",
                              "sum_g", "sum_b")
                }
                for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                    w, h, img = parse_one(bytes(b))
                    rows["doc_id"].append(doc_id)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["sum_r"].append(int(img[:, :, 0].sum()))
                    rows["sum_g"].append(int(img[:, :, 1].sum()))
                    rows["sum_b"].append(int(img[:, :, 2].sum()))
                yield pd.DataFrame(rows)

        return df.select(id_col, payload_col).mapInPandas(
            batches, PNG_SCHEMA
        )

    return decode


def decode_png(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id") -> DataFrame:
    """REAL PNG decode (stdlib zlib + numpy, no PIL): chunk walk with
    CRC verification, inflate, per-spec scanline unfiltering, then the
    same per-channel integer sums as :func:`decode_ppm` — the codec
    upgrade of the uncompressed-image gate."""
    return _rgb_sum_decoder(_parse_png)(df, payload_col, id_col)


# ------------------------------------------------- MP4 container scan

MP4_SCHEMA = (
    "doc_id long, duration_ms long, width int, height int, "
    "n_samples int, sum_sample_bytes long, mdat_bytes long, "
    "timescale int"
)


def _mp4_box(typ: bytes, body: bytes) -> bytes:
    import struct

    return struct.pack(">I", len(body) + 8) + typ + body


def _mp4_full(typ: bytes, version: int, flags: int, body: bytes) -> bytes:
    import struct

    return _mp4_box(typ, struct.pack(">I", (version << 24) | flags) + body)


def synth_mp4_bytes(doc_id: int) -> bytes:
    """Deterministic minimal-but-valid ISO BMFF (MP4) file for
    ``doc_id``, built from the public spec (ISO/IEC 14496-12):
    ftyp + moov(mvhd, trak(tkhd, mdia(mdhd, hdlr, minf(stbl(stsz,
    stts))))) + mdat. One video track: movie timescale 1000 with
    duration (doc_id % 30 + 1) seconds; tkhd carries 16.16
    fixed-point 16*(1 + doc_id % 20) x 16*(1 + doc_id % 12) track
    dims; stsz lists 2 + doc_id % 29 samples sized
    100 + (doc_id*13 + i*7) % 900, and mdat's payload is exactly
    their concatenated bytes — so the stsz sum and the mdat box size
    must agree, which the decoder reports separately for the gate to
    cross-check."""
    import struct

    dur_s = doc_id % 30 + 1
    w = 16 * (1 + doc_id % 20)
    h = 16 * (1 + doc_id % 12)
    ns = 2 + doc_id % 29
    sizes = [100 + ((doc_id * 13 + i * 7) % 900) for i in range(ns)]

    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mvhd = _mp4_full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, 1000, dur_s * 1000)  # ts=1000
        + struct.pack(">iH", 0x00010000, 0x0100) + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2),
    )
    tkhd = _mp4_full(
        b"tkhd", 0, 7,
        struct.pack(">IIIII", 0, 0, 1, 0, dur_s * 1000) + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),  # 16.16 fixed point
    )
    mdhd = _mp4_full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, 90000, ns * 3000)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = _mp4_full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"\x00",
    )
    stsz = _mp4_full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, ns) + b"".join(
            struct.pack(">I", s) for s in sizes
        ),
    )
    stts = _mp4_full(
        b"stts", 0, 0, struct.pack(">III", 1, ns, 3000)
    )
    stbl = _mp4_box(b"stbl", stsz + stts)
    minf = _mp4_box(b"minf", stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    import numpy as np

    payload = (
        (doc_id + np.arange(sum(sizes), dtype="i8")) % 256
    ).astype("u1").tobytes()
    mdat = _mp4_box(b"mdat", payload)
    return ftyp + moov + mdat


def synth_mjpeg_mp4_bytes(doc_id: int) -> bytes:
    """Deterministic MJPEG-style MP4 for ``doc_id``: a real ISO-BMFF
    container (same box layout as :func:`synth_mp4_bytes`) whose mdat
    is the concatenation of ns = 2 + doc_id % 5 GENUINE baseline JPEG
    files — frame f is :func:`synth_jpeg_bytes`(doc_id*31 + f*7), a
    complete SOI..EOI bitstream — with stsz carrying each frame's
    actual byte length. This is the full video access pattern on
    100% from-spec code: container index -> ranged read -> frame
    decode, with both existing codecs reused unchanged."""
    import struct

    ns = 2 + doc_id % 5
    frames = [synth_jpeg_bytes(doc_id * 31 + f * 7) for f in range(ns)]
    sizes = [len(fb) for fb in frames]
    w0, h0 = 8 * (1 + (doc_id * 31) % 4), 8 * (1 + (doc_id * 31) % 3)

    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mvhd = _mp4_full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, 1000, ns * 1000)  # 1 s per frame
        + struct.pack(">iH", 0x00010000, 0x0100) + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2),
    )
    tkhd = _mp4_full(
        b"tkhd", 0, 7,
        struct.pack(">IIIII", 0, 0, 1, 0, ns * 1000) + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w0 << 16, h0 << 16),
    )
    mdhd = _mp4_full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, 90000, ns * 90000)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _mp4_full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"\x00",
    )
    stsz = _mp4_full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, ns) + b"".join(
            struct.pack(">I", s) for s in sizes
        ),
    )
    stts = _mp4_full(b"stts", 0, 0, struct.pack(">III", 1, ns, 90000))
    stbl = _mp4_box(b"stbl", stsz + stts)
    minf = _mp4_box(b"minf", stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    mdat = _mp4_box(b"mdat", b"".join(frames))
    return ftyp + moov + mdat


MJPEG_FRAME_SCHEMA = (
    "doc_id long, sample_idx int, width int, height int, "
    "sum_luma long, wsum_luma long, n_blocks int"
)


def decode_mp4_jpeg_frames(df: DataFrame, every: int = 2,
                           payload_col: str = "payload",
                           id_col: str = "doc_id") -> DataFrame:
    """Frame DECODE over the real container: every ``every``-th
    sample's byte range is located via the stsz index
    (:func:`_mp4_stsz_mdat`), sliced out of mdat, and fed UNCHANGED
    to the from-spec baseline JPEG decoder (:func:`_parse_jpeg`) —
    the container-index -> ranged-read -> frame-decode pipeline a
    video curation stack runs at 100 TB, here end-to-end on from-spec
    code. Emits per-frame integer pixel stats including a
    block-position-weighted luma sum, so an off-by-one in the stsz
    running offset (which would shear every downstream JPEG byte)
    or a block-placement bug in the decoder breaks the gate."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "sample_idx", "width", "height",
                          "sum_luma", "wsum_luma", "n_blocks")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(b)
                sizes, mdat_off = _mp4_stsz_mdat(data)
                off = mdat_off
                for i, sz in enumerate(sizes):
                    if i % every == 0:
                        w, h, img = _parse_jpeg(data[off : off + sz])
                        wb, hb = w // 8, h // 8
                        bsums = img.reshape(hb, 8, wb, 8).sum(
                            axis=(1, 3)
                        )
                        weights = (
                            np.arange(hb, dtype="i8")[:, None] * wb
                            + np.arange(wb, dtype="i8")[None, :] + 1
                        )
                        rows["doc_id"].append(doc_id)
                        rows["sample_idx"].append(i)
                        rows["width"].append(w)
                        rows["height"].append(h)
                        rows["sum_luma"].append(int(bsums.sum()))
                        rows["wsum_luma"].append(
                            int((bsums * weights).sum())
                        )
                        rows["n_blocks"].append(wb * hb)
                    off += sz
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        batches, MJPEG_FRAME_SCHEMA
    )


def _parse_mp4(data: bytes):
    """From-spec ISO BMFF box walk -> container metadata dict: the
    structure scan a curation pipeline runs BEFORE any codec work
    (duration, track dims, sample table totals). Generic: boxes are
    length-framed (large-size 1 supported), containers recursed by a
    whitelist (the spec's pure-container boxes carry no header), full
    boxes version-checked. Codec payload decode (the H.264 inside
    mdat) is exactly what stays behind the import-gated seam — this
    parses the CONTAINER, the way real pipelines triage video before
    shelling out to a decoder."""
    import struct

    out = {
        "duration_ms": None, "width": None, "height": None,
        "n_samples": None, "sum_sample_bytes": None,
        "mdat_bytes": None, "timescale": None,
    }
    containers = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

    def walk(lo: int, hi: int) -> None:
        pos = lo
        while pos < hi:
            if hi - pos < 8:
                raise ValueError("truncated box header")
            (size,) = struct.unpack(">I", data[pos : pos + 4])
            typ = data[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit large size
                (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
                body = pos + 16
            if size < 8 or pos + size > hi:
                raise ValueError(f"bad box size for {typ!r}")
            if typ in containers:
                walk(body, pos + size)
            elif typ == b"mvhd":
                # v1 (ISO 14496-12 §8.2.2): creation/modification/
                # duration widen to 64 bits, shifting timescale to
                # body+20 and duration to body+24.
                ver = data[body]
                if ver == 0:
                    ts, dur = struct.unpack(
                        ">II", data[body + 12 : body + 20]
                    )
                elif ver == 1:
                    (ts,) = struct.unpack(
                        ">I", data[body + 20 : body + 24]
                    )
                    (dur,) = struct.unpack(
                        ">Q", data[body + 24 : body + 32]
                    )
                else:
                    raise ValueError("bad mvhd version")
                if ts == 0:
                    raise ValueError("zero mvhd timescale")
                out["duration_ms"] = dur * 1000 // ts
            elif typ == b"tkhd":
                if data[body] > 1:
                    raise ValueError("bad tkhd version")
                # width/height are the LAST 8 bytes of the box in
                # both versions — the v1 widening happens before them
                wfx, hfx = struct.unpack(
                    ">II", data[pos + size - 8 : pos + size]
                )
                out["width"] = wfx >> 16
                out["height"] = hfx >> 16
            elif typ == b"mdhd":
                ver = data[body]
                if ver == 0:
                    (out["timescale"],) = struct.unpack(
                        ">I", data[body + 12 : body + 16]
                    )
                elif ver == 1:
                    (out["timescale"],) = struct.unpack(
                        ">I", data[body + 20 : body + 24]
                    )
                else:
                    raise ValueError("bad mdhd version")
            elif typ == b"stsz":
                fixed, cnt = struct.unpack(
                    ">II", data[body + 4 : body + 12]
                )
                out["n_samples"] = cnt
                if fixed:
                    out["sum_sample_bytes"] = fixed * cnt
                else:
                    sizes = struct.unpack(
                        f">{cnt}I", data[body + 12 : body + 12 + 4 * cnt]
                    )
                    out["sum_sample_bytes"] = sum(sizes)
            elif typ == b"mdat":
                out["mdat_bytes"] = size - (body - pos)
            pos += size

    if data[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF file (missing ftyp)")
    try:
        walk(0, len(data))
    except struct.error as exc:  # a header sliced short by truncation
        raise ValueError("truncated box payload") from exc
    missing = [k for k, v in out.items() if v is None]
    if missing:
        raise ValueError(f"missing boxes for: {missing}")
    return out


MP4_SAMPLE_SCHEMA = (
    "doc_id long, sample_idx int, byte_offset long, n_bytes long, "
    "byte_sum long"
)


def _mp4_stsz_mdat(data: bytes):
    """Box walk extracting just the frame index a selective reader
    needs: the stsz per-sample sizes and the mdat payload offset.
    Returns (sizes, mdat_off)."""
    import struct

    sizes: list[int] = []
    mdat_off = None
    pos = 0
    while pos + 8 <= len(data):
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = pos + 16
        if size < 8 or pos + size > len(data):
            raise ValueError(f"bad box size for {typ!r}")
        if typ in {b"moov", b"trak", b"mdia", b"minf", b"stbl"}:
            pos = body  # descend
            continue
        if typ == b"stsz":
            fixed, cnt = struct.unpack(">II", data[body + 4 : body + 12])
            if fixed:
                sizes = [fixed] * cnt
            else:
                sizes = list(
                    struct.unpack(
                        f">{cnt}I", data[body + 12 : body + 12 + 4 * cnt]
                    )
                )
        elif typ == b"mdat":
            mdat_off = body
        pos += size
    if not sizes or mdat_off is None:
        raise ValueError("missing stsz or mdat")
    return sizes, mdat_off


def _mp4_sample_slices(data: bytes, every: int = 4):
    """Selective sample extraction from a parsed MP4: stsz gives the
    per-sample sizes, their running sum gives each sample's byte
    offset inside mdat, and every ``every``-th sample's REAL payload
    bytes are sliced and summed — the 'decode frame k without reading
    the rest' access pattern container triage exists to enable.
    Returns [(idx, offset, size, byte_sum)]."""
    import numpy as np

    sizes, mdat_off = _mp4_stsz_mdat(data)
    payload = np.frombuffer(
        data, dtype="u1", count=sum(sizes), offset=mdat_off
    ).astype("i8")
    out = []
    off = 0
    for i, sz in enumerate(sizes):
        if i % every == 0:
            out.append((i, off, sz, int(payload[off : off + sz].sum())))
        off += sz
    return out


def sample_mp4_payload(df: DataFrame, every: int = 4,
                       payload_col: str = "payload",
                       id_col: str = "doc_id") -> DataFrame:
    """Frame sampling on the REAL container (the north-star
    frame-sample op upgraded from synthetic metadata to actual byte
    access): per doc, every ``every``-th sample's offset is derived
    from the stsz table and its genuine payload bytes are sliced out
    of mdat and summed — one output row per selected sample, fan-out
    inside the executor generator. At scale this is the pattern that
    reads k bytes of a multi-GB video instead of the whole file."""
    parse_one = _mp4_sample_slices

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "sample_idx", "byte_offset",
                          "n_bytes", "byte_sum")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                for i, off, sz, bsum in parse_one(bytes(b), every):
                    rows["doc_id"].append(doc_id)
                    rows["sample_idx"].append(i)
                    rows["byte_offset"].append(off)
                    rows["n_bytes"].append(sz)
                    rows["byte_sum"].append(bsum)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        batches, MP4_SAMPLE_SCHEMA
    )


def decode_mp4_meta(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "doc_id") -> DataFrame:
    """REAL MP4/ISO-BMFF container scan via Arrow-batched
    mapInPandas: box walk, movie/track headers, sample-table totals,
    and the mdat payload size reported SEPARATELY from the stsz sum
    so the gate cross-checks the container's internal consistency."""
    parse_one = _parse_mp4

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "duration_ms", "width", "height",
                          "n_samples", "sum_sample_bytes", "mdat_bytes",
                          "timescale")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                meta = parse_one(bytes(b))
                rows["doc_id"].append(doc_id)
                for k in meta:
                    rows[k].append(meta[k])
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(batches, MP4_SCHEMA)


CUTS_SCHEMA = (
    "doc_id long, n_frames int, n_cuts long, first_cut int, "
    "max_luma_jump long"
)


def synth_frame_ppm_bytes(doc_id: int, f: int) -> bytes:
    """Deterministic PPM P6 frame ``f`` of a per-doc synthetic video:
    same grid as :func:`synth_ppm_bytes`, channels mixed with the
    frame index so luminance drifts frame-to-frame (integer-exact for
    the oracle)."""
    import numpy as np

    w = 4 + doc_id % 13
    h = 3 + doc_id % 7
    x = np.arange(w, dtype="i8")[None, :]
    y = np.arange(h, dtype="i8")[:, None]
    img = np.stack(
        [
            (doc_id + x * 3 + y * 5 + f * 11) % 256,
            np.broadcast_to((doc_id * 2 + x + f * 7) % 256, (h, w)),
            (x * y + doc_id + f * 13) % 256,
        ],
        axis=2,
    ).astype("u1")
    return f"P6\n{w} {h}\n255\n".encode("ascii") + img.tobytes()


def decode_scene_cuts(docs: DataFrame, threshold: int = 16,
                      id_col: str = "doc_id",
                      nf_for=None) -> DataFrame:
    """Scene-cut detection over REALLY-DECODED frame sequences: each
    doc's synthetic video (2 + doc_id % 7 PPM frames) is generated and
    parsed byte-for-byte executor-side (:func:`_parse_ppm` — the same
    real decode path as decode_ppm), per-frame integer mean luminance
    ((sum_r+sum_g+sum_b) // (3*n_px)) is compared to the previous
    frame, and jumps >= ``threshold`` count as cuts — the shot-
    boundary pass a video curation pipeline runs before sampling
    frames for captioning. Frame bytes never leave the executor.

    ``nf_for`` (doc_id -> frame count) overrides the default
    2 + doc_id % 7 video length — the skew-probe hook for the
    one-long-video scenario (SCALE.md, round 9): frames of one doc
    are decoded as a SERIAL fold in one task (state = one previous
    luminance), so wall time is lower-bounded by the longest single
    video; frame-level parallelism would need a keyed reshuffle with
    a boundary-luma stitch, which the bounded (<= 8 frame) synthetic
    videos do not warrant."""
    if nf_for is None:
        nf_for = lambda d: 2 + d % 7  # noqa: E731

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "n_frames", "n_cuts", "first_cut",
                          "max_luma_jump")
            }
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                nf = nf_for(doc_id)
                prev = None
                n_cuts = 0
                first = None
                max_jump = 0
                for f in range(nf):
                    w, h, img = _parse_ppm(
                        synth_frame_ppm_bytes(doc_id, f)
                    )
                    luma = int(img.sum()) // (3 * w * h)
                    if prev is not None:
                        jump = abs(luma - prev)
                        max_jump = max(max_jump, jump)
                        if jump >= threshold:
                            n_cuts += 1
                            if first is None:
                                first = f
                    prev = luma
                rows["doc_id"].append(doc_id)
                rows["n_frames"].append(nf)
                rows["n_cuts"].append(n_cuts)
                rows["first_cut"].append(-1 if first is None else first)
                rows["max_luma_jump"].append(max_jump)
            yield pd.DataFrame(rows)

    return docs.select(id_col).mapInPandas(batches, CUTS_SCHEMA)


# ---------------------------------------------- WebP VP8L (lossless)
#
# From-spec implementation of the public "WebP Lossless Bitstream
# Specification" (RFC 9649 §3-4 / VP8L): RIFF/WEBP container walk,
# LSB-first bitstream, simple and full canonical prefix codes (the
# code-length code with 16/17/18 run-length symbols and the optional
# max-symbol arm), LZ77 backward references with the prefix-coded
# length/distance value scheme, the hashed color cache, and all four
# transforms (predictor with the 14 spatial modes, cross-color,
# subtract-green, color-indexing including sub-byte pixel bundling).
#
# DOCUMENTED SUBSET, chosen deliberately (offline build, spec text
# not retrievable for byte-level cross-checks):
#  * distance codes 1..120 (the spec's 120-entry short-range "plane
#    code" neighborhood table) are REJECTED with a clean ValueError —
#    the exact table order is an empirical constant we could not
#    verify offline, and a silently-wrong table would corrupt real
#    files while staying internally consistent. Plane codes are an
#    OPTIONAL encoding choice: every distance is also expressible as
#    a plain code (distance + 120), which is what the encoder below
#    emits, so the files this module writes remain fully conformant.
#    Reopen trigger: spec/libwebp access to transcribe the table.
#  * meta prefix codes (multiple entropy groups) are rejected with a
#    clean ValueError; single-group files are the common case.
# The synthesizer/decoder pair is gated by exact-value oracles and a
# full round-trip pin per variant, so every implemented path is
# exercised bidirectionally.

#: code-length-code symbol transmission order (same role as deflate's
#: RFC 1951 §3.2.7 order; VP8L's starts with the run-length symbols).
_VP8L_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15
)

#: color-cache hash multiplier (VP8L kHashMul); index =
#: (mul * argb mod 2^32) >> (32 - cache_bits).
_VP8L_CACHE_MUL = 0x1E35A7BD


class _LsbBits:
    """LSB-first bit reader over a bytes payload (VP8L convention:
    bits fill each byte from the least-significant end). Raises the
    codec family's clean ValueError at end-of-stream."""

    __slots__ = ("data", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.bit = 0

    def read(self, n: int) -> int:
        d, b = self.data, self.bit
        if b + n > len(d) * 8:
            raise ValueError("truncated VP8L bitstream")
        v = 0
        for i in range(n):
            v |= ((d[(b + i) >> 3] >> ((b + i) & 7)) & 1) << i
        self.bit = b + n
        return v


class _LsbWriter:
    """LSB-first bit writer (mirror of :class:`_LsbBits`). Prefix-code
    bits go through :meth:`write_code`, which emits the code's bits
    most-significant first — the deflate-style convention canonical
    prefix codes use inside an otherwise LSB-first stream."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, n: int) -> None:
        assert 0 <= v < (1 << n), (v, n)
        self.acc |= v << self.n
        self.n += n
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def write_code(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def done(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _vp8l_canon_codes(lengths) -> dict[int, tuple[int, int]]:
    """Canonical prefix codes from code lengths, exactly as deflate
    (RFC 1951 §3.2.2, which the VP8L spec references): shorter codes
    first, ties in symbol order. Returns sym -> (code, length)."""
    nz = sorted((l, s) for s, l in enumerate(lengths) if l)
    bl_count: dict[int, int] = {}
    for l, _ in nz:
        bl_count[l] = bl_count.get(l, 0) + 1
    code = 0
    next_code: dict[int, int] = {}
    for l in range(1, max(bl_count) + 1):
        code = (code + bl_count.get(l - 1, 0)) << 1
        next_code[l] = code
    codes = {}
    for l, s in nz:
        codes[s] = (next_code[l], l)
        next_code[l] += 1
    return codes


def _vp8l_decode_table(lengths) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol table for bit-by-bit decode, with a
    completeness check: VP8L normal codes must satisfy Kraft equality
    (an over- or under-subscribed set of lengths is file corruption,
    surfaced as the family's clean ValueError)."""
    nz = [(l, s) for s, l in enumerate(lengths) if l]
    if len(nz) < 2:
        raise ValueError("under-subscribed VP8L prefix code")
    if max(l for l, _ in nz) > 15:
        raise ValueError("VP8L code length exceeds 15")
    if sum(1 << (15 - l) for l, _ in nz) != 1 << 15:
        raise ValueError("VP8L prefix code is not complete")
    return {
        (l, c): s for s, (c, l) in _vp8l_canon_codes(lengths).items()
    }


def _vp8l_read_sym(br: _LsbBits, table) -> int:
    """One prefix-coded symbol. ``table`` is either an int (the
    0-bit single-symbol simple code) or a (length, code) map."""
    if isinstance(table, int):
        return table
    code = 0
    for ln in range(1, 16):
        code = (code << 1) | br.read(1)
        s = table.get((ln, code))
        if s is not None:
            return s
    raise ValueError("invalid VP8L prefix-coded symbol")


def _vp8l_read_code(br: _LsbBits, alphabet: int):
    """Read one prefix-code definition: the 1/2-symbol simple form or
    the normal form (3-bit lengths for the code-length code in
    ``_VP8L_ORDER``, optional max-symbol arm, then RLE-coded lengths
    with symbols 16 = repeat-previous, 17/18 = zero runs)."""
    if br.read(1):  # simple
        num = br.read(1) + 1
        s0 = br.read(8) if br.read(1) else br.read(1)
        syms = [s0] + ([br.read(8)] if num == 2 else [])
        for s in syms:
            if s >= alphabet:
                raise ValueError("VP8L simple-code symbol out of range")
        if num == 1:
            return syms[0]
        if syms[0] == syms[1]:
            raise ValueError("duplicate VP8L simple-code symbols")
        return {(1, 0): syms[0], (1, 1): syms[1]}
    ncl = 4 + br.read(4)
    cl = [0] * 19
    for i in range(ncl):
        cl[_VP8L_ORDER[i]] = br.read(3)
    cl_table = _vp8l_decode_table(cl)
    if br.read(1):
        nbits = 2 + 2 * br.read(3)
        max_ops = 2 + br.read(nbits)
    else:
        max_ops = alphabet
    lens = [0] * alphabet
    prev = 8  # spec default when 16 precedes any literal
    i = ops = 0
    while i < alphabet and ops < max_ops:
        ops += 1
        s = _vp8l_read_sym(br, cl_table)
        if s < 16:
            lens[i] = s
            i += 1
            if s:
                prev = s
        else:
            if s == 16:
                rep, fill = 3 + br.read(2), prev
            elif s == 17:
                rep, fill = 3 + br.read(3), 0
            else:
                rep, fill = 11 + br.read(7), 0
            if i + rep > alphabet:
                raise ValueError("VP8L code-length repeat overflows")
            for _ in range(rep):
                lens[i] = fill
                i += 1
    return _vp8l_decode_table(lens)


def _vp8l_lz_read(br: _LsbBits, code: int) -> int:
    """LZ77 length/distance value from its prefix code + extra bits:
    codes 0-3 are the values 1-4; code c >= 4 spans
    ((2+(c&1)) << ((c-2)>>1)) + 1 .. and carries (c-2)>>1 extra
    bits."""
    if code < 4:
        return code + 1
    eb = (code - 2) >> 1
    return ((2 + (code & 1)) << eb) + br.read(eb) + 1


def _vp8l_lz_code(v: int) -> tuple[int, int, int]:
    """Inverse of :func:`_vp8l_lz_read`: value -> (prefix code,
    extra-bits value, extra-bits count)."""
    if v <= 4:
        return v - 1, 0, 0
    k = (v - 1).bit_length() - 1
    if v - 1 < 3 << (k - 1):
        return 2 * k, v - 1 - (1 << k), k - 1
    return 2 * k + 1, v - 1 - (3 << (k - 1)), k - 1


def _vp8l_cache_idx(argb: int, bits: int) -> int:
    return ((_VP8L_CACHE_MUL * argb) & 0xFFFFFFFF) >> (32 - bits)


def _vp8l_decode_pixels(br: _LsbBits, w: int, h: int,
                        main: bool = False):
    """One entropy-coded VP8L image (the main image when ``main``,
    else a transform sub-image): color-cache info, the five prefix
    codes (green+length+cache, red, blue, alpha, distance), then the
    LZ77-coded pixel stream into a flat ARGB uint32 array."""
    from array import array

    n = w * h
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("invalid VP8L color-cache size")
    if main and br.read(1):
        raise ValueError("VP8L meta prefix codes unsupported")
    green = _vp8l_read_code(
        br, 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    )
    red = _vp8l_read_code(br, 256)
    blue = _vp8l_read_code(br, 256)
    alpha = _vp8l_read_code(br, 256)
    dist_code = _vp8l_read_code(br, 40)
    cache = [None] * (1 << cache_bits) if cache_bits else None
    px = array("I", bytes(4 * n))
    pos = 0
    while pos < n:
        s = _vp8l_read_sym(br, green)
        if s < 256:
            g = s
            r = _vp8l_read_sym(br, red)
            b = _vp8l_read_sym(br, blue)
            a = _vp8l_read_sym(br, alpha)
            v = (a << 24) | (r << 16) | (g << 8) | b
            px[pos] = v
            pos += 1
            if cache is not None:
                cache[_vp8l_cache_idx(v, cache_bits)] = v
        elif s < 280:
            length = _vp8l_lz_read(br, s - 256)
            dval = _vp8l_lz_read(br, _vp8l_read_sym(br, dist_code))
            if dval <= 120:
                raise ValueError(
                    "VP8L short-range plane distance codes unsupported"
                )
            d = dval - 120
            if d > pos:
                raise ValueError("VP8L reference before image start")
            if pos + length > n:
                raise ValueError("VP8L reference overruns image")
            for _ in range(length):
                v = px[pos - d]
                px[pos] = v
                pos += 1
                if cache is not None:
                    cache[_vp8l_cache_idx(v, cache_bits)] = v
        else:
            v = cache[s - 280] if cache is not None else None
            if v is None:
                raise ValueError("VP8L color-cache miss")
            px[pos] = v
            pos += 1
    return px


def _add_px(p: int, q: int) -> int:
    """Per-channel (mod 256) pixel addition on packed ARGB."""
    return (
        ((((p >> 24) + (q >> 24)) & 0xFF) << 24)
        | ((((p >> 16) + (q >> 16)) & 0xFF) << 16)
        | ((((p >> 8) + (q >> 8)) & 0xFF) << 8)
        | ((p + q) & 0xFF)
    )


def _sub_px(p: int, q: int) -> int:
    """Per-channel (mod 256) pixel subtraction on packed ARGB."""
    return (
        ((((p >> 24) - (q >> 24)) & 0xFF) << 24)
        | ((((p >> 16) - (q >> 16)) & 0xFF) << 16)
        | ((((p >> 8) - (q >> 8)) & 0xFF) << 8)
        | ((p - q) & 0xFF)
    )


def _vp8l_avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) + (b >> 24)) >> 1) << 24)
        | (((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16)
        | (((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8)
        | (((a & 0xFF) + (b & 0xFF)) >> 1)
    )


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ctd(t: int, c: int) -> int:
    """Cross-color transform delta: both the element and the channel
    byte reinterpreted as signed 8-bit, product arithmetic-shifted by
    5 (Python's floor ``>>`` on negative ints IS the arithmetic
    shift)."""
    return (_s8(t) * _s8(c)) >> 5


def _vp8l_predict(mode: int, L: int, T: int, TL: int, TR: int) -> int:
    """The 14 spatial predictor modes (spec §4.1.1). Select (11) and
    ClampAddSubtractFull/Half (12/13) follow the spec pseudocode:
    Manhattan-distance tiebreak toward T, and C-style
    truncate-toward-zero division in the Half variant."""
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _vp8l_avg2(_vp8l_avg2(L, TR), T)
    if mode == 6:
        return _vp8l_avg2(L, TL)
    if mode == 7:
        return _vp8l_avg2(L, T)
    if mode == 8:
        return _vp8l_avg2(TL, T)
    if mode == 9:
        return _vp8l_avg2(T, TR)
    if mode == 10:
        return _vp8l_avg2(_vp8l_avg2(L, TL), _vp8l_avg2(T, TR))
    if mode == 11:  # Select
        pL = pT = 0
        for sh in (24, 16, 8, 0):
            pc = ((L >> sh) & 0xFF) + ((T >> sh) & 0xFF) \
                - ((TL >> sh) & 0xFF)
            pL += abs(pc - ((L >> sh) & 0xFF))
            pT += abs(pc - ((T >> sh) & 0xFF))
        return L if pL < pT else T
    if mode == 12:  # ClampAddSubtractFull
        out = 0
        for sh in (24, 16, 8, 0):
            v = ((L >> sh) & 0xFF) + ((T >> sh) & 0xFF) \
                - ((TL >> sh) & 0xFF)
            out |= min(255, max(0, v)) << sh
        return out
    if mode == 13:  # ClampAddSubtractHalf
        ave = _vp8l_avg2(L, T)
        out = 0
        for sh in (24, 16, 8, 0):
            a = (ave >> sh) & 0xFF
            v = a + int((a - ((TL >> sh) & 0xFF)) / 2)
            out |= min(255, max(0, v)) << sh
        return out
    raise ValueError("invalid VP8L predictor mode")


def _vp8l_pred_at(px, i: int, x: int, y: int, w: int,
                  mode: int) -> int:
    """Predictor with the spec's edge rules: (0,0) predicts opaque
    black, the rest of row 0 predicts L, the rest of column 0
    predicts T. TR of the last column wraps to the first pixel of the
    CURRENT row (the linear-array rule) — that pixel is already
    reconstructed by the time it is referenced."""
    if y == 0:
        return 0xFF000000 if x == 0 else px[i - 1]
    if x == 0:
        return px[i - w]
    return _vp8l_predict(
        mode, px[i - 1], px[i - w], px[i - w - 1], px[i - w + 1]
    )


def _parse_webp(data: bytes):
    """REAL lossless WebP (VP8L) decode from spec — RIFF walk, VP8L
    bitstream, inverse transforms in reverse stream order — returning
    (width, height, int64 RGB image) like the other still-image
    parsers. Lossy ``VP8 `` and extended ``VP8X`` payloads are
    rejected with a clean ValueError (a from-spec VP8 intra decoder
    is out of scope, same call as H.264-in-mdat)."""
    import struct

    import numpy as np

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WEBP RIFF container")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    if riff_size + 8 != len(data):
        raise ValueError("WEBP RIFF size mismatch")
    pos, payload = 12, None
    while pos + 8 <= len(data):
        fourcc = data[pos:pos + 4]
        (sz,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8:pos + 8 + sz]
        if len(body) < sz:
            raise ValueError("truncated WEBP chunk")
        if fourcc == b"VP8L":
            payload = body
            break
        if fourcc in (b"VP8 ", b"VP8X"):
            raise ValueError("lossy/extended WebP unsupported")
        pos += 8 + sz + (sz & 1)
    if payload is None:
        raise ValueError("no VP8L chunk in WEBP container")

    br = _LsbBits(payload)
    if br.read(8) != 0x2F:
        raise ValueError("bad VP8L signature byte")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha-is-used hint — informational
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    if w * h > MAX_DECODE_PIXELS:
        raise ValueError("image exceeds MAX_DECODE_PIXELS")

    transforms = []
    seen = set()
    coded_w = w
    while br.read(1):
        t = br.read(2)
        if t in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(t)
        if t == 2:  # subtract green
            transforms.append(("subgreen",))
        elif t in (0, 1):  # predictor / cross-color: tiled sub-image
            sb = br.read(3) + 2
            tw = (coded_w + (1 << sb) - 1) >> sb
            th = (h + (1 << sb) - 1) >> sb
            tiles = _vp8l_decode_pixels(br, tw, th)
            transforms.append(
                ("predictor" if t == 0 else "color", sb, tw, tiles)
            )
        else:  # color indexing
            npal = br.read(8) + 1
            praw = _vp8l_decode_pixels(br, npal, 1)
            pal, prev = [], 0
            for v in praw:  # palette entries are delta-coded
                prev = _add_px(v, prev)
                pal.append(prev)
            wb = 3 if npal <= 2 else 2 if npal <= 4 else \
                1 if npal <= 16 else 0
            coded_w = (w + (1 << wb) - 1) >> wb
            transforms.append(("palette", pal, wb))

    px = _vp8l_decode_pixels(br, coded_w, h, main=True)

    for tr in reversed(transforms):
        cur_w = len(px) // h
        if tr[0] == "subgreen":
            for i in range(len(px)):
                p = px[i]
                g = (p >> 8) & 0xFF
                px[i] = (
                    (p & 0xFF00FF00)
                    | ((((p >> 16) + g) & 0xFF) << 16)
                    | ((p + g) & 0xFF)
                )
        elif tr[0] == "predictor":
            _, sb, tw, tiles = tr
            for y in range(h):
                for x in range(cur_w):
                    i = y * cur_w + x
                    mode = (tiles[(y >> sb) * tw + (x >> sb)] >> 8) \
                        & 0xFF
                    if mode > 13:
                        raise ValueError("invalid VP8L predictor mode")
                    px[i] = _add_px(
                        px[i], _vp8l_pred_at(px, i, x, y, cur_w, mode)
                    )
        elif tr[0] == "color":
            # element channels: green_to_red in blue, green_to_blue
            # in green, red_to_blue in red; red is restored BEFORE
            # the red_to_blue term uses it
            _, sb, tw, tiles = tr
            for y in range(h):
                for x in range(cur_w):
                    i = y * cur_w + x
                    e = tiles[(y >> sb) * tw + (x >> sb)]
                    p = px[i]
                    g = (p >> 8) & 0xFF
                    r = (((p >> 16) & 0xFF) + _ctd(e & 0xFF, g)) & 0xFF
                    b = (
                        (p & 0xFF)
                        + _ctd((e >> 8) & 0xFF, g)
                        + _ctd((e >> 16) & 0xFF, r)
                    ) & 0xFF
                    px[i] = (p & 0xFF00FF00) | (r << 16) | b
        else:  # palette
            from array import array

            _, pal, wb = tr
            bpp = 8 >> wb
            mask = (1 << bpp) - 1
            out = array("I", bytes(4 * w * h))
            for y in range(h):
                for x in range(w):
                    packed = px[y * cur_w + (x >> wb)]
                    idx = (
                        ((packed >> 8) & 0xFF)
                        >> ((x & ((1 << wb) - 1)) * bpp)
                    ) & mask
                    if idx >= len(pal):
                        raise ValueError(
                            "VP8L palette index out of range"
                        )
                    out[y * w + x] = pal[idx]
            px = out

    if len(px) != w * h:
        raise ValueError("VP8L decoded size mismatch")
    arr = np.frombuffer(px, dtype=np.uint32).reshape(h, w)
    img = np.stack(
        [(arr >> 16) & 0xFF, (arr >> 8) & 0xFF, arr & 0xFF], axis=2
    ).astype("i8")
    return w, h, img


def decode_webp(df: DataFrame, payload_col: str = "payload",
                id_col: str = "doc_id") -> DataFrame:
    """REAL lossless-WebP decode (VP8L from spec, stdlib + numpy, no
    PIL/libwebp) with the family's shared (width, height, channel
    sums) row shape — same Arrow-batched mapInPandas seam, map-only,
    zero shuffle."""
    return _rgb_sum_decoder(_parse_webp)(df, payload_col, id_col)


# --- VP8L encoder (test-grade, spec-conformant output) ---------------


def _pm_lengths(freqs: dict[int, int], limit: int) -> dict[int, int]:
    """Length-limited prefix code lengths via package-merge — always
    Kraft-complete, optimal under the limit. Needs >= 2 symbols."""
    syms = sorted(freqs)
    n = len(syms)
    assert n >= 2 and n <= (1 << limit)
    orig = sorted((freqs[s], (s,)) for s in syms)
    merged = list(orig)
    for _ in range(limit - 1):
        packages = [
            (merged[i][0] + merged[i + 1][0],
             merged[i][1] + merged[i + 1][1])
            for i in range(0, len(merged) - 1, 2)
        ]
        merged = sorted(orig + packages)
    lengths = dict.fromkeys(syms, 0)
    for _, group in merged[:2 * n - 2]:
        for s in group:
            lengths[s] += 1
    return lengths


def _rle_code_lengths(lens, limit: int):
    """Code-length sequence -> (symbol, extra, extra_bits) ops with
    the spec's RLE: 16 repeats the previous non-zero length 3-6
    times, 17 covers 3-10 zeros, 18 covers 11-138 zeros."""
    seq = []
    i = 0
    while i < limit:
        l = lens[i]
        if l == 0:
            run = 0
            while i + run < limit and lens[i + run] == 0:
                run += 1
            i += run
            while run >= 11:
                take = min(run, 138)
                seq.append((18, take - 11, 7))
                run -= take
            if run >= 3:
                seq.append((17, run - 3, 3))
                run = 0
            seq.extend((0, 0, 0) for _ in range(run))
        else:
            seq.append((l, 0, 0))
            i += 1
            run = 0
            while i + run < limit and lens[i + run] == l:
                run += 1
            i += run
            while run >= 3:
                take = min(run, 6)
                seq.append((16, take - 3, 2))
                run -= take
            seq.extend((l, 0, 0) for _ in range(run))
    return seq


def _vp8l_write_code(bw: _LsbWriter, freqs: dict[int, int],
                     alphabet: int, use_max: bool = False):
    """Emit one prefix-code definition and return sym -> (code, len).
    Picks the simple form when <= 2 symbols fit its 8-bit fields,
    else the normal form with package-merge lengths; ``use_max``
    truncates trailing zero ops behind the spec's max-symbol count
    (which bounds the number of RLE ops read, not symbol indices)."""
    syms = sorted(s for s, f in freqs.items() if f > 0) or [0]
    if len(syms) == 1 and syms[0] <= 255:
        s = syms[0]
        bw.write(1, 1)
        bw.write(0, 1)
        if s >= 2:
            bw.write(1, 1)
            bw.write(s, 8)
        else:
            bw.write(0, 1)
            bw.write(s, 1)
        return {s: (0, 0)}
    if len(syms) == 2 and syms[1] <= 255:
        s0, s1 = syms
        bw.write(1, 1)
        bw.write(1, 1)
        if s0 >= 2:
            bw.write(1, 1)
            bw.write(s0, 8)
        else:
            bw.write(0, 1)
            bw.write(s0, 1)
        bw.write(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}
    if len(syms) == 1:
        raise ValueError("unencodable single-symbol wide alphabet")
    lens = [0] * alphabet
    for s, l in _pm_lengths({s: freqs[s] for s in syms}, 15).items():
        lens[s] = l
    seq = _rle_code_lengths(lens, alphabet)
    if use_max:
        k = len(seq)
        while k and seq[k - 1][0] in (0, 17, 18):
            k -= 1
        if k >= 2 and k < len(seq):
            seq = seq[:k]
        else:
            use_max = False
    cl_freqs: dict[int, int] = {}
    for s, _, _ in seq:
        cl_freqs[s] = cl_freqs.get(s, 0) + 1
    if len(cl_freqs) < 2:
        raise ValueError("unencodable code-length distribution")
    cl_lens = [0] * 19
    for s, l in _pm_lengths(cl_freqs, 7).items():
        cl_lens[s] = l
    cl_codes = _vp8l_canon_codes(cl_lens)
    bw.write(0, 1)  # normal (not simple) form
    num = max(
        4,
        1 + max(i for i in range(19) if cl_lens[_VP8L_ORDER[i]] > 0),
    )
    bw.write(num - 4, 4)
    for i in range(num):
        bw.write(cl_lens[_VP8L_ORDER[i]], 3)
    if use_max:
        mx = len(seq)
        nbits = 2
        while mx - 2 >= (1 << nbits):
            nbits += 2
        bw.write(1, 1)
        bw.write((nbits - 2) // 2, 3)
        bw.write(mx - 2, nbits)
    else:
        bw.write(0, 1)
    for s, extra, ebits in seq:
        bw.write_code(*cl_codes[s])
        if ebits:
            bw.write(extra, ebits)
    return _vp8l_canon_codes(lens)


def _vp8l_lz77(pixels, cache_bits: int):
    """Greedy LZ77 + color-cache tokenizer over packed ARGB pixels:
    ('lit', argb) / ('ref', length, distance) / ('cache', index).
    Mirrors decoder state exactly — the cache is updated on every
    emitted pixel, including those covered by a backward
    reference."""
    n = len(pixels)
    toks = []
    cache = [-1] * (1 << cache_bits) if cache_bits else None
    starts: dict[int, list[int]] = {}
    i = 0
    while i < n:
        best_len = best_dist = 0
        for j in reversed(starts.get(pixels[i], [])[-8:]):
            l = 0
            while i + l < n and l < 4096 \
                    and pixels[j + l] == pixels[i + l]:
                l += 1
            if l > best_len:
                best_len, best_dist = l, i - j
                if l >= 128:
                    break
        if best_len >= 3:
            toks.append(("ref", best_len, best_dist))
            for k in range(i, i + best_len):
                starts.setdefault(pixels[k], []).append(k)
                if cache is not None:
                    cache[_vp8l_cache_idx(pixels[k], cache_bits)] = \
                        pixels[k]
            i += best_len
        else:
            p = pixels[i]
            if cache is not None:
                ci = _vp8l_cache_idx(p, cache_bits)
                toks.append(
                    ("cache", ci) if cache[ci] == p else ("lit", p)
                )
                cache[ci] = p
            else:
                toks.append(("lit", p))
            starts.setdefault(p, []).append(i)
            i += 1
    return toks


def _vp8l_write_image(bw: _LsbWriter, pixels, w: int, h: int,
                      cache_bits: int = 0, main: bool = False,
                      use_max: bool = False) -> None:
    """Write one entropy-coded image: cache info, (main only) the
    no-meta-prefix bit, the five prefix codes from actual token
    frequencies, then the token stream."""
    assert len(pixels) == w * h
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if main:
        bw.write(0, 1)
    toks = _vp8l_lz77(list(pixels), cache_bits)
    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}

    def bump(d, k):
        d[k] = d.get(k, 0) + 1

    for t in toks:
        if t[0] == "lit":
            p = t[1]
            bump(gf, (p >> 8) & 0xFF)
            bump(rf, (p >> 16) & 0xFF)
            bump(bf, p & 0xFF)
            bump(af, (p >> 24) & 0xFF)
        elif t[0] == "cache":
            bump(gf, 280 + t[1])
        else:
            bump(gf, 256 + _vp8l_lz_code(t[1])[0])
            bump(df, _vp8l_lz_code(t[2] + 120)[0])
    g_codes = _vp8l_write_code(
        bw, gf, 256 + 24 + ((1 << cache_bits) if cache_bits else 0),
        use_max,
    )
    r_codes = _vp8l_write_code(bw, rf, 256, use_max)
    b_codes = _vp8l_write_code(bw, bf, 256, use_max)
    a_codes = _vp8l_write_code(bw, af, 256, use_max)
    d_codes = _vp8l_write_code(bw, df, 40, use_max)
    for t in toks:
        if t[0] == "lit":
            p = t[1]
            bw.write_code(*g_codes[(p >> 8) & 0xFF])
            bw.write_code(*r_codes[(p >> 16) & 0xFF])
            bw.write_code(*b_codes[p & 0xFF])
            bw.write_code(*a_codes[(p >> 24) & 0xFF])
        elif t[0] == "cache":
            bw.write_code(*g_codes[280 + t[1]])
        else:
            lc, ex, eb = _vp8l_lz_code(t[1])
            bw.write_code(*g_codes[256 + lc])
            if eb:
                bw.write(ex, eb)
            dc, ex, eb = _vp8l_lz_code(t[2] + 120)
            bw.write_code(*d_codes[dc])
            if eb:
                bw.write(ex, eb)


def _riff_webp(payload: bytes) -> bytes:
    import struct

    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def encode_webp_rgb(pixels, w: int, h: int) -> bytes:
    """General-purpose VP8L encoder entry point: packed-ARGB pixels
    -> a conformant lossless RIFF/WEBP payload. Fixed, nontrivial
    encoding (subtract-green transform, 4-bit color cache,
    max-symbol transmission) — the profile a transcoding sink wants:
    deterministic output, every byte produced from spec machinery
    that the decoder round-trips bit-exactly."""
    assert len(pixels) == w * h and 1 <= w <= 16384 and 1 <= h <= 16384
    bw = _LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)
    bw.write(2, 2)  # subtract green
    coded = [
        (p & 0xFF00FF00)
        | (((((p >> 16) & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF) << 16)
        | (((p & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF)
        for p in pixels
    ]
    bw.write(0, 1)  # end of transforms
    _vp8l_write_image(bw, coded, w, h, cache_bits=4, main=True,
                      use_max=True)
    return _riff_webp(bw.done())


def transcode_webp(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "doc_id") -> DataFrame:
    """END-TO-END image TRANSCODE stage — the normalize-resolution
    step every large-scale multimodal training pipeline runs between
    ingest and storage: decode the WebP payload from spec, downscale
    2x2 by integer box filter (floor mean per channel; odd edge rows
    and columns drop, both sides of the gate agree), RE-ENCODE the
    result as a fresh VP8L payload with :func:`encode_webp_rgb`, then
    decode THAT payload and emit its dims and channel sums. The
    oracle recomputes the downscaled sums in closed form, so the gate
    only passes if decode -> resample -> encode -> decode is
    value-exact end to end — a chain that skips the re-encode (or an
    encoder that is not truly lossless on arbitrary content) cannot
    fake it. Scale: one mapInPandas stage, map-only, zero shuffle;
    both payload generations live and die inside the executor."""
    import numpy as np

    _COLS = ("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {k: [] for k in _COLS}

            def emit(**kv):
                for k, v in kv.items():
                    rows[k].append(v)

            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                w, h, img = _parse_webp(bytes(b))
                w2, h2 = w // 2, h // 2
                if not w2 or not h2:
                    raise ValueError("image too small to downscale")
                blk = img[: 2 * h2, : 2 * w2].reshape(
                    h2, 2, w2, 2, 3
                )
                small = blk.sum(axis=(1, 3)) // 4
                packed = (
                    0xFF000000
                    | (small[:, :, 0].astype("i8") << 16)
                    | (small[:, :, 1].astype("i8") << 8)
                    | small[:, :, 2].astype("i8")
                )
                out = encode_webp_rgb(
                    [int(v) for v in packed.ravel()], w2, h2
                )
                rw, rh, rimg = _parse_webp(out)
                emit(
                    doc_id=doc_id, width=rw, height=rh,
                    sum_r=int(rimg[:, :, 0].sum()),
                    sum_g=int(rimg[:, :, 1].sum()),
                    sum_b=int(rimg[:, :, 2].sum()),
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        batches, PNG_SCHEMA
    )


def _webp_pixels(doc_id: int):
    """Closed-form ARGB content for synth_webp_bytes — the DuckDB
    oracle recomputes these exact formulas. doc_id % 4 == 2 repeats
    each even row (yy = y - y%2), guaranteeing full-row LZ77 matches
    so backward references are exercised, not just possible;
    doc_id % 4 == 3 quantizes the image to 5 scattered pseudo-random
    colors, producing non-adjacent exact repeats whose matches are
    too short for LZ77 — the shape that actually yields color-cache
    HITS (smooth gradients never revisit a value, so without this
    cohort the cache path would be written but never taken)."""
    w = 6 + doc_id % 10
    h = 4 + doc_id % 5
    px = []
    for y in range(h):
        yy = y - (y % 2) if doc_id % 4 == 2 else y
        for x in range(w):
            if doc_id % 4 == 3:
                k = ((x * 7 + y * 11 + doc_id) * 1103515245
                     // 4096) % 5
                r = (doc_id * 5 + k * 37) % 256
                g = (doc_id * 7 + k * 53) % 256
                b = (doc_id * 3 + k * 11) % 256
            else:
                r = (doc_id * 5 + x * 11 + yy * 3) % 256
                g = (doc_id * 7 + x * 3 + yy * 13) % 256
                b = (doc_id * 3 + x * 2 + yy * 7) % 256
            px.append(0xFF000000 | (r << 16) | (g << 8) | b)
    return w, h, px


def synth_webp_bytes(doc_id: int) -> bytes:
    """Deterministic lossless-WebP payload: genuine RIFF/WEBP + VP8L
    bitstream for the closed-form pixels of :func:`_webp_pixels`.
    doc_id cycles the encoding so every implemented decoder path is
    exercised across a corpus: doc%5 selects the transform chain
    (none / subtract-green / tiled predictor, modes cycling through
    all 14 / tiled cross-color / subtract-green THEN predictor —
    inverse order at decode), doc%3==0 adds a color cache of 1-6
    bits, doc%2==0 uses the max-symbol arm, doc%4==2 forces row
    repeats so LZ77 references appear. Lossless end to end, so the
    oracle needs no model of the encoding choices — only of the
    pixel formulas."""
    w, h, px = _webp_pixels(doc_id)
    variant = doc_id % 5
    bw = _LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    coded = list(px)
    if variant in (1, 4):  # subtract green (stream-first)
        bw.write(1, 1)
        bw.write(2, 2)
        out = []
        for p in coded:
            g = (p >> 8) & 0xFF
            out.append(
                (p & 0xFF00FF00)
                | ((((p >> 16) - g) & 0xFF) << 16)
                | ((p - g) & 0xFF)
            )
        coded = out
    if variant in (2, 4):  # tiled predictor transform
        sb = 2  # 4x4 tiles -> multiple tiles per image
        bw.write(1, 1)
        bw.write(0, 2)
        bw.write(sb - 2, 3)
        tw = (w + 3) >> 2
        th = (h + 3) >> 2
        modes = [
            (doc_id + tx + ty * 3) % 14
            for ty in range(th) for tx in range(tw)
        ]
        _vp8l_write_image(
            bw, [0xFF000000 | (m << 8) for m in modes], tw, th
        )
        res = []
        for y in range(h):
            for x in range(w):
                i = y * w + x
                pred = _vp8l_pred_at(
                    coded, i, x, y, w,
                    modes[(y >> sb) * tw + (x >> sb)],
                )
                res.append(_sub_px(coded[i], pred))
        coded = res
    if variant == 3:  # tiled cross-color transform
        sb = 3
        bw.write(1, 1)
        bw.write(1, 2)
        bw.write(sb - 2, 3)
        tw = (w + 7) >> 3
        th = (h + 7) >> 3
        elems = [
            (
                (doc_id * 31 + t * 7) % 256,   # green_to_red
                (doc_id * 17 + t * 13) % 256,  # green_to_blue
                (doc_id * 23 + t * 29) % 256,  # red_to_blue
            )
            for t in range(tw * th)
        ]
        _vp8l_write_image(
            bw,
            [
                0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
                for g2r, g2b, r2b in elems
            ],
            tw, th,
        )
        out = []
        for y in range(h):
            for x in range(w):
                p = coded[y * w + x]
                g2r, g2b, r2b = elems[(y >> sb) * tw + (x >> sb)]
                r = (p >> 16) & 0xFF
                g = (p >> 8) & 0xFF
                b = p & 0xFF
                nr = (r - _ctd(g2r, g)) & 0xFF
                nb = (b - _ctd(g2b, g) - _ctd(r2b, r)) & 0xFF
                out.append((p & 0xFF00FF00) | (nr << 16) | nb)
            # red_to_blue uses the ORIGINAL red; the decoder restores
            # red first, so both sides see the same value
        coded = out
    bw.write(0, 1)  # end of transforms
    cache_bits = 1 + doc_id % 6 if doc_id % 3 == 0 else 0
    _vp8l_write_image(
        bw, coded, w, h, cache_bits, main=True,
        use_max=doc_id % 2 == 0,
    )
    return _riff_webp(bw.done())


def _webp_palette_pixels(doc_id: int):
    """Closed-form palette content: npal spans 2..32, covering every
    pixel-bundling width (8/4/2 pixels per packed byte, plus the
    unbundled > 16 case)."""
    w = 7 + doc_id % 9
    h = 4 + doc_id % 6
    npal = 2 + doc_id % 31
    pal = [
        0xFF000000
        | (((doc_id * 3 + k * 17) % 256) << 16)
        | (((doc_id + k * 29) % 256) << 8)
        | ((k * 41 + doc_id * 7) % 256)
        for k in range(npal)
    ]
    idx = [
        (x * 7 + y * 5 + doc_id) % npal
        for y in range(h) for x in range(w)
    ]
    return w, h, npal, pal, idx


def synth_webp_palette_bytes(doc_id: int) -> bytes:
    """Deterministic VP8L color-indexing payload: delta-coded palette
    sub-image, then the index image packed with the spec's sub-byte
    pixel bundling (width_bits from the palette size). doc%3==0 adds
    a color cache over the packed image."""
    w, h, npal, pal, idx = _webp_palette_pixels(doc_id)
    bw = _LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)
    bw.write(3, 2)
    bw.write(npal - 1, 8)
    deltas, prev = [], 0
    for p in pal:
        deltas.append(_sub_px(p, prev))
        prev = p
    _vp8l_write_image(bw, deltas, npal, 1)
    bw.write(0, 1)  # end of transforms
    wb = 3 if npal <= 2 else 2 if npal <= 4 else 1 if npal <= 16 else 0
    ppu = 1 << wb
    bpp = 8 >> wb
    cw = (w + ppu - 1) // ppu
    coded = []
    for y in range(h):
        for xp in range(cw):
            byte = 0
            for k in range(ppu):
                x = xp * ppu + k
                if x < w:
                    byte |= idx[y * w + x] << (k * bpp)
            coded.append(0xFF000000 | (byte << 8))
    cache_bits = 1 + doc_id % 5 if doc_id % 3 == 0 else 0
    _vp8l_write_image(bw, coded, cw, h, cache_bits, main=True)
    return _riff_webp(bw.done())


def synth_mixed_bytes(doc_id: int) -> bytes:
    """One row of a HETEROGENEOUS media corpus: doc_id % 6 selects the
    container actually written (png/jpeg/flac/wav/mp4/ppm — the six
    formats the m_ingest_dispatch gate corpus has carried since its
    oracle was written; the dispatcher itself routes eleven), so a
    scan over the column sees six magics interleaved — the shape a
    real multimodal lake has, where format is a per-object property
    the reader must sniff, not a partition you can trust."""
    return (
        synth_png_bytes,
        synth_jpeg_bytes,
        synth_flac_bytes,
        synth_wav_bytes,
        synth_mp4_bytes,
        synth_ppm_bytes,
    )[doc_id % 6](doc_id)


def sniff_payload_kind(data: bytes) -> str:
    """Identify a media payload from its magic bytes alone (the only
    trustworthy signal at ingest — extensions lie): PNG signature,
    JPEG SOI, fLaC stream marker, RIFF/WAVE, ISO-BMFF ftyp, PPM P6,
    GIF87a/GIF89a, TIFF II*/MM*, BMP "BM"+known-header-size.
    Raises ValueError for anything unrecognized so corrupt objects
    surface as clean task errors, same failure surface as the
    decoders."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        return "tiff"
    if (
        data[:2] == b"BM"
        and len(data) >= 18
        and int.from_bytes(data[14:18], "little")
        in (40, 52, 56, 108, 124)
    ):  # "BM" alone is weak magic; require an info-header size the
        # parser actually accepts (OS/2 core headers, size 12, are
        # rejected by _parse_bmp, so sniffing them as 'bmp' would
        # split one failure into two inconsistent messages)
        return "bmp"
    if data[:2] == b"\xff\xd8":
        return "jpeg"
    if data[:4] == b"fLaC":
        return "flac"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    if data[4:8] == b"ftyp":
        return "mp4"
    if len(data) > 2 and data[:2] == b"P6" and data[2:3].isspace():
        return "ppm"
    raise ValueError("unrecognized payload magic")


INGEST_SCHEMA = (
    "doc_id long, kind string, width int, height int, n_units long, "
    "value_sum long"
)


def ingest_dispatch(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "doc_id") -> DataFrame:
    """END-TO-END multimodal ingest over a MIXED-format binary column:
    sniff each payload's magic, route it to the matching from-spec
    decoder (PNG unfilter+inflate, GIF LZW+palette, TIFF strip
    assembly, BMP rows, baseline or progressive JPEG, FLAC, WAV PCM,
    IMA ADPCM WAV and G.711 mu-law/A-law WAV — RIFF magic is shared,
    so the fmt tag routes within the wav kind — lossless WebP (RIFF
    again, split on the WEBP form type), MP4 container scan, PPM:
    twelve formats),
    and emit one UNIFIED row per object — kind,
    pixel dims where the format has them (NULL for audio), a size in
    the format's natural unit (pixels / samples / container samples),
    and an integer content checksum (channel-sum over decoded values;
    stsz byte total for the container-only format). This is the first
    operator a 100-TB curation pipeline runs: one pass, per-object
    dispatch, no per-format job. Scale: Arrow-batched mapInPandas,
    zero shuffle; payload bytes never leave the executor, and the
    per-row work is exactly one decoder invocation — the dispatch
    itself is O(16 bytes)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in ("doc_id", "kind", "width", "height", "n_units",
                          "value_sum")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(b)
                kind = sniff_payload_kind(data)
                if kind == "png":
                    w, h, img = _parse_png(data)
                    width, height = w, h
                    n_units, value_sum = w * h, int(img.sum())
                elif kind == "gif":
                    w, h, img = _parse_gif(data)
                    width, height = w, h
                    n_units, value_sum = w * h, int(img.sum())
                elif kind == "tiff":
                    w, h, img = _parse_tiff(data)
                    width, height = w, h
                    n_units, value_sum = w * h, int(img.sum())
                elif kind == "bmp":
                    w, h, img = _parse_bmp(data)
                    width, height = w, h
                    n_units, value_sum = w * h, int(img.sum())
                elif kind == "jpeg":
                    w, h, img = _parse_jpeg(data)
                    width, height = w, h
                    n_units, value_sum = w * h, int(img.sum())
                elif kind == "flac":
                    _, s = _parse_flac(data)
                    width = height = None
                    n_units, value_sum = len(s), int(s.sum())
                elif kind == "wav":
                    # RIFF magic alone can't tell PCM from ADPCM —
                    # triage by a LENIENT fmt-tag peek (never
                    # raises): 0x0011 routes to the from-spec IMA
                    # ADPCM decoder (stdlib wave rejects every
                    # non-PCM tag); everything else keeps the exact
                    # pre-round acceptance surface of stdlib wave
                    tag = _riff_fmt_tag(data)
                    if tag == 0x11:
                        _rate, _nch, s = _parse_wav_adpcm(data)
                        kind = "wav-adpcm"
                    elif tag in (0x06, 0x07):
                        _rate, _nch, s = _parse_wav_g711(data)
                        kind = "wav-g711"
                    else:
                        # stdlib wave leaks bare RuntimeError
                        # (py3.11 chunk parsing) and EOFError on
                        # corrupt headers, beyond its own
                        # wave.Error. Width-aware via _pcm_samples
                        # (8/16/24/32-bit), same as the decode_wav
                        # gate — a hardcoded '<i2' here would
                        # silently mis-sum 8/24/32-bit real-corpus
                        # WAVs.
                        try:
                            with wave.open(
                                io.BytesIO(data), "rb"
                            ) as wv:
                                s = _pcm_samples(
                                    wv.readframes(wv.getnframes()),
                                    wv.getsampwidth(),
                                )
                        except (
                            wave.Error, EOFError, RuntimeError
                        ) as exc:
                            raise ValueError(
                                "corrupt WAV payload"
                            ) from exc
                    width = height = None
                    n_units, value_sum = len(s), int(s.sum())
                elif kind == "webp":
                    w, h, img = _parse_webp(data)
                    width, height = w, h
                    n_units, value_sum = w * h, int(img.sum())
                elif kind == "ppm":
                    w, h, img = _parse_ppm(data)
                    width, height = w, h
                    n_units, value_sum = w * h, int(img.sum())
                else:  # mp4: container triage, no frame decode
                    meta = _parse_mp4(data)
                    width, height = meta["width"], meta["height"]
                    n_units = meta["n_samples"]
                    value_sum = meta["sum_sample_bytes"]
                rows["doc_id"].append(doc_id)
                rows["kind"].append(kind)
                rows["width"].append(width)
                rows["height"].append(height)
                rows["n_units"].append(n_units)
                rows["value_sum"].append(value_sum)
            out = pd.DataFrame(rows)
            out["width"] = pd.array(rows["width"], dtype="Int32")
            out["height"] = pd.array(rows["height"], dtype="Int32")
            yield out

    return df.select(id_col, payload_col).mapInPandas(
        batches, INGEST_SCHEMA
    )


class _LazySynthFrame(ClassicDataFrame):
    """``synth_payloads`` result that FUSES synthesis into the
    consumer's decode ``mapInPandas``.

    Every codec gate is ``decode_x(synth_payloads(docs, kind))`` where
    ``decode_x`` ends in ``df.select(id, payload).mapInPandas(fn,
    schema)``. Run as two separate mapInPandas operators that seam
    costs a FIXED second Python pass per query (~0.3 s at 32 tasks:
    spin up/feed a second worker chain) plus a round trip of every
    payload byte through the JVM between synth and decode — pure
    boundary overhead, no computation (optimization guide §4: one
    boundary crossing, Arrow both ways). This subclass intercepts
    exactly that seam: ``select("doc_id", "payload")`` returns self and
    ``mapInPandas(fn, schema)`` composes synth+decode into ONE
    mapInPandas over the key-only exchange, so payload bytes are born
    and consumed inside the same Python worker. Any OTHER use (joins,
    filters, collect, different column lists) falls back to the
    materialized synth chain this class IS (its own jdf), with
    unchanged semantics — fusion is a pure plan rewrite, the bytes and
    the decode math are identical either way.
    """

    def __init__(self, seeds: DataFrame, synth_batches) -> None:
        real = seeds.mapInPandas(
            synth_batches, "doc_id long, payload binary"
        )
        super().__init__(real._jdf, real.sparkSession)
        self._synth_seeds = seeds
        self._synth_batches = synth_batches

    def select(self, *cols):  # type: ignore[override]
        # string-only compare: a Column operand would turn == into a
        # Column expression (CANNOT_CONVERT_COLUMN_INTO_BOOL)
        if all(isinstance(c, str) for c in cols) and list(cols) == [
            "doc_id",
            "payload",
        ]:
            return self
        return super().select(*cols)

    def mapInPandas(self, func, schema, barrier=False, profile=None):  # type: ignore[override]
        synth = self._synth_batches

        def fused(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            yield from func(synth(it))

        return self._synth_seeds.mapInPandas(fused, schema, barrier, profile)


def synth_payloads(docs: DataFrame, kind: str) -> DataFrame:
    """Attach deterministic WAV/PPM payload bytes per doc_id — built
    executor-side in mapInPandas so payload bytes never touch the
    driver (the generator stands in for a real media scan).

    The doc_id seed table is hash-repartitioned to the cluster's
    default parallelism BEFORE the synth/decode mapInPandas chain:
    the driver fixtures are one single-row-group parquet file, so the
    scan is one task and without this every payload would be built
    and decoded by ONE Python worker. The exchange moves only the
    8-byte doc_id column — payload bytes are still generated and
    consumed executor-side, after the shuffle (optimization guide §8:
    shuffle the lightweight proxy, never the heavy payload; §2.5:
    partition count derives from the environment, not a constant).
    On a real media scan (many files / row groups) the scan itself
    provides the parallelism and this exchange coalesces to a cheap
    key-only reshuffle.

    The returned frame additionally fuses itself into the consuming
    decoder's mapInPandas (see :class:`_LazySynthFrame`), so the
    standard ``decode_x(synth_payloads(...))`` chain runs as a SINGLE
    Python pass above the key-only exchange."""
    maker = {
        "wav": synth_wav_bytes,
        "wav_adpcm": synth_wav_adpcm_bytes,
        "wav_g711": synth_wav_g711_bytes,
        "webp": synth_webp_bytes,
        "webp_palette": synth_webp_palette_bytes,
        "ppm": synth_ppm_bytes,
        "png": synth_png_bytes,
        "jpeg": synth_jpeg_bytes,
        "jpeg_color": synth_jpeg_color_bytes,
        "jpeg_422": synth_jpeg_422_bytes,
        "mp4": synth_mp4_bytes,
        "flac": synth_flac_bytes,
        "flac_stereo": synth_flac_stereo_bytes,
        "mjpeg_mp4": synth_mjpeg_mp4_bytes,
        "png_adam7": synth_png_adam7_bytes,
        "mixed": synth_mixed_bytes,
        "flac_multi": synth_flac_multichannel_bytes,
        "jpeg_rst": synth_jpeg_rst_bytes,
        "png_types": synth_png_types_bytes,
        "flac_wasted": synth_flac_wasted_bytes,
        "jpeg_progressive": synth_jpeg_progressive_bytes,
        "gif": synth_gif_bytes,
        "gif_animated": synth_gif_animated_bytes,
        "tiff": synth_tiff_bytes,
        "bmp": synth_bmp_bytes,
    }[kind]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [maker(int(d)) for d in pdf["doc_id"]],
                }
            )

    seeds = docs.select("doc_id")
    n = docs.sparkSession.sparkContext.defaultParallelism
    return _LazySynthFrame(seeds.repartition(n, "doc_id"), batches)


VAD_SCHEMA = (
    "doc_id long, n_frames int, n_active int, max_run int, "
    "energy_active long"
)

#: frame size in samples and the per-frame energy gate for vad_wav.
#: 349525 ~ E[v^2] of a uniform +/-1024 signal (1024^2 / 3), so a
#: frame is "active" when its mean square exceeds the uniform-noise
#: expectation — a deterministic integer threshold both the decoder
#: and the SQL oracle can apply exactly.
VAD_FRAME = 16
VAD_THRESHOLD = VAD_FRAME * 349525


def vad_wav(df: DataFrame, payload_col: str = "payload",
            id_col: str = "doc_id") -> DataFrame:
    """Energy-based voice-activity detection over decoded WAV audio:
    the RIFF payload is parsed (stdlib ``wave``), samples are cut into
    ``VAD_FRAME``-sample frames (tail remainder dropped — both sides
    of the oracle gate agree on full frames only), each frame's
    integer energy sum is compared against ``VAD_THRESHOLD``, and the
    per-document outputs are frame counts, active-frame counts, the
    longest consecutive active run, and the total energy inside
    active frames. Integer-exact end to end; Arrow-batched
    mapInPandas, payload bytes never touch the driver."""
    import io
    import wave

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: [] for k in ("doc_id", "n_frames", "n_active",
                                "max_run", "energy_active")
            }
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                with wave.open(io.BytesIO(bytes(b)), "rb") as w:
                    if w.getsampwidth() != 2:
                        raise ValueError(f"doc {doc_id}: only 16-bit PCM")
                    s = np.frombuffer(
                        w.readframes(w.getnframes()), dtype="<i2"
                    ).astype("i8")
                nf = len(s) // VAD_FRAME
                fr = s[: nf * VAD_FRAME].reshape(nf, VAD_FRAME)
                energy = (fr * fr).sum(axis=1)
                active = energy > VAD_THRESHOLD
                run = best = 0
                for a in active:
                    run = run + 1 if a else 0
                    best = max(best, run)
                rows["doc_id"].append(doc_id)
                rows["n_frames"].append(nf)
                rows["n_active"].append(int(active.sum()))
                rows["max_run"].append(best)
                rows["energy_active"].append(int(energy[active].sum()))
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(batches, VAD_SCHEMA)


AHASH_SCHEMA = "doc_id long, ahash int"


def ahash_ppm(df: DataFrame, payload_col: str = "payload",
              id_col: str = "doc_id") -> DataFrame:
    """Average-hash over REAL decoded PPM pixels: nearest-neighbor
    sample a 4x4 luminance grid (lum = r+g+b, integer), set bit (j,i)
    iff 16*lum > sum of the 16 sampled luminances (strict integer
    compare — no float mean, so the cross-engine decision is exact),
    pack 16 bits row-major. The actual perceptual-hash shape
    (downsample -> threshold-at-mean -> bit pack) on actual decoded
    bytes; Arrow-batched mapInPandas."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                w, h, img = _parse_ppm(bytes(b))
                lum = img.sum(axis=2)  # (h, w) integer luminance
                xs = (np.arange(4) * w) // 4
                ys = (np.arange(4) * h) // 4
                grid = lum[np.ix_(ys, xs)]  # (j, i)
                total = int(grid.sum())
                bits = (16 * grid > total).astype("i8")
                ah = int((bits.ravel() << np.arange(16)).sum())
                ids.append(doc_id)
                hashes.append(ah)
            yield pd.DataFrame({"doc_id": ids, "ahash": hashes})

    return df.select(id_col, payload_col).mapInPandas(batches, AHASH_SCHEMA)


PPM_STATS_SCHEMA = (
    "doc_id long, n_px int, sum_r long, sum_g long, sum_b long, "
    "ssq_r long, ssq_g long, ssq_b long"
)


def ppm_channel_stats(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "doc_id") -> DataFrame:
    """Per-channel integer first and second moments over REAL decoded
    PPM pixels — the sufficient statistics for exact variance
    (n*ssq - sum^2), used by flat/broken-image detection."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("doc_id", "n_px", "sum_r", "sum_g",
                                    "sum_b", "ssq_r", "ssq_g", "ssq_b")}
            for doc_id, b in zip(pdf[id_col], pdf[payload_col]):
                w, h, img = _parse_ppm(bytes(b))
                rows["doc_id"].append(doc_id)
                rows["n_px"].append(w * h)
                for ci, name in enumerate("rgb"):
                    ch = img[:, :, ci]
                    rows[f"sum_{name}"].append(int(ch.sum()))
                    rows[f"ssq_{name}"].append(int((ch * ch).sum()))
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        batches, PPM_STATS_SCHEMA
    )
