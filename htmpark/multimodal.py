"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for 100 TB multimodal tables: media lives as an opaque ``binary``
column next to typed metadata (mime, width/height, duration), processed by
Arrow-batched ``mapInPandas`` stages.  The Spark-side plumbing here (schema,
batch iteration, partition sizing) is real and tested.  Codec coverage:

* REAL containers, stdlib-only: uncompressed 24-bpp BMP (``struct`` —
  encode_bmp/decode_image), ICO icon directories wrapping such BMP
  entries (encode_ico; decode_image re-frames the entry and routes it
  through the SAME BMP decoder), and 16-bit PCM WAV (the stdlib
  ``wave`` module — encode_wav/decode_audio).  These run end-to-end on
  real pixels/samples, so resize_stage/feature_stage exercise genuine
  decoded data.
* every other container (PNG/JPEG/GIF — including PNG-framed ICO
  entries — and compressed audio) still raises NotImplementedError
  unless ``fake=True`` substitutes the deterministic pseudo-decoder —
  those codecs need libraries this container lacks.
"""

from __future__ import annotations

import io
import struct
import wave

from pyspark.sql import DataFrame, functions as F

from .job import python_stage

IMAGE_MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"BM": "image/bmp",
    b"GIF8": "image/gif",
    # ICONDIR: reserved=0, type=1 (little-endian) — 4 bytes, because the
    # leading pair alone (\x00\x00) is far too promiscuous a magic
    b"\x00\x00\x01\x00": "image/vnd.microsoft.icon",
}


def sniff_mime(payload: bytes) -> str:
    # RIFF is a container family: only RIFF....WAVE is audio/wav (WebP
    # is RIFF....WEBP, AVI is RIFF....AVI ) — sniffing on the outer
    # magic alone would route images into the audio decoder
    if payload[:4] == b"RIFF":
        return ("audio/wav" if payload[8:12] == b"WAVE"
                else "application/octet-stream")
    for magic, mime in IMAGE_MAGIC.items():
        if payload[: len(magic)] == magic:
            return mime
    return "application/octet-stream"


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """Serialize a top-down BGR pixel matrix (``height*width*3`` bytes) as
    an uncompressed 24-bpp BI_RGB BMP (BITMAPFILEHEADER + 40-byte
    BITMAPINFOHEADER, rows stored bottom-up and padded to 4 bytes — the
    classic Windows 3.x layout every decoder accepts).  Deterministic:
    byte-identical output for identical input."""
    if len(pixels) != height * width * 3:
        raise ValueError("pixels must be height*width*3 bytes of BGR")
    row_len = width * 3
    pad = (-row_len) % 4
    body = bytearray()
    for r in range(height - 1, -1, -1):  # bottom-up row order
        body += pixels[r * row_len:(r + 1) * row_len]
        body += b"\x00" * pad
    off = 14 + 40
    size = off + len(body)
    hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(body), 2835, 2835, 0, 0)
    return hdr + dib + bytes(body)


def encode_ico(width: int, height: int, pixels: bytes) -> bytes:
    """Serialize a top-down BGR pixel matrix as a single-image ICO: the
    ICONDIR/ICONDIRENTRY directory (6 + 16 bytes) framing a BMP-style
    entry — the BITMAPINFOHEADER with DOUBLED biHeight (the format
    stores XOR color rows then a 1-bpp AND transparency mask, both
    bottom-up; mask here all-opaque zeros), NO BITMAPFILEHEADER.
    Deterministic; built on encode_bmp so the two containers cannot
    drift (layout per the public ICO format as documented for Windows
    ICONDIR/BITMAPINFOHEADER structures)."""
    if not 1 <= width <= 256 or not 1 <= height <= 256:
        raise ValueError("ICO images are at most 256x256")
    bmp = encode_bmp(width, height, pixels)
    dib = bytearray(bmp[14:54])
    struct.pack_into("<i", dib, 8, height * 2)  # XOR + AND mask rows
    xor = bmp[54:]
    and_mask = b"\x00" * ((((width + 31) // 32) * 4) * height)
    entry_size = 40 + len(xor) + len(and_mask)
    hdr = struct.pack("<HHH", 0, 1, 1)
    entry = struct.pack("<BBBBHHII", width % 256, height % 256, 0, 0,
                        1, 24, entry_size, 6 + 16)
    return hdr + entry + bytes(dib) + xor + and_mask


def decode_image(payload: bytes, fake: bool = False):
    """Decode an image payload to (height, width, channels) + pixels.

    REAL paths: uncompressed 24-bpp BI_RGB BMP via ``struct`` — returns
    ``pixels`` as the top-down BGR byte stream (padding stripped, bottom-up
    storage unflipped) and ``pix_checksum`` = sum of those pixel bytes mod
    65536.  Top-down BMPs (negative height) are handled; other bit depths /
    compressions raise ValueError (a corrupt or unsupported BMP must fail
    loudly, never emit garbage pixels).  ICO directories route their FIRST
    entry through the same BMP decoder: the entry's BITMAPINFOHEADER
    (doubled biHeight = XOR rows + AND mask) is re-framed as a standalone
    BMP covering only the XOR color rows, so every BMP validation above
    applies to icon entries too; PNG-framed entries are
    NotImplementedError (they need a PNG codec), malformed directories
    ValueError.

    Other containers (PNG/JPEG/GIF) need an imaging library this
    container lacks: NotImplementedError, or the deterministic pseudo-decode
    when ``fake=True`` (no ``pixels`` key — plumbing tests only)."""
    if payload[:4] == b"\x00\x00\x01\x00" and not fake:
        if len(payload) < 6 + 16:
            raise ValueError("truncated ICO directory")
        count = struct.unpack_from("<H", payload, 4)[0]
        if count < 1:
            raise ValueError("empty ICO directory")
        entry_bytes, off = struct.unpack_from("<II", payload, 6 + 8)
        if payload[off:off + 4] == b"\x89PNG":
            raise NotImplementedError(
                "PNG-framed ICO entry requires an imaging library (not "
                "in container); only BMP-framed entries are implemented")
        if off + 40 > len(payload) or off + entry_bytes > len(payload):
            raise ValueError("truncated ICO entry")
        dib = bytearray(payload[off:off + 40])
        dib_size, width, height2 = struct.unpack_from("<Iii", dib, 0)
        if dib_size != 40:
            raise ValueError(
                f"unsupported ICO entry header (dib={dib_size}): only "
                f"BITMAPINFOHEADER-framed entries are implemented")
        if height2 <= 0 or height2 % 2:
            # ICO entries are always bottom-up with biHeight = 2*height
            raise ValueError(f"invalid ICO entry height {height2} "
                             f"(must be a positive even XOR+AND total)")
        height = height2 // 2
        struct.pack_into("<i", dib, 8, height)
        row_len = width * 3
        stride = row_len + ((-row_len) % 4)
        xor = payload[off + 40: off + 40 + stride * height]
        hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(xor), 0, 0,
                          14 + 40)
        return decode_image(hdr + bytes(dib) + xor)
    if payload[:2] == b"BM" and not fake:
        if len(payload) < 54:
            raise ValueError("truncated BMP header")
        off = struct.unpack_from("<I", payload, 10)[0]
        dib_size, width, height = struct.unpack_from("<Iii", payload, 14)
        planes, bpp = struct.unpack_from("<HH", payload, 26)
        compression = struct.unpack_from("<I", payload, 30)[0]
        if dib_size < 40 or bpp != 24 or compression != 0:
            raise ValueError(
                f"unsupported BMP (dib={dib_size}, bpp={bpp}, "
                f"compression={compression}): only uncompressed 24-bpp "
                f"BI_RGB is implemented")
        if width <= 0 or height == 0:
            # a negative width has no top-down analogue: it would make
            # the stride negative and the truncation bound vacuous,
            # returning empty "pixels" instead of failing loudly
            raise ValueError(f"invalid BMP dimensions {width}x{height}")
        top_down = height < 0
        height = abs(height)
        row_len = width * 3
        stride = row_len + ((-row_len) % 4)
        if off < 14 + dib_size:
            # an offset pointing INSIDE the headers (e.g. 0) would
            # silently decode header bytes as "pixels" — the corrupt
            # input must fail loudly, like every other malformed field
            raise ValueError(
                f"BMP pixel-data offset {off} overlaps the headers "
                f"(must be >= {14 + dib_size})")
        if off + stride * height > len(payload):
            raise ValueError("truncated BMP pixel data")
        rows = [payload[off + r * stride: off + r * stride + row_len]
                for r in range(height)]
        if not top_down:
            rows.reverse()  # stored bottom-up -> emit top-down
        pixels = b"".join(rows)
        return {"height": height, "width": width, "channels": 3,
                "pixels": pixels, "pix_checksum": sum(pixels) % 65536}
    if not fake:
        raise NotImplementedError(
            "non-BMP image decoding requires an imaging library (not in "
            "container); pass fake=True for the deterministic test decoder"
        )
    n = len(payload)
    h = (n % 480) + 1
    w = (n % 640) + 1
    checksum = sum(payload[:256]) % 65536
    return {"height": h, "width": w, "channels": 3, "pix_checksum": checksum}


def encode_wav(samples, sample_rate: int) -> bytes:
    """Serialize 16-bit signed PCM mono samples (ints in [-32768, 32767])
    as a RIFF/WAVE container via the stdlib ``wave`` module."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_audio(payload: bytes, fake: bool = False):
    """Decode an audio payload to (n_samples, sample_rate) + samples.

    REAL path: RIFF/WAVE PCM via the stdlib ``wave`` module — returns
    ``samples`` (signed ints, channel-interleaved) and ``sample_checksum``
    = sum of the samples' unsigned 16-bit representations mod 65536.
    Only 16-bit PCM is decoded to samples (8/24/32-bit raise ValueError).

    Non-WAV containers raise NotImplementedError, or return the
    deterministic pseudo-decode when ``fake=True``.  A RIFF payload
    that is not a decodable WAVE (WebP/AVI share the outer magic;
    truncated or non-PCM WAVEs) raises ValueError — the documented
    corrupt-input type, never a leaked wave.Error/struct.error."""
    if payload[:4] == b"RIFF" and not fake:
        try:
            with wave.open(io.BytesIO(payload), "rb") as w:
                nch, width, rate, nframes = (
                    w.getnchannels(), w.getsampwidth(),
                    w.getframerate(), w.getnframes())
                if width != 2:
                    raise ValueError(f"only 16-bit PCM implemented, got "
                                     f"{8 * width}-bit")
                raw = w.readframes(nframes)
        except (wave.Error, EOFError) as e:
            raise ValueError(f"not a decodable RIFF/WAVE payload: {e}")
        if len(raw) != nframes * nch * 2:
            raise ValueError("truncated WAV sample data")
        samples = list(struct.unpack(f"<{nframes * nch}h", raw))
        return {"n_samples": nframes * nch, "sample_rate": rate,
                "n_channels": nch, "samples": samples,
                "sample_checksum": sum(s & 0xFFFF for s in samples) % 65536}
    if not fake:
        raise NotImplementedError(
            "non-WAV audio decoding requires an audio library (not in "
            "container); pass fake=True for the deterministic test decoder"
        )
    return {"n_samples": len(payload) // 2, "sample_rate": 16000}


def frame_sample_indices(n_frames: int, k: int) -> list[int]:
    """Deterministic uniform frame sampling (video path)."""
    if n_frames <= 0 or k <= 0:
        return []
    if k >= n_frames:
        return list(range(n_frames))
    return [(i * n_frames) // k for i in range(k)]


def image_meta_stage(df: DataFrame, payload_col: str = "payload",
                     fake: bool = True) -> DataFrame:
    """mapInPandas stage: binary payloads -> typed image metadata rows.

    Real Spark plumbing (Arrow batches, explicit output schema); the decode
    inside is the stub above.
    """
    import pandas as pd

    other = [c for c in df.columns if c != payload_col]

    def run(batches):
        for pdf in batches:
            pays = pdf[payload_col]
            metas = [decode_image(bytes(p), fake=fake) for p in pays]
            out = {c: pdf[c] for c in other}
            out["mime"] = [sniff_mime(bytes(p)) for p in pays]
            out["height"] = pd.array([m["height"] for m in metas], dtype="int32")
            out["width"] = pd.array([m["width"] for m in metas], dtype="int32")
            out["pix_checksum"] = pd.array([m["pix_checksum"] for m in metas], dtype="int32")
            yield pd.DataFrame(out)

    schema = ", ".join(
        [f"{c} {dict(df.dtypes)[c]}" for c in other]
        + ["mime string", "height int", "width int", "pix_checksum int"]
    )
    return df.mapInPandas(python_stage(run), schema)


def resize_nn(pixels: bytes, h: int, w: int,
              target_h: int, target_w: int) -> bytes:
    """Nearest-neighbor resample of a top-down BGR matrix — vectorized
    numpy fancy-indexing (the only loop is C-side), deterministic integer
    index math (src = dst * src_dim // dst_dim, the standard NN grid)."""
    import numpy as np

    a = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)
    ri = (np.arange(target_h) * h) // target_h
    ci = (np.arange(target_w) * w) // target_w
    return a[ri][:, ci].tobytes()


def resize_stage(df: DataFrame, target_h: int = 224, target_w: int = 224,
                 payload_col: str = "payload", fake: bool = True) -> DataFrame:
    """mapInPandas stage: decode -> resize to (target_h, target_w).

    Real plumbing (Arrow batches, fixed output schema, stateless map — at
    100 TB this fuses with the scan and never shuffles).  BMP and ICO
    payloads take the REAL path end-to-end: decode_image yields actual
    pixels,
    resize_nn resamples them, and resized_checksum sums the RESIZED pixel
    bytes.  Containers without an in-container codec keep the
    deterministic fake (stride-sampled payload byte sum) under
    ``fake=True``.  The aspect-ratio metadata (scale numerator/denominator
    as exact ints) is emitted on both paths."""
    import pandas as pd

    other = [c for c in df.columns if c != payload_col]

    def run(batches):
        for pdf in batches:
            pays = [bytes(p) for p in pdf[payload_col]]
            metas = [decode_image(
                p, fake=(fake and p[:2] != b"BM"
                         and p[:4] != b"\x00\x00\x01\x00"))
                     for p in pays]
            sums = []
            for p, m in zip(pays, metas):
                if "pixels" in m:  # real decode -> real resample
                    sums.append(sum(resize_nn(
                        m["pixels"], m["height"], m["width"],
                        target_h, target_w)) % 65536)
                else:
                    s = max(1, m["height"] * m["width"]
                            // (target_h * target_w))
                    sums.append(sum(p[::s]) % 65536)
            out = {c: pdf[c] for c in other}
            out["rh"] = pd.array([target_h] * len(pays), dtype="int32")
            out["rw"] = pd.array([target_w] * len(pays), dtype="int32")
            out["scale_num"] = pd.array([m["height"] for m in metas], dtype="int32")
            out["scale_den"] = pd.array([target_h] * len(pays), dtype="int32")
            out["resized_checksum"] = pd.array(sums, dtype="int32")
            yield pd.DataFrame(out)

    schema = ", ".join(
        [f"{c} {dict(df.dtypes)[c]}" for c in other]
        + ["rh int", "rw int", "scale_num int", "scale_den int",
           "resized_checksum int"])
    return df.mapInPandas(python_stage(run), schema)


def content_bytes(payload: bytes) -> bytes:
    """The DECODED content byte stream of a payload with an in-container
    codec: BMP/ICO -> top-down BGR pixel bytes, WAV -> little-endian
    16-bit sample bytes.  Raises NotImplementedError for containers
    without one (the caller decides whether a fake is acceptable)."""
    if payload[:2] == b"BM" or payload[:4] == b"\x00\x00\x01\x00":
        return decode_image(payload)["pixels"]
    if payload[:4] == b"RIFF":
        samples = decode_audio(payload)["samples"]
        return struct.pack(f"<{len(samples)}h", *samples)
    raise NotImplementedError(
        "no in-container codec for this payload; feature extraction over "
        "raw container bytes would hash headers, not content")


def feature_stage(df: DataFrame, n_buckets: int = 8,
                  payload_col: str = "payload", fake: bool = True) -> DataFrame:
    """mapInPandas stage: payload -> fixed-dim feature vector
    (``array<int>`` histogram buckets — the deterministic stand-in for an
    embedding model).  With ``fake=False`` the histogram runs over REAL
    decoded content (BMP pixels / WAV sample bytes via content_bytes);
    containers without an in-container codec then fail loudly.  With
    ``fake=True`` it buckets the raw payload bytes (plumbing tests).  The
    schema/batch shape is exactly what a real encoder stage emits
    (fixed-width vector per row, stateless map); swap the histogram for a
    model call and nothing else changes.  Integer features keep any
    downstream comparison engine-exact."""
    import numpy as np
    import pandas as pd

    other = [c for c in df.columns if c != payload_col]

    def run(batches):
        for pdf in batches:
            feats = []
            for p in pdf[payload_col]:
                p = bytes(p)
                data = p if fake else content_bytes(p)
                # widen before the multiply: uint8 * n_buckets wraps at 255
                a = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
                feats.append(np.bincount(a * n_buckets // 256,
                                         minlength=n_buckets)
                             .astype("int64").tolist())
            out = {c: pdf[c] for c in other}
            out["features"] = feats
            yield pd.DataFrame(out)

    schema = ", ".join([f"{c} {dict(df.dtypes)[c]}" for c in other]
                       + ["features array<int>"])
    return df.mapInPandas(python_stage(run), schema)
