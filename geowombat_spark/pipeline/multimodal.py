"""Multimodal (interleaved text+media) column plumbing.

The engine's canonical document shape (BASELINE.json input_hint) is

    doc_id: string/bigint
    spans:  array<struct<kind:string, text:string, media_ref:string,
                         offset:int>>

Spans are OPAQUE PAYLOAD to every spatial/dedup operator: they must survive
joins, shuffles and sinks byte-identically (span-sequence equality). The
invariant is enforced with ``span_hash`` — a canonical md5 over the ordered
(kind, text, media_ref, offset) tuples — computed as a pure Column
expression so it can be re-derived on either side of any shuffle and in the
SQL oracle.

Media handling: media bytes are opaque ``binary`` columns with typed
metadata. The decode / feature-extract / resize steps are Pandas-UDF
``mapInPandas`` stages. The decode is REAL for image formats a pure-numpy
parser (+ stdlib zlib) covers — binary PPM, uncompressed 24-bit BMP, and
8-bit non-interlaced PNG with all five filter types (:func:`decode_ppm` /
:func:`decode_bmp` / :func:`decode_png`, exercised by
:func:`decode_media` and :func:`resize_media`); payloads without a known
container fall back to a deterministic md5-derived stub (``_fake_decode``)
— swap that for a PIL/ffmpeg call in production (clearly marked below),
the UDF plumbing stays identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import md5_int, tokens

SPAN_SCHEMA = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def derive_spans(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize an interleaved span sequence from plain text (JVM-side).

    Every token whose portable hash ≡ 0 (mod 7) becomes an ``image`` span
    pointing at ``media://<md5(token)>``; all others are ``text`` spans.
    ``offset`` is the token index. Deterministic, so the oracle can rebuild
    the identical sequence.
    """
    toks = tokens(F.col(text_col))
    spans = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda i: F.struct(
            F.when(md5_int(F.element_at(toks, i + 1)) % 7 == 0, "image")
            .otherwise("text")
            .alias("kind"),
            F.element_at(toks, i + 1).alias("text"),
            F.when(
                md5_int(F.element_at(toks, i + 1)) % 7 == 0,
                F.concat(F.lit("media://"), F.md5(F.element_at(toks, i + 1))),
            )
            .otherwise(F.lit(""))
            .alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return df.withColumn("spans", spans)


def _span_field(x: Column) -> Column:
    """INJECTIVE field encoding: 'V<len>:<value>' or 'N0:' for NULL.

    A bare comma-join is not injective — span text routinely contains
    commas (('a,b','c') vs ('a','b,c') collided) and concat_ws silently
    skips NULLs, so a field mutation of exactly that shape passed the
    span-hash parity check. Length prefixes make the concatenated stream
    self-delimiting regardless of field content."""
    return F.when(x.isNull(), F.lit("N0:")).otherwise(
        F.concat(F.lit("V"), F.length(x).cast("string"), F.lit(":"), x)
    )


def span_hash_col(spans_col: str = "spans") -> Column:
    """Canonical hash of the ordered span sequence (the parity invariant).

    md5 over the concatenation of per-span units, each the four
    length-prefixed fields (kind, text, media_ref, offset) — see
    :func:`_span_field` for why the encoding is injective. Any reorder,
    drop, or field mutation changes the hash.
    """
    units = F.transform(
        F.col(spans_col),
        lambda s: F.concat(
            _span_field(s["kind"]),
            _span_field(s["text"]),
            _span_field(s["media_ref"]),
            _span_field(s["offset"].cast("string")),
        ),
    )
    return F.md5(F.concat_ws("", units))


def with_span_hash(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    return df.withColumn("span_hash", span_hash_col(spans_col))


def media_refs(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Explode the media spans into a (doc_id, media_ref, offset) table."""
    media = F.filter(F.col(spans_col), lambda s: s["kind"] != "text")
    return df.select(
        "doc_id", F.explode(media).alias("m")
    ).select("doc_id", F.col("m.media_ref"), F.col("m.offset"))


def attach_media_bytes(df: DataFrame, ref_col: str = "media_ref") -> DataFrame:
    """Materialize opaque media payload bytes for each ref.

    In production this is a join against a blob-store manifest table (or an
    Iceberg table with a binary column). Here the payload is a
    deterministic 16-byte md5 digest of the ref — opaque bytes with the
    same schema and the same Spark plan shape.
    """
    return df.withColumn(
        "media_bytes", F.unhex(F.md5(F.col(ref_col)))
    ).withColumn("media_len", F.length(F.col("media_bytes")))


# --- decode / feature extraction (the Pandas-UDF stage) -------------------

DECODE_SCHEMA = (
    "doc_id bigint, media_ref string, width int, height int, "
    "n_frames int, mean_intensity double"
)


def _id_schema(df: DataFrame, rest: str) -> str:
    """Output schema with doc_id keeping its INPUT type — the canonical
    document shape allows string ids, and a hardcoded bigint (plus
    astype(int64) in the kernel) crashed the Arrow batch on them."""
    idt = df.schema["doc_id"].dataType.simpleString()
    return f"doc_id {idt}, {rest}"

def _fake_decode(raw: bytes) -> tuple[int, int, int, float]:
    """STUB decode: deterministic pseudo-metadata from the payload bytes.

    Replace with a real codec (PIL / torchaudio / pyav) in production —
    the UDF signature, batching, and output schema stay identical.
    """
    b = np.frombuffer(raw, dtype=np.uint8)
    width = 1 + (int(b[0]) << 8 | int(b[1])) % 2048
    height = 1 + (int(b[2]) << 8 | int(b[3])) % 2048
    n_frames = 1 + int(b[4]) % 32
    mean_intensity = round(float(b.mean()) / 255.0, 6)
    return width, height, n_frames, mean_intensity


# --- REAL pure-numpy codecs (no external libs needed) ----------------------
# PPM (P6 binary) and uncompressed 24-bit BMP are byte-layout formats a
# numpy reshape decodes exactly — so the decode stage is genuinely real for
# these, and the md5 fake remains only for refs with no actual payload.


def encode_ppm(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary PPM (P6, maxval 255)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) uint8, got {a.shape}")
    h, w = a.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def _ppm_header(raw: bytes, start: int = 0) -> tuple[int, int, int]:
    """Parse one P6 header at ``raw[start:]`` → (width, height, absolute
    pixel-data offset). Header = magic, width, height, maxval as
    whitespace-separated tokens (comments '#...' allowed between them),
    then ONE whitespace byte, then raw RGB. Bounds-checked: truncated or
    malformed headers raise ValueError (never spin past EOF — b'' is not
    whitespace, so an unguarded scan would loop forever)."""
    n = len(raw)
    if raw[start : start + 2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, fields = start + 2, []
    while len(fields) < 3:
        while pos < n and raw[pos : pos + 1].isspace():
            pos += 1
        if pos >= n:
            raise ValueError("truncated PPM header")
        if raw[pos : pos + 1] == b"#":
            nl = raw.find(b"\n", pos)
            if nl < 0:
                raise ValueError("truncated PPM comment")
            pos = nl + 1
            continue
        end = pos
        while end < n and not raw[end : end + 1].isspace():
            end += 1
        if end >= n:
            raise ValueError("truncated PPM header")
        fields.append(int(raw[pos:end]))
        pos = end
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    if w <= 0 or h <= 0:
        raise ValueError("bad PPM dimensions")
    pos += 1  # the single whitespace after maxval
    if pos + h * w * 3 > n:
        raise ValueError("truncated PPM pixel data")
    return w, h, pos


def decode_ppm(raw: bytes) -> np.ndarray:
    """Decode a binary PPM (P6, 8-bit) into an (h, w, 3) uint8 array."""
    w, h, pos = _ppm_header(raw)
    return np.frombuffer(raw, np.uint8, count=h * w * 3, offset=pos).reshape(
        h, w, 3
    )


def decode_bmp(raw: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bit BMP (BI_RGB, BITMAPINFOHEADER) into an
    (h, w, 3) uint8 RGB array (BMP stores BGR rows bottom-up, 4-byte
    padded — both undone here)."""
    import struct

    if raw[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", raw, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", raw, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", raw, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bit BI_RGB supported (bpp={bpp})")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(raw, np.uint8, count=h * stride, offset=data_off)
    img = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if flip:
        img = img[::-1]
    return img[..., ::-1].copy()  # BGR → RGB


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG spec §9.4), vectorized over the channel axis.
    All arithmetic in int16 — the predictor compares SIGNED distances."""
    a = a.astype(np.int16)
    b = b.astype(np.int16)
    c = c.astype(np.int16)
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def encode_png(arr: np.ndarray, filters: list[int] | None = None) -> bytes:
    """Encode an (h, w, 3) uint8 array as an 8-bit RGB PNG (color type 2,
    non-interlaced; stdlib zlib for IDAT, no codec library).

    ``filters`` optionally pins the per-row filter type (0=None, 1=Sub,
    2=Up, 3=Average, 4=Paeth) so every unfilter path in
    :func:`decode_png` is exercisable byte-for-byte; default all-0."""
    import struct
    import zlib

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) uint8, got {a.shape}")
    h, w = a.shape[:2]
    ftypes = [0] * h if filters is None else list(filters)
    if len(ftypes) != h or any(f not in (0, 1, 2, 3, 4) for f in ftypes):
        raise ValueError("filters must give one type in 0..4 per row")
    zero = np.zeros((1, 3), np.uint8)
    out = bytearray()
    for y in range(h):
        raw = a[y]
        prior = a[y - 1] if y else np.zeros_like(raw)
        left = np.vstack([zero, raw[:-1]])
        up_left = np.vstack([zero, prior[:-1]])
        f = ftypes[y]
        if f == 0:
            filt = raw
        elif f == 1:
            filt = raw - left
        elif f == 2:
            filt = raw - prior
        elif f == 3:
            filt = raw - (
                (left.astype(np.uint16) + prior.astype(np.uint16)) // 2
            ).astype(np.uint8)
        else:
            filt = raw - _paeth(left, prior, up_left)
        out.append(f)
        out += filt.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(raw: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced PNG (color types 0 gray / 2 RGB /
    6 RGBA) into an (h, w, 3) uint8 RGB array — pure numpy + stdlib
    zlib, all five filter types unfiltered per spec. Bounds- and
    CRC-checked chunk walk: truncated or corrupt payloads raise
    ValueError (never scan past EOF)."""
    import struct
    import zlib

    if raw[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    ended = False
    while pos + 8 <= len(raw) and not ended:
        clen, ctype = struct.unpack_from(">I4s", raw, pos)
        if pos + 12 + clen > len(raw):
            raise ValueError("truncated PNG chunk")
        data = raw[pos + 8 : pos + 8 + clen]
        (crc,) = struct.unpack_from(">I", raw, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            if clen != 13:
                # a CRC-valid but mis-sized IHDR must still be the
                # documented ValueError, not struct.error
                raise ValueError(f"bad IHDR length {clen} (expected 13)")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            ended = True
        pos += 12 + clen
    if ihdr is None or not ended:
        raise ValueError("missing IHDR/IEND")
    w, h, depth, ctype_n, comp, filt_m, interlace = ihdr
    if depth != 8 or comp != 0 or filt_m != 0 or interlace != 0:
        raise ValueError(
            "only 8-bit non-interlaced PNG supported "
            f"(depth={depth}, interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 6: 4}.get(ctype_n)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {ctype_n}")
    if w <= 0 or h <= 0:
        raise ValueError("bad PNG dimensions")
    try:
        plain = zlib.decompress(bytes(idat))
    except zlib.error as e:  # corrupt IDAT stream → documented contract
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    stride = w * channels
    if len(plain) != h * (1 + stride):
        raise ValueError("IDAT length mismatch")
    scan = np.frombuffer(plain, np.uint8).reshape(h, 1 + stride)
    ftypes, rows = scan[:, 0], scan[:, 1:]
    img = np.zeros((h, w, channels), np.uint8)
    zero = np.zeros((1, channels), np.uint8)
    for y in range(h):
        filt = rows[y].reshape(w, channels)
        prior = img[y - 1] if y else np.zeros((w, channels), np.uint8)
        f = int(ftypes[y])
        if f == 0:
            img[y] = filt
        elif f == 1:
            # Sub: raw[x] = filt[x] + raw[x-1] — a running sum along x,
            # i.e. cumsum mod 256 per channel (vectorized, no x loop)
            img[y] = np.cumsum(filt.astype(np.uint64), axis=0).astype(
                np.uint8
            )
        elif f == 2:
            img[y] = filt + prior
        elif f == 3:
            row = img[y]
            for x in range(w):
                left = row[x - 1] if x else zero[0]
                row[x] = filt[x] + (
                    (left.astype(np.uint16) + prior[x].astype(np.uint16))
                    // 2
                ).astype(np.uint8)
        elif f == 4:
            row = img[y]
            for x in range(w):
                left = row[x - 1] if x else zero[0]
                ul = prior[x - 1] if x else zero[0]
                row[x] = filt[x] + _paeth(left, prior[x], ul)
        else:
            raise ValueError(f"bad PNG filter type {f}")
    if channels == 1:
        return np.repeat(img, 3, axis=2)
    return img[..., :3].copy() if channels == 4 else img


def ppm_frames(raw: bytes) -> list[np.ndarray]:
    """Decode a concatenated-P6 stream (the engine's trivial 'video'
    container: frames are back-to-back binary PPMs) into a list of
    (h, w, 3) arrays. Frames are read by OFFSET into the one buffer
    (``np.frombuffer(raw, offset=...)``) — no per-frame slice copies, so
    an F-frame stream of B bytes costs O(B), not O(B·F)."""
    frames, pos = [], 0
    while pos < len(raw) and raw[pos : pos + 2] == b"P6":
        w, h, data = _ppm_header(raw, pos)
        frames.append(
            np.frombuffer(raw, np.uint8, count=h * w * 3, offset=data)
            .reshape(h, w, 3)
        )
        pos = data + h * w * 3
    if not frames or pos != len(raw):
        raise ValueError("not a clean P6 stream")
    return frames


def decode_wav(raw: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a RIFF/WAVE PCM payload (8- or 16-bit integer PCM) into
    (sample_rate, n_channels, float samples in [-1, 1], shape
    (n_frames, n_channels)) — pure numpy, chunk-walking the RIFF layout."""
    import struct

    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(raw):
        cid, size = raw[pos : pos + 4], struct.unpack_from("<I", raw, pos + 4)[0]
        body = raw[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_ch, rate, _byte_rate, _align, bits = fmt
    if audio_format != 1 or bits not in (8, 16):
        raise ValueError(f"only 8/16-bit PCM supported (fmt={audio_format})")
    if bits == 16:
        x = np.frombuffer(data, "<i2").astype(np.float64) / 32768.0
    else:
        x = (np.frombuffer(data, np.uint8).astype(np.float64) - 128.0) / 128.0
    return rate, n_ch, x.reshape(-1, n_ch)


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Encode float samples in [-1, 1] (shape (n,) or (n, ch)) as 16-bit
    PCM RIFF/WAVE."""
    import struct

    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    n_ch = x.shape[1]
    # symmetric with decode's /32768 (clip catches +1.0 exactly): the
    # round-trip error is then bounded by one quantization step.
    pcm = np.clip(np.round(x * 32768.0), -32768, 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


def _known_container(raw: bytes) -> bool:
    """True if the payload claims a container this module really decodes."""
    return raw[:2] in (b"P6", b"BM") or raw[: len(_PNG_SIG)] == _PNG_SIG


def _real_decode(raw: bytes) -> tuple[int, int, int, float] | None:
    """Dispatch on magic bytes; None = no known container (use the stub).
    P6 streams report their true frame count (concatenated-PPM 'video')."""
    try:
        if raw[:2] == b"P6":
            frames = ppm_frames(raw)
            h, w = frames[0].shape[:2]
            mean = float(np.mean([f.mean() for f in frames]))
            return w, h, len(frames), round(mean / 255.0, 6)
        if raw[:2] == b"BM":
            px = decode_bmp(raw)
            h, w = px.shape[:2]
            return w, h, 1, round(float(px.mean()) / 255.0, 6)
        if raw[: len(_PNG_SIG)] == _PNG_SIG:
            px = decode_png(raw)
            h, w = px.shape[:2]
            return w, h, 1, round(float(px.mean()) / 255.0, 6)
        return None
    except Exception:
        return None


def decode_media(media_df: DataFrame) -> DataFrame:
    """Decode/feature-extract media payloads (Arrow-batched mapInPandas).

    Input: (doc_id, media_ref, media_bytes). One vectorized batch per Arrow
    chunk; per-element decode inside the batch (codecs are per-item by
    nature — the batching amortizes the Python/JVM boundary).
    """

    def _meta(raw):
        """Per-item metadata with graceful degradation. A KNOWN container
        (P6/BMP/PNG magic) that fails to decode degrades to NULL features
        — fabricating stub metadata for a corrupt real image would be
        plausible-looking garbage indistinguishable from a decode,
        poisoning downstream size/intensity filters. Only UNKNOWN
        containers use the deterministic stub. A NULL or tiny payload
        flags, never kills the Arrow batch."""
        if raw is None:
            return (None, None, None, None)
        b = bytes(raw)
        if _known_container(b):
            m = _real_decode(b)
            return m if m is not None else (None, None, None, None)
        try:
            return _fake_decode(b)
        except Exception:
            return (None, None, None, None)

    def _decode(it):
        for pdf in it:
            raws = list(pdf["media_bytes"])
            if (
                raws
                and None not in raws
                and len({len(r) for r in raws}) == 1
                and len(raws[0]) >= 5
                and not any(r[:2] in (b"P6", b"BM", b"\x89P") for r in raws)
            ):
                # fixed-size unknown payloads (the md5 fake): one
                # vectorized pass of the stub
                m = np.frombuffer(b"".join(raws), dtype=np.uint8).reshape(
                    len(raws), -1
                )
                w = 1 + ((m[:, 0].astype(np.int64) << 8) | m[:, 1]) % 2048
                h = 1 + ((m[:, 2].astype(np.int64) << 8) | m[:, 3]) % 2048
                nf = 1 + m[:, 4].astype(np.int64) % 32
                mi = np.round(m.mean(axis=1) / 255.0, 6)
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "media_ref": pdf["media_ref"],
                        "width": w.astype(np.int32),
                        "height": h.astype(np.int32),
                        "n_frames": nf.astype(np.int32),
                        "mean_intensity": mi.astype(np.float64),
                    }
                )
                continue
            # everything else — NULLs, known containers (pure-numpy
            # PPM/BMP/PNG decode), mixed lengths, < 5-byte blobs — goes
            # per item: codecs are per-item by nature and the Arrow batch
            # amortizes the boundary; a bad item degrades to NULL
            # features instead of killing the batch
            meta = [_meta(raw) for raw in raws]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "width": pd.array([m[0] for m in meta], dtype="Int32"),
                    "height": pd.array([m[1] for m in meta], dtype="Int32"),
                    "n_frames": pd.array(
                        [m[2] for m in meta], dtype="Int32"
                    ),
                    "mean_intensity": pd.array(
                        [m[3] for m in meta], dtype="Float64"
                    ),
                }
            )

    return media_df.select("doc_id", "media_ref", "media_bytes").mapInPandas(
        _decode,
        _id_schema(
            media_df,
            "media_ref string, width int, height int, "
            "n_frames int, mean_intensity double",
        ),
    )


def decode_audio(media_df: DataFrame) -> DataFrame:
    """Decode RIFF/WAVE PCM payloads (real, pure-numpy) into per-clip
    audio features: sample rate, channel count, frame count, RMS level.
    Unknown containers yield NULL features (flagged, not dropped). Same
    Arrow-batched ``mapInPandas`` plumbing as :func:`decode_media`."""

    def _decode(it):
        for pdf in it:
            sr, ch, ns, rms = [], [], [], []
            for raw in pdf["media_bytes"]:
                try:
                    rate, n_ch, x = decode_wav(raw)
                    sr.append(rate)
                    ch.append(n_ch)
                    ns.append(x.shape[0])
                    rms.append(round(float(np.sqrt((x ** 2).mean())), 6))
                except Exception:
                    sr.append(None); ch.append(None)
                    ns.append(None); rms.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "sample_rate": pd.array(sr, dtype="Int32"),
                    "n_channels": pd.array(ch, dtype="Int32"),
                    "n_samples": pd.array(ns, dtype="Int64"),
                    "rms": pd.array(rms, dtype="Float64"),
                }
            )

    return media_df.select("doc_id", "media_ref", "media_bytes").mapInPandas(
        _decode,
        _id_schema(
            media_df,
            "media_ref string, sample_rate int, n_channels int, "
            "n_samples bigint, rms double",
        ),
    )


def extract_frames(media_df: DataFrame, every: int = 2) -> DataFrame:
    """REAL frame extraction from concatenated-P6 stream payloads: every
    ``every``-th frame re-encoded as a single-frame PPM — the decode
    analogue of :func:`frame_sample`'s index plan. Non-stream payloads
    yield no frames (they have none to extract)."""

    # the id passes through untouched in the schema type _id_schema
    # derives — forcing int(did) here would crash string doc_ids
    id_is_str = dict(media_df.dtypes)["doc_id"] == "string"

    def _extract(it):
        for pdf in it:
            out = {"doc_id": [], "media_ref": [], "frame_idx": [],
                   "media_bytes": []}
            for did, ref, raw in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["media_bytes"]
            ):
                try:
                    frames = ppm_frames(raw)
                except Exception:
                    continue
                for i in range(0, len(frames), every):
                    out["doc_id"].append(str(did) if id_is_str else int(did))
                    out["media_ref"].append(ref)
                    out["frame_idx"].append(i)
                    out["media_bytes"].append(encode_ppm(frames[i]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(
                        out["doc_id"],
                        dtype=(object if id_is_str else "Int64"),
                    ),
                    "media_ref": pd.array(out["media_ref"], dtype=object),
                    "frame_idx": pd.array(out["frame_idx"], dtype="Int32"),
                    "media_bytes": pd.Series(out["media_bytes"], dtype=object),
                }
            )

    return media_df.select("doc_id", "media_ref", "media_bytes").mapInPandas(
        _extract,
        _id_schema(
            media_df, "media_ref string, frame_idx int, media_bytes binary"
        ),
    )


def resize_media(
    media_df: DataFrame, out_w: int = 64, out_h: int = 64
) -> DataFrame:
    """Nearest-neighbor resize of decodable image payloads (PPM/BMP/PNG),
    re-encoded as PPM — a real pixel transform over the binary column
    (Arrow-batched mapInPandas, same plumbing as :func:`decode_media`).
    Payloads without a known container yield NULL bytes/dims (flagged,
    not dropped — the caller routes them). Nearest-neighbor is index
    arithmetic (``px[ys][:, xs]``), the same resample rule as the raster
    ``transform_grid(method='nearest')``."""

    def _resize(it):
        for pdf in it:
            outs, ws, hs = [], [], []
            for raw in pdf["media_bytes"]:
                try:
                    if raw[:2] == b"P6":
                        px = decode_ppm(raw)
                    elif raw[:2] == b"BM":
                        px = decode_bmp(raw)
                    elif raw[: len(_PNG_SIG)] == _PNG_SIG:
                        px = decode_png(bytes(raw))
                    else:
                        raise ValueError("no known container")
                    ys = np.arange(out_h) * px.shape[0] // out_h
                    xs = np.arange(out_w) * px.shape[1] // out_w
                    outs.append(encode_ppm(px[ys][:, xs]))
                    ws.append(out_w)
                    hs.append(out_h)
                except Exception:
                    outs.append(None)
                    ws.append(None)
                    hs.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "media_bytes": pd.Series(outs, dtype=object),
                }
            )

    return media_df.select("doc_id", "media_ref", "media_bytes").mapInPandas(
        _resize,
        _id_schema(
            media_df,
            "media_ref string, width int, height int, media_bytes binary",
        ),
    )


def frame_sample(decoded: DataFrame, every: int = 2) -> DataFrame:
    """Frame sampling plan: explode frame indices 0..n_frames-1 step
    ``every`` (pure JVM sequence — the decode of each sampled frame would
    be another mapInPandas stage in production)."""
    return decoded.select(
        "doc_id",
        "media_ref",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every))
        ).alias("frame_idx"),
    )
