"""Multimodal columns: opaque binary payloads + typed metadata, with a
REAL pure-numpy image path.

Images/audio/video ride as `binary` columns with a metadata struct.
The image codec is real -- PPM (P6) encode + decode, 24-bit BMP
decode, and non-interlaced 8-bit PNG encode + decode (stdlib zlib
inflate, all five scanline filters) in pure numpy, magic-byte sniffed
-- and feeds real processing: BT.601 grayscale, bilinear resize, and a
64-bit DCT perceptual hash (the classic pHash recipe) with banded
near-dup pairing (`image_phashes` / `phash_dup_pairs`).  JPEG (and
palette/interlaced PNG) need an imaging library absent from this
container and raise NotImplementedError; the deterministic fake
decoder remains for plumbing tests over arbitrary bytes.

Batch-shape contract: mapInPandas over Arrow record batches; binary
payloads arrive as Python bytes inside pandas object columns.  At 100 TB
the operative knobs are spark.sql.files.maxPartitionBytes (so one task's
batch of payloads fits in worker memory) and
spark.sql.execution.arrow.maxRecordsPerBatch (bounding per-batch bytes).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),      # image | audio | video
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ])),
])


def synth_media(spark: SparkSession, n: int,
                partitions: int | None = None) -> DataFrame:
    """Deterministic fake media table: payload = md5-stream bytes."""
    rng = spark.range(0, n, 1,
                      partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": [], "meta": []}
            for i in pdf["id"].tolist():
                i = int(i)
                kind = ("image", "audio", "video")[i % 3]
                payload = b"".join(
                    hashlib.md5(f"media{i}:{j}".encode()).digest()
                    for j in range(4))  # 64 deterministic bytes
                rows["media_id"].append(i)
                rows["kind"].append(kind)
                rows["payload"].append(payload)
                rows["meta"].append({
                    "mime": {"image": "image/png", "audio": "audio/wav",
                             "video": "video/mp4"}[kind],
                    "width": 64 + (i % 8) * 32 if kind != "audio" else None,
                    "height": 64 + (i % 5) * 32 if kind != "audio" else None,
                    "duration_ms": (i % 30) * 1000 if kind != "image" else None,
                })
            yield pd.DataFrame(rows)

    return rng.mapInPandas(gen, schema=MEDIA_SCHEMA)


def encode_ppm(arr: np.ndarray) -> bytes:
    """uint8 HxWx3 array -> binary PPM (P6) bytes.  Pure numpy: lets the
    pipeline round-trip REAL image payloads with no imaging library."""
    h, w = arr.shape[:2]
    return (b"P6\n%d %d\n255\n" % (w, h)
            + np.ascontiguousarray(arr, dtype=np.uint8).tobytes())


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval 255) -> uint8 HxWx3."""
    tokens, i = [], 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":          # comment to end of line
            while payload[i:i + 1] not in (b"\n", b""):
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j:j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError("only maxval 255 PPM supported")
    i += 1  # single whitespace after maxval
    data = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return data.reshape(h, w, 3).copy()


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP -> uint8 HxWx3 (rows stored bottom-up,
    BGR, 4-byte padded -- the Windows DIB baseline)."""
    import struct
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", payload, 10)[0]
    w = struct.unpack_from("<i", payload, 18)[0]
    h = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP supported")
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * abs(h),
                         offset=offset).reshape(abs(h), stride)
    img = rows[:, :w * 3].reshape(abs(h), w, 3)[:, :, ::-1]  # BGR -> RGB
    if h > 0:
        img = img[::-1]                                      # bottom-up
    return img.copy()


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png(arr: np.ndarray) -> bytes:
    """uint8 HxWx3 (or HxWx4) array -> non-interlaced 8-bit truecolor
    PNG bytes.  stdlib zlib + numpy only; filter type 0 (None) per
    scanline -- a valid (if uncompressed-filter) encoding every PNG
    reader accepts."""
    import struct
    import zlib
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise ValueError("encode_png expects HxWx3 or HxWx4 uint8")
    h, w, ch = arr.shape
    color_type = 2 if ch == 3 else 6

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8),          # filter byte 0
         arr.reshape(h, w * ch)], axis=1).tobytes()
    return (_PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b""))


def _png_unfilter(raw: np.ndarray, h: int, stride: int,
                  bpp: int) -> np.ndarray:
    """Reverse the five PNG scanline filters (spec 9.2).  None/Up are
    vectorized across the row; Sub is a per-channel-lane prefix sum
    (mod 256 distributes over the cumsum, so it vectorizes too);
    Average/Paeth carry a NONLINEAR left-pixel dependence (floor-half /
    argmin predictor), resolved pixel-at-a-time over the row (rows are
    bounded; corpus parallelism is across images)."""
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = int(raw[pos])
        line = raw[pos + 1:pos + 1 + stride].astype(np.int32)
        pos += 1 + stride
        if ftype == 0:                                  # None
            cur = line
        elif ftype == 1:                                # Sub
            cur = (np.cumsum(line.reshape(-1, bpp), axis=0) & 0xFF) \
                .reshape(stride)
        elif ftype == 2:                                # Up
            cur = (line + prev) & 0xFF
        elif ftype in (3, 4):                           # Average/Paeth
            # the left-pixel recurrence is nonlinear (floor-half /
            # argmin predictor), so the row cannot be numpy-vectorized
            # exactly; what CAN go: the per-element numpy scalar
            # indexing (~100 ns/element).  Python-int lists + local
            # bindings run the same loop ~6x faster (r5 advisory: the
            # last per-byte hot loop in a data path); parity pinned by
            # the round-trip and planted-pair tests.
            lp = line.tolist()
            pv = prev.tolist()
            cur_l = [0] * stride
            if ftype == 3:                              # Average
                for x in range(stride):
                    a = cur_l[x - bpp] if x >= bpp else 0
                    cur_l[x] = (lp[x] + ((a + pv[x]) >> 1)) & 0xFF
            else:                                       # Paeth
                for x in range(stride):
                    b = pv[x]
                    if x >= bpp:
                        a = cur_l[x - bpp]
                        c = pv[x - bpp]
                    else:
                        a = c = 0
                    # p = a+b-c; pa=|p-a|=|b-c|, pb=|p-b|=|a-c|,
                    # pc=|p-c|=|a+b-2c| (the spec's arithmetic,
                    # simplified)
                    pa = abs(b - c)
                    pb = abs(a - c)
                    pc = abs(a + b - c - c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                    cur_l[x] = (lp[x] + pred) & 0xFF
            cur = np.asarray(cur_l, dtype=np.int32)
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def _decode_png(payload: bytes) -> np.ndarray:
    """Non-interlaced 8-bit PNG -> uint8 HxWx3.  Grayscale broadcasts
    to 3 channels; alpha is dropped.  Palette (color type 3), 16-bit
    and Adam7 interlace raise NotImplementedError (rare in crawl data;
    honest boundary like non-PCM WAV)."""
    import struct
    import zlib
    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(payload):
        (ln,), tag = struct.unpack_from(">I", payload, pos), \
            payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + ln]
        pos += 12 + ln                                  # len+tag+crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0:
        raise NotImplementedError("only 8-bit depth PNG supported")
    if interlace != 0:
        raise NotImplementedError("Adam7 interlaced PNG not supported")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise NotImplementedError(
            f"PNG color type {color_type} (palette) not supported")
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    stride = w * channels
    if raw.size != h * (1 + stride):
        raise ValueError("PNG data length mismatch")
    img = _png_unfilter(raw, h, stride, channels).reshape(h, w, channels)
    if color_type == 0:
        return np.repeat(img, 3, axis=2).copy()
    if color_type == 4:                                 # gray+alpha
        return np.repeat(img[:, :, :1], 3, axis=2).copy()
    return img[:, :, :3].copy()                         # RGB / RGBA


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Codec boundary.  PPM (P6), uncompressed 24-bit BMP and
    non-interlaced 8-bit PNG (gray/RGB/RGBA, stdlib zlib inflate)
    decode for REAL with pure numpy (magic-byte sniffed); JPEG requires
    an imaging library absent from this container and raises
    NotImplementedError.  `fake=True` keeps the deterministic 8x8 hash
    decoder for plumbing tests on arbitrary bytes."""
    if fake:
        # the fake contract is unconditional: arbitrary bytes (including
        # ones that happen to start with a codec magic) must yield the
        # deterministic array, never a header-parse crash
        h = hashlib.md5(payload).digest() * 4
        return np.frombuffer(h, dtype=np.uint8).reshape(8, 8) \
            .astype(np.float32)
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == _PNG_MAGIC:
        return _decode_png(payload)
    raise NotImplementedError(
        "only PPM/BMP/PNG decode natively; JPEG requires an imaging "
        "library (e.g. Pillow) not available in this environment -- "
        "pass fake=True for the deterministic test decoder")


def to_grayscale(arr: np.ndarray) -> np.ndarray:
    """HxWx3 -> HxW float32 (ITU-R BT.601 luma)."""
    if arr.ndim == 2:
        return arr.astype(np.float32)
    return (0.299 * arr[..., 0] + 0.587 * arr[..., 1]
            + 0.114 * arr[..., 2]).astype(np.float32)


def resize_bilinear(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """HxW float -> out_h x out_w via bilinear sampling (pure numpy)."""
    h, w = arr.shape[:2]
    ys = np.linspace(0, h - 1, out_h)
    xs = np.linspace(0, w - 1, out_w)
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = (ys - y0)[:, None]
    wx = (xs - x0)[None, :]
    a = arr[np.ix_(y0, x0)]
    b = arr[np.ix_(y0, x1)]
    c = arr[np.ix_(y1, x0)]
    d = arr[np.ix_(y1, x1)]
    return (a * (1 - wy) * (1 - wx) + b * (1 - wy) * wx
            + c * wy * (1 - wx) + d * wy * wx)


_DCT32 = None


def _dct_matrix(n: int = 32) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (cached)."""
    global _DCT32
    if _DCT32 is None or _DCT32.shape[0] != n:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
        m[0] /= np.sqrt(2.0)
        _DCT32 = m
    return _DCT32


def phash64(arr: np.ndarray) -> int:
    """64-bit DCT perceptual hash (the classic pHash recipe): grayscale
    -> 32x32 bilinear -> 2-D DCT-II -> top-left 8x8 low-frequency block
    (DC term excluded from the median) -> bit = coeff > median.  Robust
    to resizing and small noise; pure numpy."""
    g = resize_bilinear(to_grayscale(arr), 32, 32)
    d = _dct_matrix(32)
    coeffs = d @ g @ d.T
    block = coeffs[:8, :8].flatten()
    med = np.median(block[1:])
    bits = 0
    for i, v in enumerate(block):
        if v > med:
            bits |= 1 << i
    return bits & 0x7FFFFFFFFFFFFFFF  # keep in signed-long range


_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
    T.StructField("feat_norm", T.DoubleType()),
])


def extract_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Decode -> 8-dim feature vector (row means of the decoded array).
    The plumbing (Arrow batches, schema, per-worker batching) is the real
    production shape; only the decoder is swappable."""
    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, vecs, norms = [], [], [], []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                arr = decode_image(bytes(payload), fake=fake_decode)
                vec = arr.mean(axis=1)
                ids.append(int(mid))
                kinds.append(kind)
                vecs.append([float(x) for x in vec])
                norms.append(float(np.sqrt((vec * vec).sum())))
            yield pd.DataFrame({"media_id": ids, "kind": kinds,
                                "feature": vecs, "feat_norm": norms})

    return media.select("media_id", "kind", "payload").mapInPandas(
        feats, schema=_FEATURE_SCHEMA)


def synth_image_media(spark: SparkSession, n: int,
                      partitions: int | None = None,
                      size: int = 48) -> DataFrame:
    """REAL image corpus: every payload is a decodable binary PPM
    (deterministic md5-textured block pattern per id -- block texture,
    not a smooth gradient, so per-image DCT spectra are diverse and
    perceptual hashes separate; gradients collapse every image onto the
    same low-frequency bins).  Ids with id % 10 == 1 are a
    lightly-noised copy of id-1's image -- planted near-dups for the
    perceptual-hash dedup path."""
    rng = spark.range(0, n, 1,
                      partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": [], "meta": []}
            for i in pdf["id"].tolist():
                i = int(i)
                base = i - 1 if i % 10 == 1 else i
                blocks = max(1, size // 8)
                actual = blocks * 8   # meta must describe the PAYLOAD
                raw = b""
                j = 0
                while len(raw) < blocks * blocks * 3:
                    raw += hashlib.md5(f"img{base}:{j}".encode()).digest()
                    j += 1
                grid = np.frombuffer(raw[:blocks * blocks * 3],
                                     dtype=np.uint8) \
                    .reshape(blocks, blocks, 3)
                img = np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1)
                if i != base:  # planted near-dup: small deterministic noise
                    noise = np.frombuffer(
                        (hashlib.md5(f"noise{i}".encode()).digest()
                         * (actual * actual * 3 // 16 + 1))
                        [:actual * actual * 3],
                        dtype=np.uint8).reshape(actual, actual, 3)
                    img = np.clip(img.astype(np.int16)
                                  + (noise % 9).astype(np.int16) - 4,
                                  0, 255).astype(np.uint8)
                rows["media_id"].append(i)
                rows["kind"].append("image")
                # format mix exercises both real codecs end-to-end on
                # Spark; the decoded pixels (hence pHashes and dup
                # pairs) are identical either way
                if i % 3 == 2:
                    rows["payload"].append(encode_png(img))
                    rows["meta"].append({"mime": "image/png",
                                         "width": actual, "height": actual,
                                         "duration_ms": None})
                else:
                    rows["payload"].append(encode_ppm(img))
                    rows["meta"].append({"mime": "image/x-portable-pixmap",
                                         "width": actual, "height": actual,
                                         "duration_ms": None})
            yield pd.DataFrame(rows)

    return rng.mapInPandas(gen, schema=MEDIA_SCHEMA)


_PHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("phash", T.LongType()),
])


def image_phashes(media: DataFrame) -> DataFrame:
    """(media_id, phash): REAL decode -> 64-bit DCT perceptual hash, one
    Arrow-batched pass (the image analogue of doc_simhash)."""
    def ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                ids.append(int(mid))
                hs.append(phash64(decode_image(bytes(payload))))
            yield pd.DataFrame({"media_id": ids, "phash": hs})

    return media.select("media_id", "payload").mapInPandas(
        ph, schema=_PHASH_SCHEMA)


def phash_dup_pairs(hashes: DataFrame, max_hamming: int = 10) -> DataFrame:
    """(id_a, id_b, hamming): near-duplicate images by perceptual-hash
    distance, blocked on 4x16-bit bands (a pair within hamming 3 shares
    at least one exact band -- same pigeonhole as SimHash dedup; wider
    tolerances may miss band-straddling pairs, the standard trade)."""
    bands = hashes.select(
        "media_id", "phash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("phash"), b * 16)
            .bitwiseAND(F.lit(0xFFFF)).alias(f"b{b}")
            for b in range(4)])).alias("band", "sig"))
    a = bands.select("band", "sig", F.col("media_id").alias("id_a"),
                     F.col("phash").alias("h_a"))
    b = bands.select("band", "sig", F.col("media_id").alias("id_b"),
                     F.col("phash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (a.join(b, ["band", "sig"])
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b", ham.cast("int").alias("hamming"))
            .where(F.col("hamming") <= max_hamming))
