"""Multimodal (image/audio/video) column handling.

Media are opaque ``binary`` columns + typed metadata structs; all heavy
per-item work (decode, resize, frame-sample, feature-extract) runs as
Arrow-batched ``mapInPandas`` so a 100 TB corpus streams through Python
in columnar batches with zero driver involvement. Two kernels are REAL
binary raster code (no image libs needed): ``decode_ppm`` (r10) parses
netpbm P6 payloads in pure numpy, and ``resize_ppm`` (r11)
nearest-neighbor-downsamples the decoded raster with an integer-exact
NN map. The remaining kernels are STUBS (no image/audio libs in this
container): ``decode_image_stub`` produces a deterministic fake decode
so the Spark-side plumbing — schema, batch iteration, partition sizing
— is real and tested end-to-end; swap it for PIL/librosa in a real
deployment.

Scale notes: binary payloads make row-group sizing the dominant knob —
keep ``spark.sql.files.maxPartitionBytes`` at/below 128 MB so a task's
Arrow batches fit executor memory; never groupBy a binary column
(fingerprint first: text.doc_fingerprint / registry.md5_60bit).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from map_reduce_lite_spark.registry import WS_RUN, Query, md5_60bit, mrl_lower, sql_md5_60bit
from map_reduce_lite_spark.relational.tables import load_table

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


def synthesize_media(documents: DataFrame) -> DataFrame:
    """Deterministic fake media table from documents: the utf-8 bytes of
    text stand in for an encoded payload (schema-faithful plumbing)."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ).alias("meta"),
    )


def decode_image_stub(media: DataFrame, batch_hint: int = 0) -> DataFrame:
    """mapInPandas decode pipeline (the real-deployment shape).

    NOTE: a production decoder raises NotImplementedError on payloads it
    cannot parse; the stub accepts everything deterministically.

    The batch function is fully self-contained (no references to this
    module) so cloudpickle ships it by VALUE — executor Python workers
    do not have the engine package on sys.path when the driver runs
    from outside the repo."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def fake_decode(payload):
            # deterministic stand-in for a real decoder: 4 moments of
            # the CODEPOINT histogram of the utf-8 payload (r10:
            # codepoints, not bytes, so the SQL oracle's per-char ord()
            # replay holds on ANY text — identical on ASCII, where
            # char code == byte value); swap for PIL/librosa + model
            # features. The byte-true decode path is decode_ppm.
            if payload is None:
                return None
            try:
                # guarded (r11): a non-UTF-8 binary payload routed here
                # by mistake must yield a NULL feature row, not a
                # UnicodeDecodeError that kills a 100 TB decode stage
                cps = [ord(c) for c in bytes(payload).decode("utf-8")]
            except UnicodeDecodeError:
                return None
            n = len(cps)
            if n == 0:
                # Empty payload: count 0, every OTHER moment NULL —
                # including the sum, because the SQL twin's list_sum([])
                # is NULL (r12, the ADVICE latent-divergence fix: r11
                # nulled mean/var but left sum at 0.0; unobservable
                # while only element 3 (mean) is projected, but the
                # unprojected moments must match the oracle too).
                # Pinned by the edge corpus, which contains empty docs.
                return [0.0, None, None, None]
            s = sum(cps)
            mean = s / n
            var = sum((b - mean) ** 2 for b in cps) / n
            return [float(n), float(s), mean, var]

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["payload"].map(lambda p: len(p) if p is not None else 0),
                    "mime": pdf["meta"].map(lambda m: m["mime"] if m is not None else None),
                    "feature": pdf["payload"].map(fake_decode),
                }
            )

    return media.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end plumbing demo: synth media → Arrow-batched decode."""
    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    decoded = decode_image_stub(media)
    return decoded.select(
        "media_id",
        "n_bytes",
        "mime",
        F.floor(F.element_at("feature", 3) * 1e6).cast("long").alias("mean_cp_e6"),
    )


def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-JVM binary-column metrics (no Python) — the oracle-checkable
    core of the multimodal plumbing."""
    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.mime").alias("mime"),
    )


MULTIMODAL_BYTES_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       'application/octet-stream' AS mime
FROM documents
"""


FRAME_LEN = 256  # chars per sampled "frame"
FRAME_STRIDE = 1024  # sample one frame every this many chars

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("n_chars", T.LongType(), False),
        T.StructField("frame_md5", T.StringType(), False),
    ]
)

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("thumb_md5", T.StringType(), True),
    ]
)


def sample_frames_stub(documents: DataFrame) -> DataFrame:
    """Video-style frame sampling as 1→N mapInPandas: one ``FRAME_LEN``
    "frame" every ``FRAME_STRIDE`` units of the stream.

    The fake decoder treats the document text as the stream (chars ≈
    presentation timestamps) so the operator is fully deterministic and
    the DuckDB oracle can replay it with substring math — a FULL
    value-level correctness check on a Python batch operator, not just
    a rows-only smoke. Real deployment: swap the slicing for
    pyav/ffmpeg keyframe extraction; the 1→N batch shape, schema and
    partition behavior are exactly this."""

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        flen, stride = 256, 1024  # keep in sync with FRAME_LEN/FRAME_STRIDE
        for pdf in batches:
            mids, idxs, lens, md5s = [], [], [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or len(text) == 0:
                    continue
                n_frames = (len(text) + stride - 1) // stride
                for i in range(n_frames):
                    chunk = text[i * stride : i * stride + flen]
                    mids.append(mid)
                    idxs.append(i)
                    lens.append(len(chunk))
                    md5s.append(hashlib.md5(chunk.encode("utf-8")).hexdigest())
            yield _pd.DataFrame(
                {
                    "media_id": _pd.Series(mids, dtype="int64"),
                    "frame_idx": _pd.Series(idxs, dtype="int32"),
                    "n_chars": _pd.Series(lens, dtype="int64"),
                    "frame_md5": _pd.Series(md5s, dtype="object"),
                }
            )

    return documents.select("doc_id", "text").mapInPandas(
        frame_batches, schema=FRAMES_SCHEMA
    )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames_stub(load_table(spark, sf_dir, "documents"))


FRAME_SAMPLE_SQL = f"""
WITH frames AS (
  SELECT doc_id AS media_id, i.f AS frame_idx,
         substring(text, 1 + i.f * {FRAME_STRIDE}, {FRAME_LEN}) AS chunk
  FROM documents,
       LATERAL unnest(generate_series(0,
         CAST((length(text) - 1) // {FRAME_STRIDE} AS INT))) AS i(f)
  WHERE length(text) > 0
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(length(chunk) AS BIGINT) AS n_chars, md5(chunk) AS frame_md5
FROM frames
"""


def resize_image_stub(media: DataFrame, max_side: int = 64) -> DataFrame:
    """Image-resize plumbing: Arrow-batched mapInPandas, deterministic
    fake kernel (dimensions derived from payload size, thumb hash of the
    payload head). Swap the kernel for PIL ``Image.thumbnail`` in a real
    deployment — schema and batch shape are the production ones."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        import pandas as _pd

        side = max_side

        def fake_resize(payload):
            if payload is None or len(payload) == 0:
                return None, None, None
            try:
                # guarded (r11): non-UTF-8 payloads yield a NULL row,
                # never a stage-killing UnicodeDecodeError
                head = bytes(payload).decode("utf-8")[:64]
            except UnicodeDecodeError:
                return None, None, None
            n = len(payload)
            w = max(1, int(math.isqrt(n)))
            h = (n + w - 1) // w
            scale = min(1.0, side / max(w, h))
            # thumb hash over the first 64 CHARS of the decoded
            # payload, re-encoded — matches DuckDB's md5(substr(text,
            # 1, 64)) on ANY text (r10; on ASCII identical to the old
            # first-64-BYTES slice). Dims stay byte-true (octet math).
            return (
                max(1, int(w * scale)),
                max(1, int(h * scale)),
                hashlib.md5(head.encode("utf-8")).hexdigest(),
            )

        for pdf in batches:
            out = [fake_resize(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": _pd.Series([o[0] for o in out], dtype="Int32"),
                    "height": _pd.Series([o[1] for o in out], dtype="Int32"),
                    "thumb_md5": _pd.Series([o[2] for o in out], dtype="object"),
                }
            )

    return media.mapInPandas(resize_batches, schema=RESIZED_SCHEMA)


def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing end-to-end: synthetic media → Arrow-batched
    mapInPandas thumbnail kernel (see resize_image_stub). The fake
    kernel is integer/md5 math over the payload, so DuckDB replays it
    exactly — the Python path gets a full value oracle."""
    d = load_table(spark, sf_dir, "documents")
    return resize_image_stub(synthesize_media(d))


# Oracle for the fake resize kernel. Exactness notes: math.isqrt(n) ==
# floor(sqrt(CAST(n AS DOUBLE))) for n ≤ 2^52 (doc payloads are KB);
# Python's int(w * scale) truncates toward zero == floor for positive
# doubles, and w*scale is the same IEEE double product both sides; the
# thumb hash covers the first 64 CHARS of the decoded payload (r10 —
# md5 of a VARCHAR hashes its UTF-8 bytes in DuckDB, so the replay
# holds on ANY text, not just ASCII), while the dims stay byte-true
# (octet_length on both sides).
RESIZE_STUB_SQL = """
WITH b AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n,
         md5(substr(text, 1, 64)) AS head_md5
  FROM documents
), dims AS (
  SELECT media_id, n, head_md5,
         GREATEST(1, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)) AS w
  FROM b
), full_dims AS (
  SELECT media_id, n, head_md5, w, (n + w - 1) // w AS h FROM dims
), scaled AS (
  SELECT media_id, n, head_md5, w, h,
         LEAST(1.0::DOUBLE, 64.0::DOUBLE / GREATEST(w, h)) AS scale
  FROM full_dims
)
SELECT media_id,
       CASE WHEN n = 0 THEN NULL
            ELSE CAST(GREATEST(1, CAST(floor(w * scale) AS BIGINT)) AS INT)
       END AS width,
       CASE WHEN n = 0 THEN NULL
            ELSE CAST(GREATEST(1, CAST(floor(h * scale) AS BIGINT)) AS INT)
       END AS height,
       CASE WHEN n = 0 THEN NULL ELSE head_md5 END AS thumb_md5
FROM scaled
"""


# The fake decoder's features are CODEPOINT math over the decoded
# payload (r10 — previously byte math with a documented ASCII-only
# oracle domain; codepoints make DuckDB's per-char ord() replay hold on
# ANY text, found by the Unicode-corpus sweep). n_bytes stays byte-true
# (octet_length both sides). Python's s/n_cp and the SQL
# CAST(s AS DOUBLE)/n_cp are the same IEEE division → floor(mean*1e6)
# is bit-identical.
DECODE_STUB_SQL = """
WITH b AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n,
         length(text) AS n_cp,
         list_sum(list_transform(range(1, length(text) + 1),
                                 i -> ord(substr(text, i, 1)))) AS s
  FROM documents
)
SELECT media_id, CAST(n AS BIGINT) AS n_bytes,
       'application/octet-stream' AS mime,
       CAST(floor((CAST(s AS DOUBLE) / n_cp) * 1e6) AS BIGINT) AS mean_cp_e6
FROM b
"""


# --------------------------------------------------------------------------
# REAL decoder: binary PPM (P6) parse in pure numpy (r10)
# --------------------------------------------------------------------------

# Synthesized-image geometry: dims derived from media_id so the DuckDB
# oracle can replay width/height/pixel math in closed form while the
# Spark side round-trips through REAL P6 bytes.
PPM_W_BASE, PPM_W_MOD = 4, 13
PPM_H_BASE, PPM_H_MOD = 3, 7
PPM_CORRUPT_EVERY = 50  # every 50th image is truncated mid-header

PPM_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("maxval", T.IntegerType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("mean_pixel_e6", T.LongType(), True),
    ]
)


def synthesize_ppm_media(documents: DataFrame) -> DataFrame:
    """Deterministic REAL P6 images, one per document: header
    ``P6\\n{w} {h}\\n255\\n`` + w*h*3 bytes of pixel data with
    pixel[i] = (media_id*31 + i*7) % 256. Every
    ``PPM_CORRUPT_EVERY``-th image is truncated to its magic bytes —
    the malformed-input case a crawl guarantees and a decoder must
    flag, not crash on. Runs as Arrow-batched mapInPandas with a
    self-contained closure (executors don't have the repo on
    sys.path)."""

    # bind the module constants to locals so the closure serializes
    # them BY VALUE (executors never import this module) while the
    # Spark side and the SQL oracle still share one definition
    w_base, w_mod = PPM_W_BASE, PPM_W_MOD
    h_base, h_mod = PPM_H_BASE, PPM_H_MOD
    corrupt_every = PPM_CORRUPT_EVERY

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            ids, payloads = [], []
            for mid in pdf["doc_id"]:
                mid = int(mid)
                w = w_base + mid % w_mod
                h = h_base + mid % h_mod
                n = w * h * 3
                px = (
                    (mid * 31 + _np.arange(n, dtype=_np.int64) * 7) % 256
                ).astype(_np.uint8)
                payload = b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()
                if mid % corrupt_every == 0:
                    payload = payload[:2]  # corrupt: magic only
                ids.append(mid)
                payloads.append(payload)
            yield _pd.DataFrame(
                {
                    "media_id": _pd.Series(ids, dtype="int64"),
                    "payload": _pd.Series(payloads, dtype=object),
                }
            )

    return documents.select("doc_id").mapInPandas(
        gen, schema="media_id long, payload binary"
    )


def decode_ppm(media: DataFrame) -> DataFrame:
    """REAL image decode over the binary column: a pure-numpy PPM (P6)
    parser — the one decoder in this module that is NOT a fake kernel.

    The header parse is spec-faithful (netpbm P6): magic, then three
    ASCII integers (width, height, maxval) separated by arbitrary
    whitespace with ``#``-to-newline comments allowed anywhere between
    tokens, then EXACTLY ONE whitespace byte before the raster; maxval
    in (0, 65536), 2-byte big-endian samples when maxval > 255.
    Malformed payloads (bad magic, truncated header, short raster,
    out-of-range maxval) yield ok=false rows with NULL metrics —
    never an exception, because one corrupt image must not kill a
    100 TB decode stage.

    Output metrics are integer-exact (pixel sum in int64) except
    mean_pixel_e6 = floor((s/n)*1e6), the same IEEE double division
    DuckDB replays — so the Python decode path gets a FULL value
    oracle over real binary parsing."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math as _math

        import numpy as _np
        import pandas as _pd

        _WS = b" \t\r\n\x0b\x0c"

        def parse_header(buf: bytes):
            if len(buf) < 2 or buf[:2] != b"P6":
                return None
            i, vals = 2, []
            while len(vals) < 3:
                while i < len(buf):
                    c = buf[i : i + 1]
                    if c in _WS:
                        i += 1
                    elif c == b"#":
                        j = buf.find(b"\n", i)
                        if j < 0:
                            return None
                        i = j + 1
                    else:
                        break
                j = i
                while j < len(buf) and buf[j : j + 1].isdigit():
                    j += 1
                if j == i:
                    return None
                vals.append(int(buf[i:j]))
                i = j
            if i >= len(buf) or buf[i : i + 1] not in _WS:
                return None  # spec: single whitespace byte, then raster
            return vals[0], vals[1], vals[2], i + 1

        BAD = (False, None, None, None, None, None)

        def decode(p):
            if p is None:
                return BAD
            buf = bytes(p)
            hdr = parse_header(buf)
            if hdr is None:
                return BAD
            w, h, mx, off = hdr
            if w <= 0 or h <= 0 or not (0 < mx < 65536):
                return BAD
            bpp = 1 if mx < 256 else 2
            need = w * h * 3 * bpp
            data = buf[off : off + need]
            if len(data) < need:
                return BAD
            arr = _np.frombuffer(data, dtype=_np.uint8 if bpp == 1 else ">u2")
            s = int(arr.astype(_np.int64).sum())
            n = int(arr.size)
            return (True, w, h, mx, n, _math.floor((s / n) * 1e6))

        for pdf in batches:
            out = [decode(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ok": _pd.Series([o[0] for o in out], dtype="bool"),
                    "width": _pd.Series([o[1] for o in out], dtype="Int32"),
                    "height": _pd.Series([o[2] for o in out], dtype="Int32"),
                    "maxval": _pd.Series([o[3] for o in out], dtype="Int32"),
                    "n_px": _pd.Series([o[4] for o in out], dtype="Int64"),
                    "mean_pixel_e6": _pd.Series(
                        [o[5] for o in out], dtype="Int64"
                    ),
                }
            )

    return media.mapInPandas(dec, schema=PPM_DECODED_SCHEMA)


def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL decode: synthesize P6 bytes per document →
    pure-numpy parse back out — header tokenizer, raster bounds check,
    malformed-input flagging, all value-oracled (the oracle replays
    the synthesis rule in closed form; the Spark side must actually
    round-trip the binary to agree)."""
    d = load_table(spark, sf_dir, "documents")
    return decode_ppm(synthesize_ppm_media(d))


PPM_DECODE_SQL = f"""
WITH base AS (
  SELECT doc_id AS media_id,
         {PPM_W_BASE} + doc_id % {PPM_W_MOD} AS w,
         {PPM_H_BASE} + doc_id % {PPM_H_MOD} AS h
  FROM documents
), px AS (
  SELECT media_id, w, h, w * h * 3 AS n,
         list_sum(list_transform(range(0, w * h * 3),
                                 i -> (media_id * 31 + i * 7) % 256)) AS s
  FROM base
  WHERE media_id % {PPM_CORRUPT_EVERY} <> 0
)
SELECT media_id, TRUE AS ok,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(255 AS INT) AS maxval, CAST(n AS BIGINT) AS n_px,
       CAST(floor((CAST(s AS DOUBLE) / n) * 1e6) AS BIGINT) AS mean_pixel_e6
FROM px
UNION ALL
SELECT doc_id AS media_id, FALSE AS ok,
       NULL AS width, NULL AS height, NULL AS maxval,
       NULL AS n_px, NULL AS mean_pixel_e6
FROM documents WHERE doc_id % {PPM_CORRUPT_EVERY} = 0
"""


# --------------------------------------------------------------------------
# REAL resize: nearest-neighbor downsample of decoded P6 rasters (r11)
# --------------------------------------------------------------------------

PPM_RESIZE_SIDE = 8  # thumbnail bound: longest output side

PPM_RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("out_w", T.IntegerType(), True),
        T.StructField("out_h", T.IntegerType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("sum_px", T.LongType(), True),
        T.StructField("mean_pixel_e6", T.LongType(), True),
    ]
)


def resize_ppm(media: DataFrame, max_side: int = PPM_RESIZE_SIDE) -> DataFrame:
    """REAL image resize over the binary column: parse the P6 payload
    (the same spec-faithful header tokenizer as decode_ppm) and
    nearest-neighbor-downsample the raster in pure numpy so the longest
    side is ≤ ``max_side`` (never upscales).

    The geometry is INTEGER-EXACT end to end, so a SQL oracle can
    replay it in closed form: out_w = w if max(w,h) ≤ side else
    max(1, (w·side) // max(w,h)) (same for out_h), and output pixel
    (y, x, c) samples source index ((y·h)//out_h · w + (x·w)//out_w)·3
    + c — the standard floor nearest-neighbor map, done with numpy
    fancy-indexing per image, no Python pixel loop. Metrics are the
    resized raster's integer pixel sum plus mean_pixel_e6 =
    floor((s/n)·1e6), the same IEEE double division DuckDB performs.

    Malformed payloads (bad magic, truncated header, short raster,
    out-of-range maxval) yield ok=false rows with NULL metrics — never
    an exception (the decode_ppm rule: one corrupt image must not kill
    a 100 TB stage). 16-bit rasters (maxval > 255) resize on big-endian
    u16 samples, same as the decoder."""
    side = max_side

    def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math as _math

        import numpy as _np
        import pandas as _pd

        _WS = b" \t\r\n\x0b\x0c"

        def parse_header(buf: bytes):
            if len(buf) < 2 or buf[:2] != b"P6":
                return None
            i, vals = 2, []
            while len(vals) < 3:
                while i < len(buf):
                    c = buf[i : i + 1]
                    if c in _WS:
                        i += 1
                    elif c == b"#":
                        j = buf.find(b"\n", i)
                        if j < 0:
                            return None
                        i = j + 1
                    else:
                        break
                j = i
                while j < len(buf) and buf[j : j + 1].isdigit():
                    j += 1
                if j == i:
                    return None
                vals.append(int(buf[i:j]))
                i = j
            if i >= len(buf) or buf[i : i + 1] not in _WS:
                return None  # spec: single whitespace byte, then raster
            return vals[0], vals[1], vals[2], i + 1

        BAD = (False, None, None, None, None, None)

        def resize(p):
            if p is None:
                return BAD
            buf = bytes(p)
            hdr = parse_header(buf)
            if hdr is None:
                return BAD
            w, h, mx, off = hdr
            if w <= 0 or h <= 0 or not (0 < mx < 65536):
                return BAD
            bpp = 1 if mx < 256 else 2
            need = w * h * 3 * bpp
            data = buf[off : off + need]
            if len(data) < need:
                return BAD
            arr = (
                _np.frombuffer(data, dtype=_np.uint8 if bpp == 1 else ">u2")
                .astype(_np.int64)
                .reshape(h, w, 3)
            )
            m = max(w, h)
            if m <= side:
                ow, oh = w, h
            else:
                ow = max(1, (w * side) // m)
                oh = max(1, (h * side) // m)
            ys = (_np.arange(oh) * h) // oh
            xs = (_np.arange(ow) * w) // ow
            out = arr[ys][:, xs]
            s = int(out.sum())
            n = int(out.size)
            return (True, ow, oh, n, s, _math.floor((s / n) * 1e6))

        for pdf in batches:
            outs = [resize(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ok": _pd.Series([o[0] for o in outs], dtype="bool"),
                    "out_w": _pd.Series([o[1] for o in outs], dtype="Int32"),
                    "out_h": _pd.Series([o[2] for o in outs], dtype="Int32"),
                    "n_px": _pd.Series([o[3] for o in outs], dtype="Int64"),
                    "sum_px": _pd.Series([o[4] for o in outs], dtype="Int64"),
                    "mean_pixel_e6": _pd.Series(
                        [o[5] for o in outs], dtype="Int64"
                    ),
                }
            )

    return media.mapInPandas(rz, schema=PPM_RESIZED_SCHEMA)


def multimodal_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL resize: synthesize P6 bytes per document →
    pure-numpy parse + nearest-neighbor downsample. The oracle replays
    the synthesis rule THROUGH the integer NN map in closed form, so
    the Spark side must round-trip real binary and resample the actual
    raster to agree — a full value oracle over a real image kernel,
    including the corrupt-every-50th flag rows."""
    d = load_table(spark, sf_dir, "documents")
    return resize_ppm(synthesize_ppm_media(d))


# Closed-form replay of synth → parse → NN-downsample: output pixel i of
# an (out_w × out_h) thumbnail decomposes as y = i // (out_w·3),
# x = (i % (out_w·3)) // 3, c = i % 3; its source index is
# ((y·h)//out_h · w + (x·w)//out_w)·3 + c and the synthesized value at
# source index k is (media_id·31 + k·7) % 256. All-integer geometry →
# bit-exact across engines; only mean_pixel_e6 touches doubles (same
# IEEE division both sides).
PPM_RESIZE_SQL = f"""
WITH base AS (
  SELECT doc_id AS media_id,
         {PPM_W_BASE} + doc_id % {PPM_W_MOD} AS w,
         {PPM_H_BASE} + doc_id % {PPM_H_MOD} AS h
  FROM documents
  WHERE doc_id % {PPM_CORRUPT_EVERY} <> 0
), dims AS (
  SELECT media_id, w, h,
         CASE WHEN GREATEST(w, h) <= {PPM_RESIZE_SIDE} THEN w
              ELSE GREATEST(1, (w * {PPM_RESIZE_SIDE}) // GREATEST(w, h))
         END AS ow,
         CASE WHEN GREATEST(w, h) <= {PPM_RESIZE_SIDE} THEN h
              ELSE GREATEST(1, (h * {PPM_RESIZE_SIDE}) // GREATEST(w, h))
         END AS oh
  FROM base
), summed AS (
  SELECT media_id, ow, oh, ow * oh * 3 AS n,
         list_sum(list_transform(range(0, ow * oh * 3), i ->
           (media_id * 31
            + ((((i // (ow * 3)) * h) // oh) * w
               + (((i % (ow * 3)) // 3) * w) // ow) * 3 * 7
            + (i % 3) * 7) % 256)) AS s
  FROM dims
)
SELECT media_id, TRUE AS ok,
       CAST(ow AS INT) AS out_w, CAST(oh AS INT) AS out_h,
       CAST(n AS BIGINT) AS n_px, CAST(s AS BIGINT) AS sum_px,
       CAST(floor((CAST(s AS DOUBLE) / n) * 1e6) AS BIGINT) AS mean_pixel_e6
FROM summed
UNION ALL
SELECT doc_id AS media_id, FALSE AS ok,
       NULL AS out_w, NULL AS out_h, NULL AS n_px,
       NULL AS sum_px, NULL AS mean_pixel_e6
FROM documents WHERE doc_id % {PPM_CORRUPT_EVERY} = 0
"""


# --------------------------------------------------------------------------
# REAL perceptual hash: average-hash over decoded P6 rasters (r12)
# --------------------------------------------------------------------------

PHASH_GRID = 8  # canonical thumbnail grid: 8×8 → 64-bit fingerprint
PHASH_GROUP = 4  # re-encodings per scene in the synthesized corpus

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("phash_hi", T.LongType(), True),
        T.StructField("phash_lo", T.LongType(), True),
    ]
)


def phash_ppm(media: DataFrame, grid: int = PHASH_GRID) -> DataFrame:
    """REAL perceptual hash over the binary column (r12 — the third leg
    after decode_ppm (r10) and resize_ppm (r11)): parse the P6 payload,
    nearest-neighbor-resample to a FIXED ``grid×grid`` canonical
    thumbnail (aspect-destroying on purpose — two encodings of one
    scene at different resolutions must land on the same grid), and
    average-hash it: per-cell integer luma = R+G+B, bit j set iff
    luma_j·grid² > Σluma (the strict-mean threshold, all-integer so a
    SQL oracle replays it bit-exactly), packed little-endian into two
    BIGINT halves (phash_lo bits 0-31, phash_hi bits 32-63 — two
    halves, not one 64-bit value, because bit 63 would overflow signed
    BIGINT identically in neither engine).

    The fixed-grid NN map is the resize_ppm map with out dims pinned:
    cell (Y, X, c) samples source ((Y·h)//grid, (X·w)//grid, c); a
    source smaller than the grid canonicalizes by index repetition —
    same formula, no special case. 16-bit rasters (maxval > 255) hash
    on big-endian u16 samples, like the decoder. Malformed payloads
    (bad magic, truncated header, short raster) yield ok=false rows
    with NULL hash halves — flagged, never thrown (the decode_ppm
    rule: one corrupt image must not kill a 100 TB stage).

    Scale shape: one Arrow-batched mapInPandas pass, constant work per
    item (grid² samples whatever the source resolution), output 26
    bytes/row; the downstream groupBy keys on two 8-byte ints (never
    the binary column — the module-doc rule)."""
    g = grid

    def ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        _WS = b" \t\r\n\x0b\x0c"

        def parse_header(buf: bytes):
            if len(buf) < 2 or buf[:2] != b"P6":
                return None
            i, vals = 2, []
            while len(vals) < 3:
                while i < len(buf):
                    c = buf[i : i + 1]
                    if c in _WS:
                        i += 1
                    elif c == b"#":
                        j = buf.find(b"\n", i)
                        if j < 0:
                            return None
                        i = j + 1
                    else:
                        break
                j = i
                while j < len(buf) and buf[j : j + 1].isdigit():
                    j += 1
                if j == i:
                    return None
                vals.append(int(buf[i:j]))
                i = j
            if i >= len(buf) or buf[i : i + 1] not in _WS:
                return None
            return vals[0], vals[1], vals[2], i + 1

        BAD = (False, None, None)

        def avg_hash(p):
            if p is None:
                return BAD
            buf = bytes(p)
            hdr = parse_header(buf)
            if hdr is None:
                return BAD
            w, h, mx, off = hdr
            if w <= 0 or h <= 0 or not (0 < mx < 65536):
                return BAD
            bpp = 1 if mx < 256 else 2
            need = w * h * 3 * bpp
            data = buf[off : off + need]
            if len(data) < need:
                return BAD
            arr = (
                _np.frombuffer(data, dtype=_np.uint8 if bpp == 1 else ">u2")
                .astype(_np.int64)
                .reshape(h, w, 3)
            )
            ys = (_np.arange(g) * h) // g
            xs = (_np.arange(g) * w) // g
            lumas = arr[ys][:, xs].sum(axis=2).ravel()  # g*g ints, row-major
            total = int(lumas.sum())
            bits = (lumas * (g * g)) > total  # strict mean threshold
            lo = int(
                (bits[:32].astype(_np.int64) << _np.arange(32, dtype=_np.int64)).sum()
            )
            hi = int(
                (bits[32:64].astype(_np.int64) << _np.arange(32, dtype=_np.int64)).sum()
            )
            return (True, hi, lo)

        for pdf in batches:
            outs = [avg_hash(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ok": _pd.Series([o[0] for o in outs], dtype="bool"),
                    "phash_hi": _pd.Series([o[1] for o in outs], dtype="Int64"),
                    "phash_lo": _pd.Series([o[2] for o in outs], dtype="Int64"),
                }
            )

    return media.mapInPandas(ph, schema=PHASH_SCHEMA)


def synthesize_ppm_variants(documents: DataFrame) -> DataFrame:
    """Deterministic P6 corpus WITH planted re-encodings: documents are
    grouped into scenes of ``PHASH_GROUP`` consecutive doc_ids; each
    member encodes the SAME 8×8 block pattern at a DIFFERENT resolution
    (member s: w = 8(s+1), h = 8(s+2) — both multiples of the phash
    grid, so the fixed-grid NN resample recovers the block pattern
    exactly and value-identical scenes collide by construction). Block
    (by, bx, channel c) of scene ``grp`` has value
    (grp·31 + (by·8+bx)·7 + c·11) % 256 — replayable closed-form in
    SQL. Every ``PPM_CORRUPT_EVERY``-th payload is truncated to its
    magic bytes (the malformed case the hash must flag, not throw on).
    Self-contained closure, like synthesize_ppm_media."""
    group, grid = PHASH_GROUP, PHASH_GRID
    corrupt_every = PPM_CORRUPT_EVERY

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            ids, payloads = [], []
            for mid in pdf["doc_id"]:
                mid = int(mid)
                grp, s = mid // group, mid % group
                w, h = grid * (s + 1), grid * (s + 2)
                ys = (_np.arange(h) * grid) // h
                xs = (_np.arange(w) * grid) // w
                j = ys[:, None] * grid + xs[None, :]  # block index per pixel
                px = (
                    grp * 31
                    + j[:, :, None] * 7
                    + _np.arange(3, dtype=_np.int64)[None, None, :] * 11
                ) % 256
                payload = b"P6\n%d %d\n255\n" % (w, h) + px.astype(
                    _np.uint8
                ).tobytes()
                if mid % corrupt_every == 0:
                    payload = payload[:2]
                ids.append(mid)
                payloads.append(payload)
            yield _pd.DataFrame(
                {
                    "media_id": _pd.Series(ids, dtype="int64"),
                    "payload": _pd.Series(payloads, dtype=object),
                }
            )

    return documents.select("doc_id").mapInPandas(
        gen, schema="media_id long, payload binary"
    )


def multimodal_ppm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image dedup: synthesize P6 re-encodings →
    decode + canonical 8×8 NN resample + average-hash → group on the
    64-bit fingerprint. Value-identical scenes encoded at four
    different resolutions collide (n_copies counts them; keep_media_id
    is the min — the curation keep-rule), malformed payloads surface as
    flagged singleton rows with NULL hash halves. The oracle replays
    synthesis → fixed-grid NN map → strict-mean threshold → bit packing
    entirely in closed-form integer SQL, so the Spark side must
    round-trip real binary and hash the actual raster to agree."""
    d = load_table(spark, sf_dir, "documents")
    hashed = phash_ppm(synthesize_ppm_variants(d))
    # r12: the ok/flagged union ran the synth+decode+hash Python
    # pipeline TWICE (unions don't share branch subtrees — the plan
    # carried 8 EvalPython nodes). One grouped pass replaces it: ok
    # rows group on their (non-NULL) hash halves as before, flagged
    # rows carry NULL halves plus their own media_id as a salt key, so
    # each stays a singleton (count == 1 == the old literal) — row set
    # and schema are bit-identical, Python passes 2 → 1.
    return (
        hashed.groupBy(
            "phash_hi",
            "phash_lo",
            F.when(~F.col("ok"), F.col("media_id")).alias("_flag"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("media_id").alias("keep_media_id"),
        )
        .select("phash_hi", "phash_lo", "n_copies", "keep_media_id")
    )


# Closed-form replay: scene grp's canonical 8×8 luma at cell j is
# Σ_c (grp·31 + j·7 + c·11) % 256 — the fixed-grid NN map recovers
# block j exactly because every synthesized dimension is a multiple of
# the grid (see synthesize_ppm_variants). Bits pack little-endian into
# two BIGINT halves; DuckDB lists are 1-indexed, hence lumas[j+1].
PPM_PHASH_SQL = f"""
WITH okm AS (
  SELECT doc_id AS media_id, doc_id // {PHASH_GROUP} AS grp
  FROM documents WHERE doc_id % {PPM_CORRUPT_EVERY} <> 0
), lum AS (
  SELECT media_id,
         list_transform(range(0, {PHASH_GRID * PHASH_GRID}), j ->
           (grp*31 + j*7) % 256
           + (grp*31 + j*7 + 11) % 256
           + (grp*31 + j*7 + 22) % 256) AS lumas
  FROM okm
), bits AS (
  SELECT media_id,
         list_transform(range(0, {PHASH_GRID * PHASH_GRID}), j ->
           CASE WHEN lumas[CAST(j + 1 AS INT)] * {PHASH_GRID * PHASH_GRID}
                     > CAST(list_sum(lumas) AS BIGINT)
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS b
  FROM lum
), hashed AS (
  SELECT media_id,
         CAST(list_sum(list_transform(range(0, 32), j ->
           b[CAST(j + 33 AS INT)] * (CAST(1 AS BIGINT) << j))) AS BIGINT)
           AS phash_hi,
         CAST(list_sum(list_transform(range(0, 32), j ->
           b[CAST(j + 1 AS INT)] * (CAST(1 AS BIGINT) << j))) AS BIGINT)
           AS phash_lo
  FROM bits
)
SELECT phash_hi, phash_lo, CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(media_id) AS keep_media_id
FROM hashed GROUP BY phash_hi, phash_lo
UNION ALL
SELECT CAST(NULL AS BIGINT) AS phash_hi, CAST(NULL AS BIGINT) AS phash_lo,
       CAST(1 AS BIGINT) AS n_copies, doc_id AS keep_media_id
FROM documents WHERE doc_id % {PPM_CORRUPT_EVERY} = 0
"""


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAYLOAD-fingerprint dedup: normalize → content hash → group.

    This is the TEXT-payload leg of the dedup family (normalize =
    lowercase + whitespace-collapse of the utf-8 payload, hash = the
    engine's portable 60-bit md5); the IMAGE leg — a real perceptual
    hash over decoded rasters — is ``multimodal_ppm_phash`` (r12),
    which decodes, canonicalizes to an 8×8 grid, and average-hashes so
    re-encoded/resized copies collide. Both share the grouping shape:
    groupBy on an 8-byte hash (NEVER on the binary column itself — the
    module-doc rule), emitting every group with its copy count and the
    canonical (minimum) media_id a curation pass would keep (the
    n_copies >= 2 slice is the duplicate set; singletons stay so the
    output is the full keep-table, non-vacuous at any SF).

    Scale shape: one map pass (normalize + hash, constant per-item
    work), one 8-byte-key groupBy with map-side combine, output
    bounded by the number of distinct GROUPS.

    Whitespace runs collapse on the registry's one class (WS_RUN), so a
    payload containing a vertical tab hashes the same in both engines."""
    d = load_table(spark, sf_dir, "documents")
    media = synthesize_media(d)
    norm = F.trim(F.regexp_replace(mrl_lower(F.decode(F.col("payload"), "UTF-8")), WS_RUN, " "))
    return (
        media.select("media_id", md5_60bit(norm).alias("phash"))
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("media_id").alias("keep_media_id"),
        )
    )


# synthesize_media's payload is encode(text, 'utf-8'), so decoding it
# back is exactly `text` — the oracle normalizes the text directly.
_SQL_NORM = f"trim(regexp_replace(lower(text), '{WS_RUN}', ' ', 'g'), ' ')"
PHASH_DEDUP_SQL = f"""
WITH hashed AS (
  SELECT doc_id AS media_id,
         {sql_md5_60bit(_SQL_NORM)}
           AS phash
  FROM documents
)
SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(media_id) AS keep_media_id
FROM hashed GROUP BY phash
"""


MULTIMODAL_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query("multimodal_bytes", multimodal_bytes, MULTIMODAL_BYTES_SQL, "binary column metrics"),
        Query(
            "multimodal_phash_dedup",
            multimodal_phash_dedup,
            PHASH_DEDUP_SQL,
            "normalize→hash→group image-dedup shape over the binary payload",
        ),
        Query(
            "multimodal_decode_stub",
            multimodal_decode_stub,
            DECODE_STUB_SQL,
            "mapInPandas decode plumbing (value-checked)",
        ),
        Query(
            "multimodal_frame_sample",
            multimodal_frame_sample,
            FRAME_SAMPLE_SQL,
            "1→N frame sampling (mapInPandas, value-checked)",
        ),
        Query(
            "multimodal_resize_stub",
            multimodal_resize_stub,
            RESIZE_STUB_SQL,
            "thumbnail-resize plumbing (mapInPandas, value-checked)",
        ),
        Query(
            "multimodal_ppm_decode",
            multimodal_ppm_decode,
            PPM_DECODE_SQL,
            "REAL pure-numpy PPM(P6) binary decode round-trip (value-checked)",
        ),
        Query(
            "multimodal_ppm_resize",
            multimodal_ppm_resize,
            PPM_RESIZE_SQL,
            "REAL nearest-neighbor P6 raster downsample (value-checked)",
        ),
        Query(
            "multimodal_ppm_phash",
            multimodal_ppm_phash,
            PPM_PHASH_SQL,
            "REAL average-hash image dedup over decoded P6 rasters (value-checked)",
        ),
    ]
}
